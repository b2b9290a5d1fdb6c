"""Training-data curation operators (EXT scope, BASELINE.json north star).

The three operations every large-scale LLM training-data pipeline runs after
dedup/quality filtering, expressed as declarative DataFrame algebra:

- benchmark decontamination: drop training documents that share any token
  n-gram with an evaluation/benchmark set (the standard n-gram-overlap
  decontamination from GPT-3/PaLM data cards). At 100 TB the benchmark
  n-gram set is tiny (benchmarks are small by construction) -> broadcast
  anti/semi join against the train side's exploded n-grams; the train corpus
  is scanned once, narrow, with no self-shuffle.
- sequence packing: assign documents, in a deterministic order, to fixed
  token-budget training sequences. Implemented as a distributed prefix sum
  (partition-local cumsum + tiny offset table) so no global single-partition
  window appears at scale.
- stratified sampling: deterministic per-stratum hash sampling (rate per
  language/source). Hash-mod sampling is reproducible across runs and
  engines — the property that matters when a 100 TB sample must be
  re-derivable — unlike `df.sample()`, whose output depends on partitioning.

The reference (/root/reference) has no curation surface at all (its only
table op chain is filter+project, TransactionProcessor.java:174-189); these
extend the engine for the LLM-data-pipeline scope.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.functions.portable import (
    hash_uniform,
    portable_hash64,
)
from flink_kafka_table_api_spark.operators.dedup import shingles
from flink_kafka_table_api_spark.operators.text import (
    token_count,
    tokens,
    tokens_sql,
)
from flink_kafka_table_api_spark.parallelism import ensure_parallelism


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 5,
    keep_contaminated: bool = False,
) -> DataFrame:
    """N-gram-overlap benchmark decontamination.

    A train doc is contaminated iff it shares >=1 distinct token ``ngram_n``-
    gram with ANY benchmark doc. Returns the surviving train rows (or, with
    ``keep_contaminated=True``, the flagged rows with their overlap count —
    the audit view data teams review before dropping).

    Scale shape: the benchmark n-gram set is aggregated tiny (distinct gram
    strings hashed to 60-bit ints) and broadcast; the train side explodes
    n-grams in the same narrow pass as the scan, joins against the broadcast
    set, and aggregates matches per doc — one shuffle on ``id_col`` only for
    the audit view; the keep path is a broadcast anti-join with no shuffle.
    """
    train = ensure_parallelism(train)
    bench_grams = (
        benchmark.select(F.explode(shingles(text_col, ngram_n)).alias("__g"))
        .select(portable_hash64(F.col("__g")).alias("__gh"))
        .distinct()
    )
    train_grams = train.select(
        F.col(id_col), F.explode(shingles(text_col, ngram_n)).alias("__g")
    ).select(F.col(id_col), portable_hash64(F.col("__g")).alias("__gh"))
    if keep_contaminated:
        return (
            train_grams.join(F.broadcast(bench_grams), "__gh")
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("overlap_ngrams"))
        )
    hit_ids = train_grams.join(F.broadcast(bench_grams), "__gh").select(id_col)
    return train.join(hit_ids, id_col, "left_anti")


def bloom_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 5,
    m_bits: int = 1 << 20,
    seeds: tuple[int, ...] = (0x9E3779B9, 0x85EBCA6B, 0xC2B2AE35),
    keep_contaminated: bool = False,
) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination — EXACT results (same
    contract as :func:`decontaminate`), different scale posture.

    Where :func:`decontaminate` broadcasts the benchmark's distinct n-gram
    hash set, this broadcasts a FIXED-SIZE Bloom bitmap instead:
    ``m_bits`` bits as ``m_bits/64`` bit_or-aggregated longs (128 KiB at
    the default 2^20), regardless of how many grams the benchmark holds.
    That is the difference that matters when the "benchmark" is itself
    large — full eval-suite unions, held-out shards, or another corpus:
    at ~100 M grams the exact hash set is ~800 MB (not broadcastable);
    the bitmap is still 128 KiB.

    Exactness is preserved by a verify stage: Bloom membership (all
    ``len(seeds)`` probe bits set) only nominates CANDIDATE grams, and
    candidates are then equi-joined against the true benchmark gram
    table — a shuffle that carries only the candidate grams (true hits +
    the ~(1-e^{-kn/m})^k false-positive sliver), never the train corpus.

    Everything is codegen'd expression algebra: the bitmap build is
    explode -> pmod -> groupBy(word).bit_or(mask); the probe is a
    broadcast join on word index. No UDFs, no driver-side bloom object.
    """
    train = ensure_parallelism(train)

    def probe_cols(gram: Column) -> list[Column]:
        # k independent probes: xxhash64 seeded by a distinct constant per
        # probe (internal only — exactness never depends on the hash)
        out = []
        for s in seeds:
            pos = F.pmod(F.xxhash64(F.lit(s), gram), F.lit(m_bits))
            # call_function: the Python shiftleft wrapper only accepts a
            # literal int shift, but the SQL function takes expressions
            mask = F.call_function(
                "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
            )
            out.append(
                F.struct(
                    (pos / 64).cast("int").alias("__w"),
                    mask.alias("__m"),
                )
            )
        return out

    bench_grams = benchmark.select(
        F.explode(shingles(text_col, ngram_n)).alias("__g")
    ).distinct()
    bitmap = (
        bench_grams.select(F.explode(F.array(*probe_cols(F.col("__g")))).alias("__p"))
        .select(F.col("__p.__w").alias("__w"), F.col("__p.__m").alias("__m"))
        .groupBy("__w")
        .agg(F.bit_or("__m").alias("__bits"))
    )

    train_grams = train.select(
        F.col(id_col), F.explode(shingles(text_col, ngram_n)).alias("__g")
    )
    probes = train_grams.select(
        id_col, "__g",
        F.explode(F.array(*probe_cols(F.col("__g")))).alias("__p"),
    ).select(id_col, "__g", F.col("__p.__w").alias("__w"), F.col("__p.__m").alias("__m"))
    k = len(seeds)
    candidates = (
        probes.join(F.broadcast(bitmap), "__w")
        .filter(F.col("__m").bitwiseAND(F.col("__bits")) != 0)
        .groupBy(id_col, "__g")
        .agg(F.count("*").alias("__hits"))
        .filter(F.col("__hits") == k)  # every probe bit set -> candidate
        .select(id_col, "__g")
    )
    # exact verify: only candidate grams reach this (shuffle) join
    hits = candidates.join(bench_grams, "__g")
    if keep_contaminated:
        return hits.groupBy(id_col).agg(
            F.count("*").cast("long").alias("overlap_ngrams")
        )
    return train.join(hits.select(id_col).distinct(), id_col, "left_anti")


def pack_sequences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 256,
    num_buckets: int = 32,
    start_offset: int = 0,
    id_bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Deterministic fixed-budget sequence packing for training batches.

    Documents are laid out in ``id_col`` order along a global token axis; a
    document belongs to the sequence where it STARTS:
    ``seq_id = floor(cumsum_exclusive / budget)`` (boundary-straddling docs
    spill into the next budget window, exactly like causal-LM document
    packing with document-boundary carryover).

    ``start_offset`` places this frame's token axis AFTER tokens already
    packed elsewhere — the incremental-continuation hook: packing a stream
    batch-by-batch with the carried running total produces EXACTLY the
    layout a single full-corpus run produces (seq_id is a pure function of
    the global exclusive cumulative sum).

    Implemented as a distributed prefix sum: range-bucket the id space,
    cumsum within each bucket (parallel windows), then add per-bucket
    offsets from a tiny (``num_buckets``-row) running-total table joined by
    bucket id — no global single-partition window, so the layout step scales
    to any corpus size. Returns (doc_id, n_tokens, seq_id).
    """
    df = ensure_parallelism(df)
    sized = df.select(
        F.col(id_col), token_count(text_col).cast("long").alias("n_tokens")
    )
    # ``id_bounds``: a caller-known COVER of the id range (e.g. the
    # watermark interval a streaming batch finalized, or staged-file
    # min/max statistics), skipping the min/max aggregate job. Any cover
    # is exact: seq_id is a pure function of the global id-ordered
    # cumulative sum — bucket boundaries only spread the prefix-sum work,
    # they never appear in the output (a wider cover just leaves some
    # buckets empty). An empty frame under provided bounds flows through
    # the same plan to an empty result.
    if id_bounds is not None:
        lo, hi = id_bounds
    else:
        lo, hi = sized.agg(F.min(id_col), F.max(id_col)).first()
    if lo is None:  # empty input: empty layout, not a None-span crash
        return sized.select(
            id_col, "n_tokens", F.lit(None).cast("long").alias("seq_id")
        ).limit(0)
    hi = max(hi, lo)  # degenerate cover (single-id interval) stays valid
    span = max((hi - lo + 1 + num_buckets - 1) // num_buckets, 1)
    # `div`, not `/`: double division loses integer exactness above 2^53
    # (see corpus_shuffle) — bucket and sequence assignment must be exact.
    bucketed = sized.withColumn(
        "__bucket", F.expr(f"(`{id_col}` - {lo}) div {span}")
    )
    from pyspark.sql import Window

    local_w = (
        Window.partitionBy("__bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = bucketed.withColumn("__local_cum", F.sum("n_tokens").over(local_w))
    totals_w = (
        Window.orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        bucketed.groupBy("__bucket")
        .agg(F.sum("n_tokens").alias("__tot"))
        .withColumn("__offset", F.coalesce(F.sum("__tot").over(totals_w), F.lit(0)))
        .select("__bucket", "__offset")
    )
    return (
        local.join(F.broadcast(offsets), "__bucket")
        .select(
            id_col,
            "n_tokens",
            F.expr(
                f"({int(start_offset)} + __offset + __local_cum - n_tokens)"
                f" div {budget}"
            ).alias("seq_id"),
        )
    )


def stratified_sample(
    df: DataFrame,
    *,
    stratum_col: str,
    rates: Mapping[str, int],
    default_rate: int = 0,
    id_col: str = "doc_id",
    salt: str = "fkta-sample",
) -> DataFrame:
    """Deterministic per-stratum hash sampling.

    ``rates`` maps stratum value -> keep percentage (0-100). A row survives
    iff ``portable_hash64(salt || id) % 100 < rate(stratum)``. Fully
    reproducible: independent of partitioning, ordering, and engine (the
    DuckDB oracle reproduces the identical sample), and stable under corpus
    growth — adding documents never changes the keep/drop decision of
    existing ones. One narrow pass, no shuffle.
    """
    rate = F.lit(default_rate)
    for value, pct in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == value, F.lit(pct)).otherwise(rate)
    keep = hash_uniform(salt, F.col(id_col), 100) < rate
    return df.filter(keep)


def stratified_sample_keep_sql(
    stratum_expr: str,
    rates: Mapping[str, int],
    default_rate: int = 0,
    id_expr: str = "doc_id",
    salt: str = "fkta-sample",
) -> str:
    """DuckDB WHERE-clause fragment matching :func:`stratified_sample`."""
    cases = " ".join(
        f"WHEN {stratum_expr} = '{v}' THEN {p}" for v, p in sorted(rates.items())
    )
    h = (f"(('0x' || substr(md5('{salt}' || CAST({id_expr} AS VARCHAR)), 1, 15))"
         f"::BIGINT)")
    return f"(({h} % 100 + 100) % 100) < (CASE {cases} ELSE {default_rate} END)"


def corpus_mix(
    df: DataFrame,
    *,
    group_cols: tuple[str, ...] = ("source",),
    text_col: str = "text",
) -> DataFrame:
    """Token-mass mixture report per stratum: the table a data-mixing stage
    consumes to set per-domain sampling weights. One partial-aggregated
    shuffle on the (low-cardinality) group key."""
    df = ensure_parallelism(df)
    sized = df.select(*group_cols, token_count(text_col).cast("long").alias("__nt"))
    totals = sized.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__nt").cast("long").alias("n_tokens"),
    )
    grand = totals.agg(F.sum("n_tokens").alias("__g")).first()["__g"]
    return totals.select(
        *group_cols,
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.lit(float(grand)), 6).alias("token_share"),
    )


def temperature_mix(
    df: DataFrame,
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    temperature: float = 2.0,
    scale: float = 1.0,
    salt: str = "fkta-tmix",
) -> DataFrame:
    """Temperature-scaled source rebalancing — the multilingual/multi-domain
    mixing rule from mC4/mT5 (Xue et al. 2021 §3.1) and the Pile: target
    share of source s is n_s^(1/T) / sum_t n_t^(1/T), which up-weights
    low-resource sources as T grows (T=1 keeps natural proportions). Each
    document is then kept/dropped/REPEATED deterministically so the output
    hits the target shares at total size ``scale * N``: a document of
    source s appears floor(c_s) (+1 if its hash-uniform < frac(c_s)) times,
    where c_s = target_share_s * scale * N / n_s — repetition-based
    upsampling (epochs over small sources), hash-based downsampling, both
    reproducible across runs, partitionings, and engines.

    Cross-engine exactness (the oracle contract): ``temperature``
    must be a power of two, so n^(1/T) is a chain of sqrt calls — sqrt is
    IEEE correctly-rounded everywhere, while pow is NOT guaranteed to be
    and may differ between JVM and DuckDB in the last ulp. The per-source
    rate table is computed on the DRIVER from the (tiny, bounded) source
    counts with a source-name-ordered left-fold sum, rounded to 9
    decimals — the same accepted driver-decision pattern as k-means /
    connected components, and the same float recipe as the prefix-filter
    bounds. The per-row uniform is portable_hash64(salt:id) % 2^30 / 2^30
    (exact double division of exact integers).

    Residual cross-engine risk (documented, not hidden): the oracle
    RE-DERIVES the rate table inside DuckDB, whose round(x, 9) goes
    through a multiply-round-divide on doubles and can in principle
    differ from Python's Decimal.quantize(HALF_UP) by one ulp when the
    unrounded rate sits within an ulp of a 9-decimal half-way boundary —
    and a document whose uniform lands inside that ulp would flip a copy
    count. No observed corpus hits this (the gate corpus and the parity
    test's fixed SIZES corpus are both verified exact); a consumer who
    needs the guarantee unconditionally injects the driver-computed
    rates into the oracle as literals instead of re-rounding.

    Scale shape: one partial-aggregated count by source, a broadcast join
    of the rate table, a narrow hash + explode(sequence) projection —
    the corpus shuffles zero times. Returns (id_col, source_col, copy)
    with copy in 1..n_copies."""
    import math

    k = math.log2(temperature)
    if k != int(k) or k < 0:
        raise ValueError(
            f"temperature must be a power of two >= 1, got {temperature}"
        )
    raw_counts = [
        (r[0], r[1])
        for r in df.groupBy(source_col).agg(F.count("*").alias("n")).collect()
    ]
    if any(s is None for s, _ in raw_counts):
        raise ValueError(
            f"temperature_mix: NULL values in {source_col!r} — fill or "
            "filter them first (a null source has no defined target share, "
            "and the rate join would silently drop those documents)"
        )
    counts = sorted(raw_counts)
    n_total = sum(n for _, n in counts)

    def rootk(x: float) -> float:
        for _ in range(int(k)):
            x = math.sqrt(x)
        return x

    weights = [(s, rootk(float(n))) for s, n in counts]
    w_sum = 0.0
    for _, w in weights:  # source-name-ordered left fold (see docstring)
        w_sum += w
    # HALF_UP, not Python round() (banker's): Spark F.round and DuckDB
    # round() are both half-away-from-zero, and the oracle replays this
    # computation — ties must break the same way in all three places
    from decimal import ROUND_HALF_UP, Decimal

    def half_up_1e9(x: float) -> float:
        return float(Decimal(x).quantize(Decimal("1e-9"), ROUND_HALF_UP))

    rates = [
        (s, half_up_1e9(w / w_sum * scale * n_total / n))
        for (s, w), (_, n) in zip(weights, counts)
    ]
    spark = df.sparkSession
    rate_df = spark.createDataFrame(rates, f"{source_col} string, __c double")
    u = (
        hash_uniform(salt + ":", F.col(id_col), 1 << 30).cast("double")
        / F.lit(float(1 << 30))
    )
    n_copies = (
        F.floor("__c")
        + F.when(u < F.round(F.col("__c") - F.floor("__c"), 9), 1).otherwise(0)
    ).cast("int")
    return (
        df.select(id_col, source_col)
        .join(F.broadcast(rate_df), source_col)
        .withColumn("__nc", n_copies)
        .filter(F.col("__nc") >= 1)
        .select(
            id_col,
            source_col,
            F.explode(F.sequence(F.lit(1), F.col("__nc"))).alias("copy"),
        )
    )


def temperature_mix_sql(
    *,
    table: str = "documents",
    source_col: str = "source",
    id_col: str = "doc_id",
    temperature: float = 2.0,
    scale: float = 1.0,
    salt: str = "fkta-tmix",
) -> str:
    """DuckDB replay of :func:`temperature_mix`, float-exact by the same
    construction (sqrt chain, source-ordered left fold via list_reduce —
    DuckDB's no-init fold starts acc = first element, identical to a
    0.0-seeded left fold since 0.0 + x == x — HALF_UP rounding, portable
    md5 uniform). Validated against the operator by
    tests/test_temperature_mix.py."""
    import math

    k = int(math.log2(temperature))
    root = "CAST(n AS DOUBLE)"
    for _ in range(k):
        root = f"sqrt({root})"
    h = (f"(('0x' || substr(md5('{salt}:' || CAST({id_col} AS VARCHAR)),"
         f" 1, 15))::BIGINT)")
    return f"""
    WITH counts AS (
      SELECT {source_col} AS source, COUNT(*) AS n
      FROM {table} GROUP BY 1
    ), w AS (
      SELECT source, n, {root} AS w FROM counts
    ), tot AS (
      SELECT list_reduce(list(w ORDER BY source), (a, b) -> a + b) AS ws,
             SUM(n) AS nt
      FROM w
    ), rates AS (
      -- CAST: decimal-point literals are DECIMAL in DuckDB; the driver
      -- computes these products in IEEE doubles
      SELECT source,
             round(w / ws * CAST({scale!r} AS DOUBLE) * nt / n, 9) AS c
      FROM w, tot
    ), scored AS (
      SELECT d.{id_col} AS {id_col}, d.{source_col} AS source, r.c,
             CAST({h} % 1073741824 AS DOUBLE)
               / CAST(1073741824 AS DOUBLE) AS u
      FROM {table} d JOIN rates r ON d.{source_col} = r.source
    ), copies AS (
      SELECT {id_col}, source,
             CAST(floor(c) + CASE WHEN u < round(c - floor(c), 9)
                                  THEN 1 ELSE 0 END AS INT) AS nc
      FROM scored
    )
    SELECT {id_col}, source AS {source_col}, CAST(copy AS INT) AS copy
    FROM copies, unnest(generate_series(1, nc)) AS t(copy)
    WHERE nc >= 1
    """


def corpus_shuffle(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    salt: str = "fkta-shuffle",
    num_buckets: int = 32,
) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets a
    stable 1-based ``shuffle_pos`` along the portable-hash order of its id.
    Reproducible across runs, engines, and partitionings — the property a
    training dataloader needs that ``df.orderBy(rand())`` cannot give.

    A naive ``row_number() OVER (ORDER BY hash)`` is a single-partition
    window; instead the 60-bit hash space is range-bucketed and positions
    are assigned with the same distributed prefix-sum shape as
    pack_sequences: per-bucket local ranks (parallel windows) + a tiny
    per-bucket offset table joined by bucket id. Scales to any corpus.
    """
    from pyspark.sql import Window

    df = ensure_parallelism(df)
    h = portable_hash64(
        F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
    )
    span = (1 << 60) // num_buckets  # portable_hash64 is 60-bit
    # Integer division: `/` on longs goes through double, which loses
    # integer precision above 2^53 and can flip a hash within ~128 of a
    # bucket boundary into the adjacent bucket — breaking the exact global
    # (hash, id) order the contract (and the oracle's row_number) defines.
    keyed = df.select(F.col(id_col), h.alias("__h")).withColumn(
        "__bucket", F.expr(f"__h div {span}")
    )
    local_w = Window.partitionBy("__bucket").orderBy("__h", id_col)
    local = keyed.withColumn("__rn", F.row_number().over(local_w))
    totals_w = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        keyed.groupBy("__bucket")
        .agg(F.count("*").alias("__n"))
        .withColumn("__offset", F.coalesce(F.sum("__n").over(totals_w), F.lit(0)))
        .select("__bucket", "__offset")
    )
    return (
        local.join(F.broadcast(offsets), "__bucket")
        .select(
            id_col,
            (F.col("__offset") + F.col("__rn")).cast("long").alias("shuffle_pos"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 30,
) -> DataFrame:
    """Vocabulary build + per-document out-of-vocabulary rate.

    Stage 1 builds the top-``vocab_size`` corpus vocabulary (token frequency,
    ties broken by token text — deterministic at the cut line); stage 2
    scores every document's fraction of tokens OUTSIDE that vocabulary. The
    standard pre-tokenizer health check before committing to a BPE vocab.

    Scale shape: the vocab is a full-corpus aggregate but its OUTPUT is tiny
    (vocab_size rows) — broadcast to the scoring join; the per-doc
    aggregation is keyed by doc id (partial+final). No driver-side state.
    """
    toks = ensure_parallelism(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("__c"))
        .orderBy(F.col("__c").desc(), F.col("tok"))
        .limit(vocab_size)
        .select("tok", F.lit(1).alias("__in"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(
                F.lit(1.0)
                - F.sum(F.coalesce(F.col("__in"), F.lit(0)))
                / F.count("*").cast("double"),
                6,
            ).alias("oov_rate"),
        )
    )


def source_token_cap(
    df: DataFrame,
    *,
    budget: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "fkta-cap",
) -> DataFrame:
    """Per-source token-budget capping: keep documents of each source in
    deterministic (hash-of-id) order until the source's cumulative token
    count reaches ``budget`` — how a mixture stage downsamples an
    over-represented domain to its token allocation while staying
    reproducible. A document is kept iff the tokens BEFORE it are under
    budget (the boundary document spills over, like pack_sequences).

    Scale shape: one window per source partition (no global window); the
    hash order means adding/removing other sources never changes a kept
    set."""
    from pyspark.sql import Window

    df = ensure_parallelism(df)
    sized = df.select(
        F.col(source_col),
        F.col(id_col),
        token_count(text_col).cast("long").alias("n_tokens"),
        portable_hash64(
            F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
        ).alias("__h"),
    )
    w = (
        Window.partitionBy(source_col)
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        sized.withColumn(
            "__before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .filter(F.col("__before") < budget)
        .select(source_col, id_col, "n_tokens")
    )


# ---------------------------------------------------------------------------
# PII redaction, RAG chunking, DSIR-style importance sampling
# ---------------------------------------------------------------------------

# Applied in order; every pattern stays inside the regex subset Java
# (Spark) and RE2 (DuckDB) interpret identically: character classes,
# bounded quantifiers, \d, \b — no backrefs, no lookaround.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\+\d{1,2} \d{3}-\d{4}\b", "<PHONE>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]

_PII_TAG_RE = "<(EMAIL|SSN|PHONE|IP)>"


def length_band_filter(
    df: DataFrame,
    *,
    group_col: str = "source",
    value_col: str = "n_chars",
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group length-band outlier filter: keep rows whose ``value_col``
    lies within the group's exact [lo, hi] quantile band. The standard
    curation pass that drops truncated fragments and concatenation
    monsters per SOURCE (a global cutoff misfires when sources have very
    different length profiles).

    Exact percentile (sort-based linear interpolation, same definition as
    DuckDB's quantile_cont) rather than approx_percentile: the bounds
    table is one row per group — the expensive side is the grouped
    percentile shuffle, whose map-side partials carry per-group value
    buffers. At true 100 TB one would switch to approx_percentile (fixed-
    size sketch partials) and accept the epsilon; the band SEMANTICS and
    the broadcast-join shape below are identical either way.
    """
    df = ensure_parallelism(df)
    bounds = df.groupBy(group_col).agg(
        F.percentile(value_col, F.lit(lo)).alias("__lo"),
        F.percentile(value_col, F.lit(hi)).alias("__hi"),
    )
    return (
        df.join(F.broadcast(bounds), group_col)
        .filter(
            (F.col(value_col) >= F.col("__lo"))
            & (F.col(value_col) <= F.col("__hi"))
        )
        .drop("__lo", "__hi")
    )


def pii_redact(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rule-based PII redaction: emails, SSNs, phone numbers, and IPv4
    addresses are replaced with typed tags, in a fixed pattern order (order
    matters — an SSN is also three digit runs a phone pattern could chew
    on). Pure Catalyst ``regexp_replace`` chain: one narrow pass, zero
    Python, zero shuffles — at 100 TB this runs at scan speed and is the
    shape every compliance pass (C4's badwords filter, CCNet's line
    filters) uses.

    Returns (id, clean_text, n_pii) where n_pii counts redaction tags in
    the final text."""
    clean = F.col(text_col)
    for pat, tag in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, tag)
    return df.select(
        F.col(id_col), clean.alias("clean_text")
    ).withColumn(
        "n_pii",
        F.regexp_count(F.col("clean_text"), F.lit(_PII_TAG_RE)).cast("long"),
    )


def pii_redact_sql(expr: str) -> str:
    """DuckDB rendering of the same redaction chain (same order)."""
    out = expr
    for pat, tag in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{tag}', 'g')"
    return out


def doc_chunks(
    df: DataFrame,
    *,
    window: int = 32,
    stride: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking (the RAG/embedding-prep shape):
    each document becomes ceil-spaced chunks of ``window`` tokens starting
    every ``stride`` tokens, so consecutive chunks overlap by
    ``window - stride`` tokens and the tail is never dropped.

    Narrow per-row explode — the fan-out factor is bounded by
    len/stride, no shuffle, no Python. At 100 TB chunking composes with
    the scan (filter pushdown above it still applies)."""
    if stride <= 0 or window <= 0 or stride > window:
        raise ValueError("need 0 < stride <= window")
    toks = tokens(F.col(text_col))
    sz = F.size(toks)
    n_chunks = F.when(
        sz <= window, F.lit(1)
    ).otherwise(F.lit(1) + F.ceil((sz - window) / F.lit(stride)))
    starts = F.sequence(F.lit(0), (n_chunks - 1).cast("int"))
    return (
        df.select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    starts,
                    lambda i: F.array_join(
                        F.slice(toks, i * stride + 1, window), " "
                    ),
                )
            ).alias("chunk_idx", "chunk_text"),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            "chunk_text",
        )
    )


def doc_chunks_sql(
    table: str, *, window: int = 32, stride: int = 24
) -> str:
    toks = tokens_sql("text")
    return f"""
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(
             list_slice(toks, i * {stride} + 1, i * {stride} + {window}),
             ' ') AS chunk_text
    FROM (
      SELECT doc_id, {toks} AS toks,
             unnest(generate_series(0,
               CASE WHEN len({toks}) <= {window} THEN 0
                    ELSE CAST(ceil((len({toks}) - {window})
                              / {stride}.0) AS INT) END)) AS i
      FROM {table}
    )
    """


def importance_weights(
    df: DataFrame,
    target: DataFrame,
    *,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "fkta-dsir",
) -> DataFrame:
    """DSIR-style hashed-feature importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    tokens hash into ``n_buckets`` buckets; the per-bucket add-one-smoothed
    probability ratio target/raw scores how target-like each raw document
    is. Documents are then importance-resampled by this weight to shift
    the corpus mixture toward the target domain.

    Portability: bucket probabilities come from exact integer counts, the
    per-bucket ratio is one IEEE double division rounded to 6 decimals,
    and per-doc averaging accumulates those 6-decimal values exactly in
    decimal — bit-identical across engines (no log-space math, whose libm
    rounding differs).

    Scale shape: the fitted ratio table is ``n_buckets`` rows -> broadcast;
    the corpus is scanned once to fit (an ingest-time cost, like the IVF
    index) and once to score, both narrow until the per-doc aggregate."""
    tok = F.explode(tokens(F.col(text_col))).alias("tok")
    bucket = (
        portable_hash64(F.concat(F.lit(f"{salt}:"), F.col("tok")))
        % n_buckets
    ).alias("bucket")

    t_toks = target.select(tok).select(bucket)
    r_toks = df.select(F.col(id_col), tok).select(id_col, bucket)
    t_counts = t_toks.groupBy("bucket").agg(F.count("*").alias("ct"))
    r_counts = r_toks.groupBy("bucket").agg(F.count("*").alias("cr"))
    t_total = t_toks.count()
    r_total = r_toks.count()
    ratio = (
        t_counts.join(r_counts, "bucket", "full_outer")
        .select(
            "bucket",
            F.round(
                ((F.coalesce("ct", F.lit(0)) + 1.0)
                 / F.lit(float(t_total + n_buckets)))
                / ((F.coalesce("cr", F.lit(0)) + 1.0)
                   / F.lit(float(r_total + n_buckets))),
                6,
            ).alias("ratio"),
        )
    )
    from flink_kafka_table_api_spark.functions.portable import dec_avg

    return (
        r_toks.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(F.round(dec_avg("ratio", "__a"), 6).alias("importance"))
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    pair_df: DataFrame,
    *,
    weights: tuple[int, int, int] = (80, 10, 10),
    salt: str = "fkta-split",
) -> DataFrame:
    """Leakage-safe train/val/test split: assign every document to a
    split BY ITS NEAR-DUP CLUSTER, not by its own id, so two
    near-duplicate documents can never land in different splits — the
    standard eval-contamination failure mode that per-row random splits
    produce whenever dedup is imperfect (the reason benchmark
    decontamination pipelines split after clustering; cf. the
    train/test-overlap analyses in the GPT-3 and Gopher data cards).

    ``pair_df`` is any (a, b) near-dup pair relation (e.g.
    lsh_verified_pairs); documents that appear in no pair form singleton
    clusters of themselves. The split decision is a deterministic hash
    of the CLUSTER label (salted, md5-portable): hash % 100 against
    integer percentage ``weights`` (train, val, test). Integer
    arithmetic end-to-end — reproducible across runs, partitionings, and
    engines, unlike randomSplit.

    Scale shape: connected_components on the sparse pair graph (see its
    docstring for the two execution paths), one left join of the corpus
    against the (tiny) cluster map, then a narrow codegen'd hash —
    no corpus self-shuffle. Whole clusters move together by
    construction, so rebalancing weights later re-assigns clusters
    atomically."""
    from flink_kafka_table_api_spark.operators.dedup import (
        connected_components,
    )

    t_train, t_val, t_test = weights
    if t_train + t_val + t_test != 100:
        raise ValueError(f"weights must sum to 100, got {weights}")
    clusters = connected_components(pair_df).select(
        F.col("id").alias(id_col), "cluster"
    )
    labeled = df.select(id_col).join(clusters, id_col, "left").select(
        F.col(id_col),
        F.coalesce("cluster", F.col(id_col)).alias("cluster"),
    )
    bucket = portable_hash64(
        F.concat(F.lit(salt + ":"), F.col("cluster").cast("string"))
    ) % 100
    return labeled.select(
        id_col,
        "cluster",
        F.when(bucket < t_train, "train")
        .when(bucket < t_train + t_val, "val")
        .otherwise("test")
        .alias("split"),
    )


def weighted_sample(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    weight_col: str,
    target_n: int,
    salt: str = "fkta-wsample",
) -> DataFrame:
    """Deterministic probability-proportional-to-size (PPS) Bernoulli
    sampling: row i is kept with probability p_i = min(1, target_n *
    w_i / W), so E[kept] ~= target_n and heavy rows (more tokens, higher
    quality, rarer source) are proportionally favored — the standard
    importance-aware subsampling step between uniform stratified_sample
    (fixed per-stratum rate, ignores row mass) and full DSIR importance
    reweighting (distribution matching). Survey sampling's classic
    Hansen-Hurwitz / Poisson-PPS design, made reproducible: the
    inclusion test is hash_uniform(salt:id) < p_i, so membership is
    stable across runs, partitionings, and engines.

    Cross-engine exactness contract: ``weight_col`` must be
    INTEGER-valued (token counts, byte lengths, repeat counts — the
    natural mass measures). W = SUM(w) is then an exact int64, each
    p_i = (w_i * target_n) / W is one exactly-rounded double division of
    exact integers computed identically in Spark and DuckDB, and the
    uniform is an exact dyadic rational — bit-equal membership with no
    rounding recipe needed. (Float weights would make W an
    accumulation-order-dependent sum; quantize them first.)

    Scale shape: ONE aggregate for W (a broadcast 1-row crossJoin — the
    corpus never shuffles), then a narrow hash-compare projection.
    Returns (id_col, weight_col, p) with p rounded to 6 for inspection;
    membership is decided on the unrounded double, identically in both
    engines."""
    w = F.col(weight_col)
    tot = df.agg(F.sum(w.cast("long")).alias("__w_total"))
    u = (
        hash_uniform(salt + ":", F.col(id_col), 1 << 30).cast("double")
        / F.lit(float(1 << 30))
    )
    p = F.least(
        F.lit(1.0),
        (w.cast("double") * F.lit(float(target_n))) / F.col("__w_total"),
    )
    return (
        df.select(id_col, weight_col)
        .crossJoin(F.broadcast(tot))
        .withColumn("__p", p)
        .filter(u < F.col("__p"))
        .select(
            id_col,
            F.col(weight_col).cast("long").alias(weight_col),
            F.round(F.col("__p"), 6).alias("p"),
        )
    )


def weighted_sample_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    weight_expr: str = "n_chars",
    weight_alias: str = "n_chars",
    target_n: int = 100,
    salt: str = "fkta-wsample",
) -> str:
    """DuckDB replay of :func:`weighted_sample` (same integer W, same
    IEEE division, same md5 uniform; membership bit-equal by
    construction)."""
    h = (f"(('0x' || substr(md5('{salt}:' || CAST({id_col} AS VARCHAR)),"
         f" 1, 15))::BIGINT)")
    return f"""
    WITH tot AS (
      SELECT SUM(CAST({weight_expr} AS BIGINT)) AS w_total FROM {table}
    ), scored AS (
      SELECT {id_col},
             CAST({weight_expr} AS BIGINT) AS {weight_alias},
             least(CAST(1.0 AS DOUBLE),
                   (CAST({weight_expr} AS DOUBLE)
                    * CAST({float(target_n)!r} AS DOUBLE)) / tot.w_total)
               AS p,
             CAST({h} % 1073741824 AS DOUBLE)
               / CAST(1073741824 AS DOUBLE) AS u
      FROM {table}, tot
    )
    SELECT {id_col}, {weight_alias}, round(p, 6) AS p
    FROM scored WHERE u < p
    """


def source_kl_divergence(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source distribution drift audit: KL(P_s || P_corpus) over
    unigram token distributions —

        KL(s) = sum over tokens t with count_s(t) > 0 of
                (c_s(t) / N_s) * ln( (c_s(t) * N) / (c(t) * N_s) )

    the corpus-monitoring primitive (which ingest source/shard/day has
    drifted from the mixture) that pairs with `corpus_mix`'s volume
    shares: mix tells you how MUCH each source contributes, KL tells you
    how DIFFERENT its text is. Sources that dominate the corpus score
    near 0 by construction; small off-distribution sources spike.

    Returns (source, n_tokens, distinct_tokens, kl_divergence) — one row
    per NON-NULL source with at least one token (integer-decided
    membership; a NULL source's tokens still count toward the corpus
    totals but the null-rejecting source join emits no row for them —
    identical in both engines, pinned in tests/test_r8_prevalidated.py);
    kl rounded to 6 decimals. Every ln/division argument is a single
    operation on exact integer counts (c_s*N and c*N_s stay far under
    2^53), and the per-source sum is an ascending-TOKEN ordered fold —
    the bigram_lm_score recipe — so the DuckDB oracle replays the
    identical IEEE sequence bit-for-bit.

    Scale shape: one explode feeding TWO keyed partial-agg shuffles
    ((source, token) counts; token corpus counts derived from the first
    aggregate, never a second corpus scan), one vocabulary-sized join on
    token, one per-source fold. Corpus totals ride along as exact
    integer sums — no driver collect. The fold's collect_list is
    bounded by per-source VOCABULARY (not corpus rows); at extreme
    vocabularies swap the ordered fold for decimal-accumulated F.sum,
    the pagerank escape hatch, at the cost of cross-engine bit equality.
    """
    from flink_kafka_table_api_spark.caching import tracked_persist
    from flink_kafka_table_api_spark.parallelism import ensure_parallelism

    df = ensure_parallelism(df)
    tok = df.select(
        F.col(source_col).alias("source"),
        F.explode(tokens(text_col)).alias("__t"),
    )
    # (source, token) counts — the single corpus-sized aggregate; the
    # three smaller relations below all derive from it
    cs = tracked_persist(
        tok.groupBy("source", "__t").agg(F.count("*").alias("__cs"))
    )
    ct = cs.groupBy("__t").agg(F.sum("__cs").alias("__c"))
    ns = cs.groupBy("source").agg(
        F.sum("__cs").alias("__ns"),
        F.count("*").alias("distinct_tokens"),
    )
    n_row = cs.agg(F.sum("__cs").alias("__n"))
    terms = (
        cs.join(ct, "__t")
        .join(F.broadcast(n_row))
        .join(ns, "source")
        .select(
            "source",
            "__ns",
            "distinct_tokens",
            "__t",
            (
                (F.col("__cs").cast("double") / F.col("__ns").cast("double"))
                * F.log(
                    (F.col("__cs") * F.col("__n")).cast("double")
                    / (F.col("__c") * F.col("__ns")).cast("double")
                )
            ).alias("__term"),
        )
    )
    return (
        terms.groupBy("source", "__ns", "distinct_tokens")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("__t", "__term"))),
                F.lit(0.0),
                lambda acc, x: acc + x["__term"],
            ).alias("__kl")
        )
        .select(
            "source",
            F.col("__ns").cast("long").alias("n_tokens"),
            F.col("distinct_tokens").cast("long").alias("distinct_tokens"),
            F.round("__kl", 6).alias("kl_divergence"),
        )
    )


def source_kl_divergence_sql(
    source_expr: str = "source", text_expr: str = "text"
) -> str:
    """DuckDB replay of :func:`source_kl_divergence` over `documents`:
    identical counts, identical exact-integer ln/division arguments,
    identical ascending-token fold (list_reduce's first-element seed
    equals the 0.0-seeded fold since 0.0 + x == x)."""
    toks = tokens_sql(text_expr)
    return f"""
    WITH tok AS (
      SELECT {source_expr} AS source, unnest({toks}) AS t
      FROM documents
    ),
    cs AS (SELECT source, t, COUNT(*) AS c_s FROM tok GROUP BY source, t),
    ct AS (SELECT t, SUM(c_s) AS c FROM cs GROUP BY t),
    ns AS (SELECT source, SUM(c_s) AS n_s, COUNT(*) AS dt
           FROM cs GROUP BY source),
    nn AS (SELECT SUM(c_s) AS n FROM cs),
    terms AS (
      SELECT cs.source, ns.n_s, ns.dt, cs.t,
             (CAST(cs.c_s AS DOUBLE) / CAST(ns.n_s AS DOUBLE))
             * ln(CAST(cs.c_s * nn.n AS DOUBLE)
                  / CAST(ct.c * ns.n_s AS DOUBLE)) AS term
      FROM cs
      JOIN ct USING (t)
      JOIN ns USING (source)
      CROSS JOIN nn
    )
    SELECT source,
           CAST(n_s AS BIGINT) AS n_tokens,
           CAST(dt AS BIGINT) AS distinct_tokens,
           round(list_reduce(list(term ORDER BY t), (a, b) -> a + b), 6)
             AS kl_divergence
    FROM terms
    GROUP BY source, n_s, dt
    """


def source_lang_mi(
    df: DataFrame,
    a_col: str = "source",
    b_col: str = "lang",
) -> DataFrame:
    """Corpus-composition dependence audit: the mutual information
    between two categorical document attributes (by default source x
    language), with both marginal entropies and the normalized MI
    (Strehl & Ghosh 2002's NMI = MI / sqrt(H_a * H_b)). The drift
    tripwire for mixture pipelines: if language distribution is (near-)
    independent of source, NMI ~ 0 and per-source language balancing is
    redundant; a rising NMI means some source started contributing a
    skewed language mix and temperature_mix-style rebalancing by ONE
    attribute silently reshapes the other.

    Returns ONE row: (n_docs, n_a, n_b, mi, h_a, h_b, nmi) — counts
    exact; mi/h terms computed from exact integer cell counts and
    accumulated in ascending (a, b) cell order (ordered folds, the
    char_entropy recipe), round(6); entropies in nats.

    Scale shape: ONE corpus-sized keyed aggregate (the (a, b)
    contingency cells, map-side partials); marginals, folds, and the
    final row all run on the tiny cells table (|a| x |b| rows). No
    driver loop, no Python."""
    cells = (
        ensure_parallelism(df)
        .groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    am = cells.groupBy("a").agg(F.sum("c").alias("ca"))
    bm = cells.groupBy("b").agg(F.sum("c").alias("cb"))
    joined = cells.join(F.broadcast(am), "a").join(F.broadcast(bm), "b")

    def fold(order_cols, val):
        return F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(*order_cols, val.alias("v")))
                ),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda x, y: x + y,
        )

    n = F.col("n").cast("double")
    c = F.col("c").cast("double")
    ca = F.col("ca").cast("double")
    cb = F.col("cb").cast("double")
    mi_term = (c / n) * F.log(c * n / (ca * cb))
    agg = (
        joined.crossJoin(
            F.broadcast(cells.agg(F.sum("c").alias("n")))
        )
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            F.count_distinct("a").cast("long").alias("n_a"),
            F.count_distinct("b").cast("long").alias("n_b"),
            fold(
                [F.col("a").alias("oa"), F.col("b").alias("ob")], mi_term
            ).alias("mi_raw"),
        )
    )
    ha_f = am.crossJoin(
        F.broadcast(cells.agg(F.sum("c").alias("n")))
    ).agg(
        fold(
            [F.col("a").alias("oa")],
            -(F.col("ca").cast("double") / F.col("n").cast("double"))
            * F.log(
                F.col("ca").cast("double") / F.col("n").cast("double")
            ),
        ).alias("h_a_raw")
    )
    hb_f = bm.crossJoin(
        F.broadcast(cells.agg(F.sum("c").alias("n")))
    ).agg(
        fold(
            [F.col("b").alias("ob")],
            -(F.col("cb").cast("double") / F.col("n").cast("double"))
            * F.log(
                F.col("cb").cast("double") / F.col("n").cast("double")
            ),
        ).alias("h_b_raw")
    )
    return (
        agg.crossJoin(F.broadcast(ha_f))
        .crossJoin(F.broadcast(hb_f))
        .select(
            "n_docs", "n_a", "n_b",
            F.round("mi_raw", 6).alias("mi"),
            F.round("h_a_raw", 6).alias("h_a"),
            F.round("h_b_raw", 6).alias("h_b"),
            F.round(
                F.when(
                    F.col("h_a_raw") * F.col("h_b_raw") > 0,
                    F.col("mi_raw")
                    / F.sqrt(F.col("h_a_raw") * F.col("h_b_raw")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("nmi"),
        )
    )


def source_lang_mi_sql(
    a_expr: str = "source", b_expr: str = "lang"
) -> str:
    """DuckDB oracle for :func:`source_lang_mi` over `documents`: same
    contingency cells, same (a, b)-ordered list_reduce folds."""
    return f"""
    WITH cells AS (
      SELECT {a_expr} AS a, {b_expr} AS b,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    am AS (SELECT a, SUM(c) AS ca FROM cells GROUP BY a),
    bm AS (SELECT b, SUM(c) AS cb FROM cells GROUP BY b),
    nn AS (SELECT SUM(c) AS n FROM cells),
    mi AS (
      SELECT list_reduce(
               list((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                    * ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
                         / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)))
                    ORDER BY cells.a, cells.b),
               (x, y) -> x + y) AS mi_raw,
             CAST(MAX(n) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT cells.a) AS BIGINT) AS n_a,
             CAST(COUNT(DISTINCT cells.b) AS BIGINT) AS n_b
      FROM cells JOIN am USING (a) JOIN bm USING (b), nn
    ),
    ha AS (
      SELECT list_reduce(
               list(-(CAST(ca AS DOUBLE) / CAST(n AS DOUBLE))
                    * ln(CAST(ca AS DOUBLE) / CAST(n AS DOUBLE))
                    ORDER BY a),
               (x, y) -> x + y) AS h_a_raw
      FROM am, nn
    ),
    hb AS (
      SELECT list_reduce(
               list(-(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
                    * ln(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
                    ORDER BY b),
               (x, y) -> x + y) AS h_b_raw
      FROM bm, nn
    )
    SELECT mi.n_docs, mi.n_a, mi.n_b,
           round(mi.mi_raw, 6) AS mi,
           round(ha.h_a_raw, 6) AS h_a,
           round(hb.h_b_raw, 6) AS h_b,
           round(CASE WHEN ha.h_a_raw * hb.h_b_raw > 0
                      THEN mi.mi_raw / sqrt(ha.h_a_raw * hb.h_b_raw)
                      ELSE 0.0 END, 6) AS nmi
    FROM mi, ha, hb
    """


def ks_source_drift(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    *,
    alpha_c: float = 1.358,
) -> DataFrame:
    """Per-source two-sample Kolmogorov-Smirnov drift test: each
    source's ``value_col`` distribution (document length by default)
    against the REST of the corpus — the exact D = max |ECDF_s -
    ECDF_rest| with the large-sample rejection bound
    ``alpha_c * sqrt((n_s + n_r) / (n_s * n_r))`` (1.358 = alpha 0.05;
    Smirnov's asymptotic table). The distribution-shape drift detector
    that mean/stddev monitors miss: a source whose lengths bifurcate
    keeps its mean while its ECDF walks away.

    Returns (source, n_s, n_r, ks_stat, drift) — ks_stat exact-integer
    ECDF differences rounded to 6 BEFORE the boolean, counts exact.

    Scale shape: one corpus-sized (group, value) count aggregate; the
    ECDF grid is |groups| x |distinct values| (tiny for bounded metrics
    like document length), cumulative sums are per-group keyed windows
    plus ONE unpartitioned window over the distinct-VALUE frame
    (histogram-sized, the zipf_gini_audit posture). No sort or join
    ever touches corpus rows."""
    vals = ensure_parallelism(df).select(
        F.col(group_col).alias("s"), F.col(value_col).alias("x")
    )
    pv = vals.groupBy("s", "x").agg(F.count("*").cast("long").alias("c"))
    gv = pv.groupBy("x").agg(F.sum("c").alias("cg"))
    ns = pv.groupBy("s").agg(F.sum("c").alias("n_s"))
    nn = pv.agg(F.sum("c").alias("n"))
    grid = ns.crossJoin(gv.select("x"))
    cum_w = (
        Window.partitionBy("s").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gcum_w = (
        Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        grid.join(pv, ["s", "x"], "left")
        .select("s", "x", "n_s", F.coalesce("c", F.lit(0)).alias("c"))
        .withColumn("cs", F.sum("c").over(cum_w))
    )
    gcum = gv.withColumn("cgs", F.sum("cg").over(gcum_w)).select("x", "cgs")
    d = (
        cum.join(gcum, "x")
        .crossJoin(F.broadcast(nn))
        .select(
            "s", "n_s",
            (F.col("n") - F.col("n_s")).alias("n_r"),
            # a lone source has an empty "rest": the statistic is
            # undefined — NULL, never a fabricated 0 (ANSI division
            # guard doubles as the contract)
            F.when(
                F.col("n") - F.col("n_s") > 0,
                F.abs(
                    F.col("cs").cast("double")
                    / F.col("n_s").cast("double")
                    - (F.col("cgs") - F.col("cs")).cast("double")
                    / (F.col("n") - F.col("n_s")).cast("double")
                ),
            ).alias("dd"),
        )
    )
    return (
        d.groupBy("s", "n_s", "n_r")
        .agg(F.round(F.max("dd"), 6).alias("ks_stat"))
        .select(
            F.col("s").alias(group_col),
            F.col("n_s").cast("long").alias("n_s"),
            F.col("n_r").cast("long").alias("n_r"),
            "ks_stat",
            F.when(
                F.col("n_r") > 0,
                F.col("ks_stat")
                > F.lit(alpha_c)
                * F.sqrt(
                    (F.col("n_s") + F.col("n_r")).cast("double")
                    / (F.col("n_s") * F.col("n_r")).cast("double")
                ),
            ).alias("drift"),
        )
    )


def ks_source_drift_sql(
    group_expr: str = "source",
    value_expr: str = "n_chars",
    *,
    alpha_c: float = 1.358,
) -> str:
    """DuckDB oracle for :func:`ks_source_drift` over `documents`:
    identical grid/window construction on the counts."""
    return f"""
    WITH pv AS (
      SELECT {group_expr} AS s, {value_expr} AS x,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    gv AS (SELECT x, SUM(c) AS cg FROM pv GROUP BY x),
    ns AS (SELECT s, SUM(c) AS n_s FROM pv GROUP BY s),
    nt AS (SELECT SUM(c) AS n FROM pv),
    grid AS (SELECT ns.s, ns.n_s, gv.x FROM ns, gv),
    j AS (
      SELECT g.s, g.n_s, g.x, COALESCE(pv.c, 0) AS c
      FROM grid g LEFT JOIN pv ON g.s = pv.s AND g.x = pv.x
    ),
    cum AS (
      SELECT s, n_s, x,
             SUM(c) OVER (PARTITION BY s ORDER BY x
                          ROWS UNBOUNDED PRECEDING) AS cs
      FROM j
    ),
    gcum AS (
      SELECT x, SUM(cg) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cgs
      FROM gv
    ),
    d AS (
      SELECT cum.s, cum.n_s, nt.n - cum.n_s AS n_r,
             CASE WHEN nt.n - cum.n_s > 0 THEN
               abs(CAST(cum.cs AS DOUBLE) / CAST(cum.n_s AS DOUBLE)
                   - CAST(gcum.cgs - cum.cs AS DOUBLE)
                   / CAST(nt.n - cum.n_s AS DOUBLE)) END AS dd
      FROM cum JOIN gcum ON cum.x = gcum.x, nt
    )
    SELECT s AS {group_expr}, CAST(n_s AS BIGINT) AS n_s,
           CAST(n_r AS BIGINT) AS n_r,
           round(MAX(dd), 6) AS ks_stat,
           CASE WHEN n_r > 0 THEN
             round(MAX(dd), 6) > {alpha_c} * sqrt(
               CAST(n_s + n_r AS DOUBLE) / CAST(n_s * n_r AS DOUBLE))
           END AS drift
    FROM d GROUP BY s, n_s, n_r
    """


def chi2_independence(
    df: DataFrame,
    a_col: str = "source",
    b_col: str = "lang",
) -> DataFrame:
    """Pearson chi-square independence test + Cramer's V between two
    categorical document attributes — the frequentist companion to
    :func:`source_lang_mi`: chi2 = sum over the FULL a x b grid of
    (o - e)^2 / e with e = row*col/n (absent cells contribute their
    full expectation), dof = (|a|-1)(|b|-1), and Cramer's V =
    sqrt(chi2 / (n * min(|a|-1, |b|-1))) as the [0, 1] effect size
    that, unlike raw chi2, does not grow with corpus size.

    Returns ONE row (n_docs, dof, chi2, cramers_v); the chi2 terms
    accumulate in ascending (a, b) grid order (ordered fold), round(6).

    Scale shape: one corpus-sized contingency aggregate; the full grid
    is |a| x |b| (built from the marginals, not the corpus), and the
    fold runs over it. The cells-vs-grid distinction matters: a sparse
    contingency from groupBy alone would silently drop the o=0
    expectation terms and understate chi2."""
    cells = (
        ensure_parallelism(df)
        .groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    am = cells.groupBy("a").agg(F.sum("c").alias("ca"))
    bm = cells.groupBy("b").agg(F.sum("c").alias("cb"))
    nn = cells.agg(F.sum("c").alias("n"))
    grid = am.crossJoin(bm).crossJoin(F.broadcast(nn))
    jo = grid.join(cells, ["a", "b"], "left").select(
        "a", "b", "ca", "cb", "n", F.coalesce("c", F.lit(0)).alias("o")
    )
    e = (F.col("ca") * F.col("cb")).cast("double") / F.col("n").cast(
        "double"
    )
    term = (
        (F.col("o").cast("double") - e)
        * (F.col("o").cast("double") - e)
        / e
    )
    folded = jo.agg(
        F.max("n").cast("long").alias("n_docs"),
        F.count_distinct("a").alias("na"),
        F.count_distinct("b").alias("nb"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("a").alias("oa"),
                            F.col("b").alias("ob"),
                            term.alias("v"),
                        )
                    )
                ),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda x, y: x + y,
        ).alias("chi2_raw"),
    )
    return folded.select(
        "n_docs",
        ((F.col("na") - 1) * (F.col("nb") - 1)).cast("long").alias("dof"),
        F.round("chi2_raw", 6).alias("chi2"),
        F.round(
            F.when(
                F.least(F.col("na") - 1, F.col("nb") - 1) > 0,
                F.sqrt(
                    F.col("chi2_raw")
                    / (
                        F.col("n_docs")
                        * F.least(F.col("na") - 1, F.col("nb") - 1)
                    )
                ),
            ).otherwise(F.lit(0.0)),  # one-level attribute: no
            # association is measurable — 0, not a divide-by-zero
            6,
        ).alias("cramers_v"),
    )


def chi2_independence_sql(
    a_expr: str = "source", b_expr: str = "lang"
) -> str:
    """DuckDB oracle for :func:`chi2_independence` over `documents`:
    same full-grid expectation terms, same (a, b)-ordered fold."""
    return f"""
    WITH cells AS (
      SELECT {a_expr} AS a, {b_expr} AS b, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    am AS (SELECT a, SUM(c) AS ca FROM cells GROUP BY a),
    bm AS (SELECT b, SUM(c) AS cb FROM cells GROUP BY b),
    nn AS (SELECT SUM(c) AS n FROM cells),
    grid AS (SELECT am.a, am.ca, bm.b, bm.cb, nn.n FROM am, bm, nn),
    j AS (
      SELECT g.a, g.b, g.ca, g.cb, g.n, COALESCE(cells.c, 0) AS o
      FROM grid g LEFT JOIN cells ON g.a = cells.a AND g.b = cells.b
    ),
    f AS (
      SELECT MAX(n) AS n_docs, COUNT(DISTINCT a) AS na,
             COUNT(DISTINCT b) AS nb,
             list_reduce(list(
               (CAST(o AS DOUBLE) - CAST(ca * cb AS DOUBLE)
                / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE) - CAST(ca * cb AS DOUBLE)
                  / CAST(n AS DOUBLE))
               / (CAST(ca * cb AS DOUBLE) / CAST(n AS DOUBLE))
               ORDER BY a, b),
               (x, y) -> x + y) AS chi2_raw
      FROM j
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST((na - 1) * (nb - 1) AS BIGINT) AS dof,
           round(chi2_raw, 6) AS chi2,
           round(CASE WHEN least(na - 1, nb - 1) > 0
                      THEN sqrt(chi2_raw
                                / (n_docs * least(na - 1, nb - 1)))
                      ELSE 0.0 END, 6) AS cramers_v
    FROM f
    """


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus version CDC: classify every document across two corpus
    snapshots as added / removed / changed / unchanged by comparing
    portable content fingerprints under a FULL OUTER id join — the
    dataset-release diff (what changed between crawl v3.1 and v3.2)
    that downstream training-cache invalidation and incremental dedup
    both read. Fingerprints ride the join instead of text, so the
    shuffle carries two longs per doc regardless of document size.

    Returns (doc_id, status, old_fp, new_fp) with NULL fps on the
    absent side; fingerprints are the md5-based portable hash
    (functions/portable.py), so the DuckDB oracle reproduces them
    bit-for-bit.

    Scale shape: two narrow scans projecting (id, fingerprint), one
    keyed full-outer shuffle join on the id, a codegen'd CASE. At
    100 TB this is the minimal possible diff plan; bucketed snapshot
    layouts would co-locate it to zero shuffle."""
    o = ensure_parallelism(old).select(
        F.col(id_col), portable_hash64(F.col(text_col)).alias("old_fp")
    )
    n = ensure_parallelism(new).select(
        F.col(id_col), portable_hash64(F.col(text_col)).alias("new_fp")
    )
    return o.join(n, id_col, "full_outer").select(
        id_col,
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        "old_fp",
        "new_fp",
    )


def snapshot_diff_sql(old_src: str, new_src: str) -> str:
    """DuckDB oracle for :func:`snapshot_diff`: same portable
    fingerprints, same full-outer classification. ``old_src`` /
    ``new_src`` are subqueries yielding (doc_id, text)."""
    from flink_kafka_table_api_spark.functions.portable import (
        portable_hash64_sql,
    )

    h = portable_hash64_sql("text")
    return f"""
    WITH o AS (SELECT doc_id, {h} AS old_fp FROM ({old_src})),
    n AS (SELECT doc_id, {h} AS new_fp FROM ({new_src}))
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.old_fp IS NULL THEN 'added'
                WHEN n.new_fp IS NULL THEN 'removed'
                WHEN o.old_fp != n.new_fp THEN 'changed'
                ELSE 'unchanged' END AS status,
           o.old_fp, n.new_fp
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    """


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    value_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — THE industry model/feature-monitoring drift number
    (banking scorecard practice; see Yurdakul '18 for its asymptotic
    distribution): bin the OLD snapshot into equi-depth ``n_bins``
    quantile bins, score how the NEW snapshot's mass moved,

        PSI = sum over bins of (p_new - p_old) * ln(p_new / p_old)

    with the conventional reading <0.1 stable / 0.1-0.25 shifting /
    >0.25 drifted. The frequentist complement to `ks_source_drift`
    (max ECDF deviation, a TEST) and `chi2_independence`: PSI is the
    monitoring INDEX practitioners threshold on, symmetric in the two
    snapshots and additive over bins, so the per-bin terms localize
    WHERE the distribution moved.

    Determinism contract: cut points are exact interpolated quantiles
    of the old snapshot rounded to 6 (bin membership by ``value >
    cut`` on rounded cuts — the equi_depth_bins recipe, identical
    boundary decisions both engines); shares are add-one smoothed,
    p = (n_i + 1) / (N + n_bins), so empty bins are finite and every
    share/ln argument is a ratio of exact integers (the
    source_kl_divergence recipe — products stay far under 2^53); the
    PSI total is an ascending-bin ordered fold of the unrounded terms
    (0.0-seeded, = DuckDB's first-element-seeded list_reduce).

    Scale shape: ONE percentile aggregate over old (n_bins-1 scalars,
    never a global sort; percentile_approx swap-in documented at
    extreme scale), cut array broadcast as a 1-row build side to both
    snapshots, one n_bins-cell count aggregate per snapshot with
    map-side combine, then pure algebra on the 2 x n_bins-row frame.
    Returns one row per bin: (bin_id, n_old, n_new, p_old, p_new,
    psi_term, psi_total) — psi_total repeated per row."""
    qs = [i / n_bins for i in range(1, n_bins)]
    spark = old.sparkSession
    cuts_row = old.agg(
        F.transform(
            F.percentile(
                value_col, F.array(*[F.lit(q) for q in qs])
            ),
            lambda c: F.round(c, 6),
        ).alias("__cuts")
    )

    def binned_counts(df: DataFrame, out: str) -> DataFrame:
        bin_id = F.aggregate(
            F.col("__cuts"),
            F.lit(1),
            lambda acc, c: acc
            + F.when(F.col(value_col) > c, F.lit(1)).otherwise(F.lit(0)),
        )
        return (
            df.crossJoin(F.broadcast(cuts_row))
            .select(bin_id.cast("long").alias("bin_id"))
            .groupBy("bin_id")
            .agg(F.count("*").alias(out))
        )

    spine = spark.range(1, n_bins + 1).select(
        F.col("id").cast("long").alias("bin_id")
    )
    counts = (
        spine.join(binned_counts(old, "__no"), "bin_id", "left")
        .join(binned_counts(new, "__nn"), "bin_id", "left")
        .select(
            "bin_id",
            F.coalesce("__no", F.lit(0)).cast("long").alias("n_old"),
            F.coalesce("__nn", F.lit(0)).cast("long").alias("n_new"),
        )
    )
    w = Window.partitionBy()  # 10-row frame; integer sums are order-free
    b = F.lit(int(n_bins))
    smoothed = counts.select(
        "bin_id", "n_old", "n_new",
        (F.sum("n_old").over(w) + b).alias("__do"),
        (F.sum("n_new").over(w) + b).alias("__dn"),
    ).select(
        "bin_id", "n_old", "n_new", "__do", "__dn",
        ((F.col("n_old") + 1) / F.col("__do")).alias("__po"),
        ((F.col("n_new") + 1) / F.col("__dn")).alias("__pn"),
        # ln argument as ONE ratio of exact integer products
        F.log(
            ((F.col("n_new") + 1) * F.col("__do")).cast("double")
            / ((F.col("n_old") + 1) * F.col("__dn")).cast("double")
        ).alias("__ln"),
    ).select(
        "bin_id", "n_old", "n_new", "__po", "__pn",
        ((F.col("__pn") - F.col("__po")) * F.col("__ln")).alias("__term"),
    )
    total_row = (
        smoothed.groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("bin_id", "__term"))
            ).alias("xs")
        )
        .select(
            F.aggregate(
                "xs",
                F.lit(0.0),
                lambda acc, x: acc + x["__term"],
            ).alias("__total")
        )
    )
    return smoothed.crossJoin(F.broadcast(total_row)).select(
        "bin_id", "n_old", "n_new",
        F.round("__po", 6).alias("p_old"),
        F.round("__pn", 6).alias("p_new"),
        F.round("__term", 6).alias("psi_term"),
        F.round("__total", 6).alias("psi_total"),
    )


def psi_drift_sql(
    old_sql: str,
    new_sql: str,
    value_col: str,
    *,
    n_bins: int = 10,
) -> str:
    """DuckDB replay of :func:`psi_drift` (quantile_cont cuts rounded
    to 6, same strict-> binning, same add-one-smoothed exact-integer
    shares and single-ratio ln arguments, same ascending-bin
    list_reduce fold for the total)."""
    qs = [i / n_bins for i in range(1, n_bins)]
    cut_list = ", ".join(
        f"round(quantile_cont({value_col}, {q}), 6)" for q in qs
    )
    return f"""
    WITH old_t AS ({old_sql}),
    new_t AS ({new_sql}),
    cuts AS (SELECT [{cut_list}] AS c FROM old_t),
    ob AS (
      SELECT 1 + len(list_filter(cuts.c, x -> t.{value_col} > x))
               AS bin_id, COUNT(*) AS n
      FROM old_t t, cuts GROUP BY 1
    ),
    nb AS (
      SELECT 1 + len(list_filter(cuts.c, x -> t.{value_col} > x))
               AS bin_id, COUNT(*) AS n
      FROM new_t t, cuts GROUP BY 1
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(1, {n_bins})) AS BIGINT)
        AS bin_id
    ),
    counts AS (
      SELECT spine.bin_id,
             CAST(COALESCE(ob.n, 0) AS BIGINT) AS n_old,
             CAST(COALESCE(nb.n, 0) AS BIGINT) AS n_new
      FROM spine
      LEFT JOIN ob ON ob.bin_id = spine.bin_id
      LEFT JOIN nb ON nb.bin_id = spine.bin_id
    ),
    terms AS (
      SELECT bin_id, n_old, n_new,
             CAST(n_old + 1 AS DOUBLE)
               / (SUM(n_old) OVER () + {n_bins}) AS po,
             CAST(n_new + 1 AS DOUBLE)
               / (SUM(n_new) OVER () + {n_bins}) AS pn,
             (CAST(n_new + 1 AS DOUBLE)
                / (SUM(n_new) OVER () + {n_bins})
              - CAST(n_old + 1 AS DOUBLE)
                / (SUM(n_old) OVER () + {n_bins}))
             * ln(CAST((n_new + 1) * (SUM(n_old) OVER () + {n_bins})
                       AS DOUBLE)
                  / CAST((n_old + 1) * (SUM(n_new) OVER () + {n_bins})
                         AS DOUBLE)) AS term
      FROM counts
    ),
    total AS (
      SELECT list_reduce(
        list(term ORDER BY bin_id), (a, b) -> a + b
      ) AS t
      FROM terms
    )
    SELECT bin_id, n_old, n_new,
           round(po, 6) AS p_old, round(pn, 6) AS p_new,
           round(term, 6) AS psi_term,
           round(total.t, 6) AS psi_total
    FROM terms, total
    """


def mann_whitney_u(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    *,
    alpha_z: float = 1.959963984540054,
) -> DataFrame:
    """Exact two-sample Mann-Whitney U / Wilcoxon rank-sum test (Mann &
    Whitney 1947) of every group against the REST of the corpus on
    ``value_col`` — the rank-based LOCATION-shift companion to
    ks_source_drift's ECDF shape statistic and chi2_independence's
    categorical grid: it detects "this source's documents are
    systematically longer/shorter" without assuming normality, and
    unlike a t-test it is immune to the heavy tails a web corpus
    always has.

    Exactness contract: ``value_col`` is cast to BIGINT first (the
    test is rank-based, so any order-preserving integer quantization —
    lengths, counts, cents — leaves the statistic meaningful; pass
    continuous data pre-quantized); ranks are midranks over the
    VALUE-GROUPED grid, carried as 2x-scaled integers (2*midrank =
    2*cum_before + tie_count + 1 is always integral), so the rank sum
    and U statistic are pure BIGINT algebra (rank2 ~ 2N bounds the
    c*rank2 products: exact to N ~ 2e9 rows per test — run per-source
    tests, not one corpus-wide row count, beyond that); the tie term
    t^3 is summed in DECIMAL(38,0)/HUGEINT because a BIGINT cube
    overflows at 2^21 rows sharing one value; the only floats are the final normal
    approximation z = (U1 - mu) / sigma with the exact tie correction
    sigma^2 = (n1*n2/12) * ((N+1) - sum(t^3 - t) / (N*(N-1)))
    (Lehmann, "Nonparametrics", 1975) evaluated in ONE identical
    expression in both engines from integer inputs, and the effect
    size r = z / sqrt(N). No continuity correction (documented choice
    — keeps the formula single-expression).

    Returns one row per group: (group, n_group, n_rest, rank_sum_x2,
    u1_x2, u_stat, z round(9), effect_r round(9), reject_95) ordered
    deterministically by the caller's sort; reject_95 compares |z| to
    the exact two-sided 5% point ``alpha_z``.

    Scale shape: ONE (group, value) count aggregate over the corpus —
    the value grid and the totals both DERIVE from it (re-aggregating
    the aggregate, never a second corpus scan) — and a single
    unpartitioned window over the DISTINCT-VALUE grid to build
    cumulative counts: the grid is value-cardinality-sized (document
    lengths: thousands of rows, NOT corpus-sized), the ks_source_drift
    precedent. Per-group sums then shuffle |groups| x |values| cells
    at most."""
    from flink_kafka_table_api_spark.caching import tracked_persist

    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("long").alias("v"),
    ).where(F.col(value_col).isNotNull())
    per_grp_val = tracked_persist(
        base.groupBy("grp", "v").agg(
            F.count("*").cast("long").alias("c")
        )
    )
    # (value) grid re-aggregated from the grouped cells: one corpus scan
    val_tot = per_grp_val.groupBy("v").agg(
        F.sum("c").cast("long").alias("t")
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # midrank*2 per value over the tiny distinct-value grid
    grid = val_tot.select(
        "v", "t",
        (
            2 * F.coalesce(F.sum("t").over(w), F.lit(0))
            + F.col("t") + 1
        ).cast("long").alias("rank2"),
    )
    # t^3 in DECIMAL(38,0): a BIGINT product overflows (ANSI abort)
    # once one value is shared by >= 2^21 rows — exactly the per-value
    # concentration capped/empty document lengths have at corpus
    # scale. Decimal sums stay exact and order-free (the DuckDB twin
    # is HUGEINT); the value is only ever consumed as a double.
    totals = val_tot.agg(
        F.sum("t").cast("long").alias("n_total"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("tie_term"),
    )
    per_grp = (
        per_grp_val.join(F.broadcast(grid), "v")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("n_group"),
            F.sum(F.col("c") * F.col("rank2")).cast("long")
            .alias("rank_sum_x2"),
        )
    )
    n1 = F.col("n_group")
    n2 = F.col("n_total") - n1
    u1_x2 = F.col("rank_sum_x2") - n1 * (n1 + 1)
    mu_x2 = (n1 * n2).cast("double")  # 2*mu = n1*n2
    sigma2 = (n1 * n2).cast("double") / F.lit(12.0) * (
        (F.col("n_total") + 1).cast("double")
        - F.col("tie_term").cast("double")
        / (
            F.col("n_total").cast("double")
            * (F.col("n_total") - 1).cast("double")
        )
    )
    # sigma degenerates to 0 when every value in the corpus is tied
    # (one giant tie group) or a side is empty — NULL z, never a
    # divide-by-zero (ANSI mode throws)
    z = F.when(
        sigma2 > 0,
        (u1_x2.cast("double") - mu_x2)
        / (F.lit(2.0) * F.sqrt(sigma2)),
    )
    return (
        per_grp.crossJoin(F.broadcast(totals))
        .select(
            F.col("grp").alias(group_col),
            "n_group",
            n2.cast("long").alias("n_rest"),
            "rank_sum_x2",
            u1_x2.cast("long").alias("u1_x2"),
            (u1_x2.cast("double") / 2).alias("u_stat"),
            F.round(z, 9).alias("z"),
            F.round(
                z / F.sqrt(F.col("n_total").cast("double")), 9
            ).alias("effect_r"),
            (F.abs(F.round(z, 9)) > F.lit(alpha_z)).alias("reject_95"),
        )
    )


def mann_whitney_u_sql(
    table: str = "documents",
    group_col: str = "source",
    value_col: str = "n_chars",
    *,
    alpha_z: float = 1.959963984540054,
) -> str:
    """DuckDB oracle for :func:`mann_whitney_u`: identical 2x-scaled
    integer midrank grid and the identical single-expression z."""
    return f"""
    WITH base AS (
      SELECT {group_col} AS grp, CAST({value_col} AS BIGINT) AS v
      FROM {table} WHERE {value_col} IS NOT NULL
    ),
    val_tot AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM base GROUP BY v
    ),
    grid AS (
      SELECT v, t,
             CAST(2 * COALESCE(SUM(t) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + t + 1 AS BIGINT) AS rank2
      FROM val_tot
    ),
    totals AS (
      -- HUGEINT t^3 mirrors the Spark side's DECIMAL(38,0): exact and
      -- order-free where a BIGINT product would overflow at t >= 2^21
      SELECT CAST(SUM(t) AS BIGINT) AS n_total,
             SUM(CAST(t AS HUGEINT) * t * t - t) AS tie_term
      FROM val_tot
    ),
    per_grp AS (
      SELECT b.grp,
             CAST(SUM(c) AS BIGINT) AS n_group,
             CAST(SUM(c * rank2) AS BIGINT) AS rank_sum_x2
      FROM (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS c
            FROM base GROUP BY grp, v) b
      JOIN grid USING (v)
      GROUP BY b.grp
    ),
    calc AS (
      SELECT grp, n_group,
             CAST(n_total - n_group AS BIGINT) AS n_rest,
             rank_sum_x2,
             CAST(rank_sum_x2 - n_group * (n_group + 1) AS BIGINT)
               AS u1_x2,
             CAST(n_group * (n_total - n_group) AS DOUBLE) AS mu_x2,
             CAST(n_group * (n_total - n_group) AS DOUBLE)
               / CAST(12.0 AS DOUBLE)
               * (CAST(n_total + 1 AS DOUBLE)
                  - CAST(tie_term AS DOUBLE)
                    / (CAST(n_total AS DOUBLE)
                       * CAST(n_total - 1 AS DOUBLE))) AS sigma2,
             n_total
      FROM per_grp, totals
    )
    SELECT grp AS {group_col}, n_group, n_rest, rank_sum_x2, u1_x2,
           CAST(u1_x2 AS DOUBLE) / 2 AS u_stat,
           round(CASE WHEN sigma2 > 0 THEN
               (CAST(u1_x2 AS DOUBLE) - mu_x2)
               / (CAST(2.0 AS DOUBLE) * sqrt(sigma2)) END,
             9) AS z,
           round(CASE WHEN sigma2 > 0 THEN
               (CAST(u1_x2 AS DOUBLE) - mu_x2)
               / (CAST(2.0 AS DOUBLE) * sqrt(sigma2)) END
             / sqrt(CAST(n_total AS DOUBLE)),
             9) AS effect_r,
           abs(round(CASE WHEN sigma2 > 0 THEN
               (CAST(u1_x2 AS DOUBLE) - mu_x2)
               / (CAST(2.0 AS DOUBLE) * sqrt(sigma2)) END,
             9)) > {alpha_z} AS reject_95
    FROM calc
    """
