"""Deduplication operators (EXT scope, BASELINE.json north star).

Four families, all expressed as declarative DataFrame algebra so Catalyst
distributes them (no driver-side loops, no Python in the hot path):

- exact:        hash-groupBy on the dedup key (one shuffle on the key)
- MinHash+LSH:  shingle -> k-perm minhash signature -> band buckets ->
                one id list per bucket for candidates -> exact-Jaccard
                verify. At 100 TB candidate generation shuffles only
                (band, hash) buckets, never the O(n^2) pair space.
- SimHash:      per-token hash bit-voting -> 32/64-bit signature; near-dups
                are signatures within small Hamming distance.
- n-gram Jaccard: blocked self-join + exact Jaccard on distinct token sets
                (the verifier used after LSH blocking; also usable alone
                with a cheap blocking key).

Portability: oracle-checked paths use the md5-based portable hash
(functions/portable.py) so DuckDB reproduces results bit-for-bit; the
``portable=False`` fast path swaps in Spark's codegen'd xxhash64 for
production runs (same algorithm, ~10x cheaper hashing).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.functions.portable import (
    MINHASH_PRIME,
    minhash_perm,
    portable_hash64,
)
from flink_kafka_table_api_spark.operators.text import (
    kgram_strings,
    tokens,
    tokens_sql,
)
from flink_kafka_table_api_spark.parallelism import ensure_parallelism

# Fixed universal-hash family coefficients (odd constants; any fixed odd a
# works for (a*h+b) mod 2^61-1). 16 permutations supported out of the box.
PERM_A = (
    1000000007, 998244353, 754974721, 167772161,
    469762049, 1107296257, 2013265921, 1224736769,
    1711276033, 2281701377, 3221225473, 75497473,
    104857601, 141557761, 415236097, 536870923,
)
PERM_B = (
    972663749, 423434567, 876543211, 123456791,
    314159265, 271828183, 161803399, 141421357,
    223606797, 264575131, 282842713, 301511345,
    317804971, 332039855, 344827587, 356753123,
)


def dedup_exact(
    df: DataFrame, keys: Sequence[str], tie_breaker: str
) -> DataFrame:
    """Keep one deterministic representative row per exact key group (the
    row minimizing ``tie_breaker``). One shuffle on the key columns; at scale
    prefer this over dropDuplicates() when determinism matters (Spark's
    dropDuplicates keeps an arbitrary row)."""
    w = Window.partitionBy(*keys).orderBy(F.col(tie_breaker).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-token shingles (space-joined) of a text column. Documents
    shorter than k tokens contribute their whole token sequence as one
    shingle so they still participate in dedup.

    Delegates window construction to text.kgram_strings (k-1 zip_with
    passes — measured 1.6-4x faster than the transform(sequence)+slice
    shape under interpreted HOF evaluation, identical output), so every
    dedup-family operator (minhash/LSH/prefix-filter/clusters/split)
    shares the fast path."""
    return F.array_distinct(kgram_strings(tokens(text), k))


def shingles_sql(expr: str, k: int = 3) -> str:
    """DuckDB rendering of :func:`shingles` (identical semantics)."""
    toks = tokens_sql(expr)
    return (
        f"list_distinct(CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(generate_series(1, len({toks}) - {k} + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k} - 1), ' ')) "
        f"ELSE [array_to_string({toks}, ' ')] END)"
    )


def _base_hash(c: Column, portable: bool) -> Column:
    return portable_hash64(c) if portable else F.abs(F.xxhash64(c)) % F.lit(MINHASH_PRIME)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 8,
    shingle_k: int = 3,
    portable: bool = True,
) -> DataFrame:
    """MinHash signature per document: mh_0..mh_{num_hashes-1}.

    Shape: explode distinct shingles -> one narrow pass computing all k
    permuted hashes -> groupBy(id).min for each. The min-aggregation is
    partial-aggregate friendly (map-side combine), so the shuffle carries at
    most k longs per document regardless of document size — the property
    that makes this work at 100 TB.

    Deliberately NOT expressed with higher-order array functions
    (transform + array_min, which would be shuffle-free): lambda bodies in
    higher-order functions are evaluated interpreted, outside whole-stage
    codegen, and measured 4x slower than this explode shape at sf0.1 —
    the codegen'd hash + map-side-combined k-longs-per-doc exchange wins.
    """
    if num_hashes > len(PERM_A):
        raise ValueError(f"num_hashes <= {len(PERM_A)}")
    df = ensure_parallelism(df)  # shingling is CPU-bound, not IO-bound
    exploded = df.select(
        F.col(id_col), F.explode(shingles(text_col, shingle_k)).alias("__shingle")
    ).withColumn("__h", _base_hash(F.col("__shingle"), portable))
    aggs = [
        F.min(minhash_perm(F.col("__h"), PERM_A[j], PERM_B[j])).alias(f"mh_{j}")
        for j in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def lsh_bands(
    sig_df: DataFrame, id_col: str, *, bands: int, rows_per_band: int
) -> DataFrame:
    """Fold a signature into (band_id, band_hash) bucket keys. Two documents
    collide in a band iff that band's minhash rows are all equal."""
    cols = []
    for b in range(bands):
        band_cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        cols.append(
            F.struct(
                F.lit(b).alias("band_id"),
                portable_hash64(F.concat_ws("_", *band_cols)).alias("band_hash"),
            )
        )
    return sig_df.select(
        F.col(id_col), F.explode(F.array(*cols)).alias("band")
    ).select(id_col, F.col("band.band_id").alias("band_id"),
             F.col("band.band_hash").alias("band_hash"))


def lsh_candidate_pairs(
    band_df: DataFrame,
    id_col: str,
    *,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing any band bucket, built from
    one aggregate per bucket: each (band_id, band_hash) bucket collects its
    ids, and the list is exploded against itself. Work and shuffle are
    proportional to bucket sizes, never to the corpus squared.

    ``max_bucket_size`` is the boilerplate-skew cap: a bucket holding more
    than the cap rows contributes no pairs; a bucket at the cap is kept.
    Docs share a mega-bucket because of shared boilerplate, whose pair
    Jaccard sits far below any near-dup threshold, while genuinely
    near-identical docs also collide in their other bands. The cap is a
    ``count(*)`` window over the bucket key, applied before the collect:
    the window buffers a bucket with spill, so no aggregation buffer ever
    holds a list longer than the cap, and the bucket aggregate reuses the
    window's hash partitioning, so the cap adds no exchange.
    ``_lsh_pairs_oracle`` replays the same cap, and
    ``streaming.incremental_dedup`` applies the same policy (over the cap
    skips, at the cap keeps) to its accumulated buckets; keep the three
    in step."""
    if max_bucket_size is not None:
        bucket = Window.partitionBy("band_id", "band_hash")
        band_df = band_df.withColumn("__n", F.count("*").over(bucket)).filter(
            F.col("__n") <= max_bucket_size
        )
    buckets = band_df.groupBy("band_id", "band_hash").agg(
        F.collect_list(id_col).alias("__ids")
    )
    return (
        buckets.select(F.explode("__ids").alias("a"), "__ids")
        .select("a", F.explode("__ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )


def jaccard(tok_a: Column, tok_b: Column) -> Column:
    """Exact Jaccard similarity of two already-distinct token arrays."""
    inter = F.size(F.array_intersect(tok_a, tok_b))
    union = F.size(tok_a) + F.size(tok_b) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    block_cols: Sequence[str],
    threshold: float,
    shingle_k: int = 1,
) -> DataFrame:
    """Blocked all-pairs n-gram Jaccard near-dup detection.

    ``block_cols`` bounds the pair space (same-block pairs only) — the
    blocking key IS the scalability contract: pair count is sum over blocks
    of |block|^2, so callers pick keys (language, length bucket, LSH band,
    fingerprint prefix) that keep blocks small at their scale.
    """
    sets = ensure_parallelism(df).select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        (shingles(text_col, shingle_k) if shingle_k > 1
         else F.array_distinct(tokens(text_col))).alias("__toks"),
    )
    a = sets.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("a"), F.col("__toks").alias("__ta"),
    )
    b = sets.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("b"), F.col("__toks").alias("__tb"),
    )
    return (
        a.join(b, on=list(block_cols))
        .filter(F.col("a") < F.col("b"))
        .withColumn("jaccard", F.round(jaccard(F.col("__ta"), F.col("__tb")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    shingle_k: int = 3,
    threshold: float = 0.5,
    portable: bool = True,
) -> DataFrame:
    """The full MinHash-LSH near-dup pipeline: signatures -> band buckets ->
    candidate pairs -> exact shingle-Jaccard verification -> threshold.

    This is THE scale path for near-dup detection: total work is
    O(corpus) for signatures + O(sum of bucket^2) for candidates (tiny when
    bands/rows are tuned to the target similarity) — never O(corpus^2).
    """
    # Signatures are tiny (k longs per doc) but EXPENSIVE to produce, and
    # the candidate table feeds the suspect-id prune and both sides of the
    # verify join; without the caches nothing reuses their exchanges and a
    # curate_and_pack pass runs twice the jobs. Persisting signature/
    # candidate tables is the same call a 100 TB run makes (they are
    # O(corpus * k) longs).
    # tracked_persist: the consuming action is the caller's, so caches are
    # registered and freed via caching.release_cached() at query boundaries.
    from flink_kafka_table_api_spark.caching import tracked_persist

    sigs = tracked_persist(minhash_signatures(
        df, id_col, text_col,
        num_hashes=num_hashes, shingle_k=shingle_k, portable=portable,
    ))
    cand = tracked_persist(lsh_candidate_pairs(
        lsh_bands(sigs, id_col, bands=bands, rows_per_band=rows_per_band), id_col
    ))
    # Verify needs shingle sets ONLY for docs that appear in a candidate
    # pair — semi-join first so the second shingling pass touches the few
    # near-dup suspects, not the whole corpus.
    ids = (
        cand.select(F.col("a").alias(id_col))
        .union(cand.select(F.col("b").alias(id_col)))
        .distinct()
    )
    # persist: the suspect set is tiny but its shingling is the expensive
    # part — the a/b branches below would otherwise recompute it twice
    sets = tracked_persist(
        df.join(F.broadcast(ids), on=id_col, how="left_semi").select(
            F.col(id_col), shingles(text_col, shingle_k).alias("__sh")
        )
    )
    a = sets.select(F.col(id_col).alias("a"), F.col("__sh").alias("__sa"))
    b = sets.select(F.col(id_col).alias("b"), F.col("__sh").alias("__sb"))
    return (
        cand.join(a, "a").join(b, "b")
        .withColumn("jaccard", F.round(jaccard(F.col("__sa"), F.col("__sb")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.6,
    shingle_k: int = 3,
    prescreen: bool = True,
) -> DataFrame:
    """EXACT similarity self-join via AllPairs/PPJoin prefix filtering
    (Bayardo et al., WWW'07; Xiao et al., WWW'08) — the third point in the
    near-dup design space: ngram_jaccard_pairs is exact but O(block^2);
    lsh_verified_pairs is subquadratic but probabilistic (can miss pairs);
    this is exact AND subquadratic.

    Why it scales: J(a,b) >= t implies |a intersect b| >= t*max(|a|,|b|),
    so under one global token order a qualifying pair MUST share a token
    within each side's first |d| - ceil(t*|d|) + 1 tokens. Ordering tokens
    by ascending document frequency makes those prefixes the RAREST
    tokens, so the prefix-postings self-join shuffles short posting lists
    (bounded by the df of rare tokens), never the O(n^2) pair space. The
    shingle sets AND the prefix postings are materialized once (tracked
    persist) — the postings feed both sides of the self-join, so without
    the persist the df aggregation and the per-document row_number sort
    would be planned twice. The verify stage semi-join-prunes the sets
    table down to candidate ids (broadcast, same contract as
    lsh_verified_pairs) so it never rescans the full corpus.

    Float safety: the prefix bound ceil(t*|d|) and the length filter
    t*|a| <= |b| are computed over doubles; for thresholds whose binary
    representation is slightly ABOVE the decimal (0.55, 0.67, ...) a raw
    ceil can overshoot by one (cutting the prefix a token short = silently
    dropped pairs) and a boundary pair with |b| exactly t*|a| can fail the
    filter. Both bounds round to 9 decimals first, which restores the
    exact decimal value for any realistic threshold while perturbing
    legitimate products (integers scaled by t) far less than one ulp of
    the bound.

    Verification is two-stage because the candidate set is much larger
    than the result set (measured 68k candidates -> 256 pairs at sf0.1):
    stage 1 prescreens every candidate with xxhash64-FINGERPRINTED shingle
    sets — one long per shingle, ~4x less data through the pair joins than
    the shingle strings, and long-array intersection stays in whole-stage
    codegen — against the overlap bound I >= ceil(t/(1+t)*(|A|+|B|)) with
    ONE free intersection credit (a 64-bit intra-intersection collision
    can depress the hashed overlap by one; P[>=1 anywhere in a corpus of
    1e12 shingle pairs] < 1e-7, P[two in the same pair] < 1e-26, so the
    +1 credit makes a dropped true pair physically implausible rather
    than merely unlikely). Stage 2 re-verifies the few survivors with the
    exact STRING shingle sets — hash collisions can therefore only cost a
    prescreen false positive (killed by stage 2), never a false negative,
    and the emitted jaccard is always the true string-set value.

    ``prescreen=False`` disables stage 1 entirely (every candidate goes
    straight to the exact string-set verify): the prescreen makes the
    operator probabilistically exact — two simultaneous intra-pair 64-bit
    collisions (P < 1e-26) could in principle drop a true pair — and an
    oracle-audited or compliance run that wants UNCONDITIONAL exactness
    trades the ~4x verify-stage saving for it.
    """
    from flink_kafka_table_api_spark.caching import tracked_persist

    sets = tracked_persist(
        ensure_parallelism(df).select(
            F.col(id_col), shingles(text_col, shingle_k).alias("__sh")
        )
    )
    postings = sets.select(
        F.col(id_col), F.size("__sh").alias("__n"),
        F.explode("__sh").alias("__tok"),
    )
    # Global document frequency gives the canonical rare-first order;
    # token string breaks ties so the order is total (required for the
    # prefix-overlap guarantee to hold across documents).
    freq = postings.groupBy("__tok").agg(F.count("*").alias("__df"))
    pos_w = Window.partitionBy(id_col).orderBy(F.col("__df"), F.col("__tok"))
    prefix_len = (
        F.col("__n")
        - F.ceil(F.round(F.lit(threshold) * F.col("__n"), 9))
        + 1
    )
    prefix = tracked_persist(
        postings.join(freq, "__tok")
        .withColumn("__pos", F.row_number().over(pos_w))
        .filter(F.col("__pos") <= prefix_len)
        .select(id_col, "__tok", "__n", "__pos")
    )
    a = prefix.select(
        F.col(id_col).alias("a"), F.col("__tok"),
        F.col("__n").alias("__na"), F.col("__pos").alias("__pa"),
    )
    b = prefix.select(
        F.col(id_col).alias("b"), F.col("__tok"),
        F.col("__n").alias("__nb"), F.col("__pos").alias("__pb"),
    )
    # Length filter inside the join: J >= t forces t*|a| <= |b| and
    # t*|b| <= |a|. Positional filter (PPJoin, Xiao et al. WWW'08): under
    # the global token order, overlap through a common token at positions
    # (pa, pb) is at most prior_overlap + 1 + min(na-pa, nb-pb); J >= t
    # needs overlap >= ceil(t/(1+t) * (na+nb)), and for a qualifying
    # pair's FIRST common token prior_overlap = 0, so requiring
    # 1 + min(na-pa, nb-pb) >= alpha never drops a true pair while
    # killing most of the postings-join fan-out before the distinct.
    # cand feeds the id-union prune AND the verify join — persist so the
    # postings self-join (the expensive stage) runs exactly once.
    alpha = F.ceil(
        F.round(
            F.lit(threshold / (1.0 + threshold))
            * (F.col("__na") + F.col("__nb")),
            9,
        )
    )
    cand = tracked_persist(
        a.join(b, "__tok")
        .filter(
            (F.col("a") < F.col("b"))
            & (F.col("__nb") >= F.round(F.lit(threshold) * F.col("__na"), 9))
            & (F.col("__na") >= F.round(F.lit(threshold) * F.col("__nb"), 9))
            & (
                1
                + F.least(
                    F.col("__na") - F.col("__pa"),
                    F.col("__nb") - F.col("__pb"),
                )
                >= alpha
            )
        )
        .select("a", "b", "__na", "__nb")
        .distinct()
    )
    ids = (
        cand.select(F.col("a").alias(id_col))
        .union(cand.select(F.col("b").alias(id_col)))
        .distinct()
    )
    pruned = sets.join(F.broadcast(ids), on=id_col, how="left_semi")
    if prescreen:
        # Stage 1: hashed-fingerprint prescreen (see docstring).
        # Persisted — it feeds both sides of the pair join.
        hsets = tracked_persist(
            pruned.select(
                F.col(id_col),
                F.array_sort(
                    F.array_distinct(
                        F.transform("__sh", lambda s: F.xxhash64(s))
                    )
                ).alias("__hh"),
            )
        )
        ha = hsets.select(
            F.col(id_col).alias("a"), F.col("__hh").alias("__ha")
        )
        hb = hsets.select(
            F.col(id_col).alias("b"), F.col("__hh").alias("__hb")
        )
        # J(A,B) >= t  <=>  I >= t/(1+t) * (|A|+|B|)  (|A|,|B| are the
        # TRUE set sizes carried through cand); +1 = the one-collision
        # credit. Same bound expression as the positional filter's alpha
        # above — reuse it so the two stages can never drift apart.
        required = alpha
        survivors = (
            cand.join(ha, "a").join(hb, "b")
            .filter(
                F.size(F.array_intersect(F.col("__ha"), F.col("__hb"))) + 1
                >= required
            )
            .select("a", "b")
        )
    else:
        survivors = cand.select("a", "b")
    # Stage 2: exact string-set verification of the few survivors.
    sa = pruned.select(F.col(id_col).alias("a"), F.col("__sh").alias("__sa"))
    sb = pruned.select(F.col(id_col).alias("b"), F.col("__sh").alias("__sb"))
    return (
        survivors.join(sa, "a").join(sb, "b")
        .withColumn("jaccard", F.round(jaccard(F.col("__sa"), F.col("__sb")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bits: int = 32,
    portable: bool = True,
) -> DataFrame:
    """Per-document SimHash signature: each output bit is the majority vote
    of that bit across all token hashes (ties -> 0). One narrow pass, no
    shuffle at all — the cheapest near-dup signature at scale."""
    df = ensure_parallelism(df)  # per-token hashing is CPU-bound
    hts = F.transform(tokens(text_col), lambda t: _base_hash(t, portable))
    n = F.size(hts)
    acc = F.lit(0).cast("long")
    for i in range(bits):
        mask = F.lit(1 << i).cast("long")
        pop = F.size(F.filter(hts, lambda h: h.bitwiseAND(mask) != 0))
        acc = acc + F.when(pop * 2 > n, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return df.select(F.col(id_col), acc.alias("simhash"))


def simhash_sql(id_expr: str, text_expr: str, *, bits: int = 32) -> str:
    """DuckDB SELECT-list fragment matching :func:`simhash` (portable mode)."""
    toks = tokens_sql(text_expr)
    hts = (f"list_transform({toks},"
           f" t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)")
    terms = []
    for i in range(bits):
        mask = 1 << i
        terms.append(
            f"(CASE WHEN 2 * len(list_filter(__hts, h -> (h & {mask}) != 0))"
            f" > len(__hts) THEN {mask}::BIGINT ELSE 0::BIGINT END)"
        )
    total = " + ".join(terms)
    return (
        f"SELECT {id_expr}, ({total}) AS simhash "
        f"FROM (SELECT *, {hts} AS __hts FROM documents)"
    )


def connected_components(
    edges: DataFrame, *, max_iterations: int = 15,
    driver_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs (columns a, b): every vertex
    converges to the minimum doc id reachable from it. Returns
    (id, cluster, is_canonical).

    This is the step that turns pair DETECTION into actual DEDUP: keep one
    canonical doc per component, drop the rest.

    Two execution paths, chosen by edge count, from ONE bounded read of
    the cached edges (``edges.limit(driver_edge_threshold + 1).toArrow()``:
    one job at any partition count, each partition limited on its
    executor, at most threshold + 1 rows shipped as Arrow batches):
    - At most ``driver_edge_threshold`` edges: driver-side union-find over
      the collected rows. The near-dup pair graph is typically orders of
      magnitude smaller than the corpus (only suspected duplicates
      appear), so one collect replaces ~diameter distributed jobs; even at
      100 TB of documents a few million near-dup pairs fit on the driver.
    - More: distributed min-label propagation, one join + aggregate per
      iteration, exiting at fixpoint; only the `changed` counter crosses
      to the driver. Its bidirectional checkpoint reads the cache the
      bounded read filled, so the upstream pipeline runs once either way.
    """
    spark = edges.sparkSession
    # persist: `edges` is usually an expensive pipeline (the LSH verify);
    # the bounded read fills the cache and the distributed path re-reads it
    edges = edges.select("a", "b").persist()
    fwd = edges.limit(driver_edge_threshold + 1).toArrow()
    if fwd.num_rows <= driver_edge_threshold:
        edges.unpersist()
        # Union-find is direction-agnostic: the FORWARD edges suffice (no
        # union/distinct shuffle at all).
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(fwd.column("a").to_pylist(),
                        fwd.column("b").to_pylist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by value: smaller id becomes the root so the
                # canonical label equals the component minimum
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(x, find(x), x == find(x)) for x in parent]
        # id type follows the edge columns: doc-dedup passes longs, the
        # ER path (er_clusters) passes name strings — min-label/union-by-
        # smaller semantics are identical under any ordered type
        id_t = edges.schema["a"].dataType.simpleString()
        return spark.createDataFrame(
            rows, f"id {id_t}, cluster {id_t}, is_canonical boolean"
        )
    # localCheckpoint (eager) rather than persist: an iterative algorithm's
    # lineage otherwise COMPOUNDS — by iteration N the logical plan embeds N
    # copies of the upstream pipeline (here: the whole LSH verify), and plan
    # analysis/stringification alone can OOM the driver long before any data
    # does. Checkpointing truncates lineage to the stored partitions each
    # round; the stored RDDs are label tables (two longs per vertex), tiny
    # relative to the corpus.
    bidir = (
        edges
        .union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    edges.unpersist()
    labels = (
        bidir.select(F.col("a").alias("id")).distinct()
        .withColumn("cluster", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        neigh = (
            bidir.join(labels, bidir.b == labels.id)
            .groupBy(bidir.a.alias("id"))
            .agg(F.min("cluster").alias("ncluster"))
        )
        new_labels = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("cluster"), F.coalesce("ncluster", F.col("cluster"))
                ).alias("cluster"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("cluster", "old"), "id"
            )
            .filter(F.col("cluster") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.withColumn("is_canonical", F.col("id") == F.col("cluster"))


def keep_best_per_cluster(
    labels: DataFrame,
    quality: DataFrame,
    *,
    id_col: str = "id",
    quality_col: str = "quality_score",
) -> DataFrame:
    """Quality-aware canonical selection: given near-dup cluster labels
    (``id``, ``cluster`` — :func:`connected_components` output) and a
    per-document quality table, keep the HIGHEST-quality member of each
    cluster (ties broken by lowest id, so the choice is deterministic).

    This is the production dedup policy most curation stacks actually want:
    min-id canonicalization keeps an arbitrary member, while training
    pipelines keep the best-scoring duplicate (longest/cleanest version of
    the page). One join on id + one shuffle on cluster (the row_number
    window); both sides are label tables (a few columns), never the corpus.
    """
    w = Window.partitionBy("cluster").orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    return (
        labels.select(id_col, "cluster")
        .join(quality.select(id_col, quality_col), id_col)
        .withColumn("__rk", F.row_number().over(w))
        .withColumn("is_kept", F.col("__rk") == 1)
        .drop("__rk")
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two simhash signatures (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def duplicate_chunk_stats(
    df: DataFrame,
    *,
    window: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact chunk-level duplication stats (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    exact-substring posture, at fixed non-overlapping ``window``-token
    granularity): per document, how many of its chunks appear verbatim in
    at least one OTHER document. The per-doc dup_ratio is the standard
    drop/trim signal for boilerplate and mirror detection — finer-grained
    than doc-level exact dedup, cheaper than suffix arrays.

    Scale shape: chunking is narrow (operators/curation.py:doc_chunks with
    stride == window); chunk hashes groupBy and join back on the SAME
    64-bit hash key, so the second join co-partitions with the first
    aggregate's exchange; the final per-doc rollup is one more
    partial+final agg. Nothing is ever all-pairs and no text string is
    carried past the hash projection."""
    from flink_kafka_table_api_spark.operators.curation import doc_chunks

    chunks = doc_chunks(
        df, window=window, stride=window, id_col=id_col, text_col=text_col
    ).select(
        F.col(id_col),
        portable_hash64(F.col("chunk_text")).alias("__ch"),
    )
    doc_counts = chunks.groupBy("__ch").agg(
        F.count_distinct(F.col(id_col)).alias("__nd")
    )
    return (
        chunks.join(doc_counts, "__ch")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("__nd") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
        )
        .withColumn(
            "dup_ratio",
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6),
        )
    )


def cdc_chunk_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    boundary_mod: int = 8,
) -> DataFrame:
    """Content-defined chunking (CDC) duplication stats — the
    shift-robust sibling of :func:`duplicate_chunk_stats`. Fixed windows
    break on insertion: one added token shifts EVERY later 16-token chunk,
    so a near-identical doc shares no fixed chunks. CDC cuts after any
    token whose hash % ``boundary_mod`` == 0 (FastCDC/Rabin posture at
    token granularity): boundaries depend only on LOCAL content, so an
    edit perturbs at most the chunk containing it and duplicated spans
    elsewhere re-align — expected chunk length = ``boundary_mod`` tokens.

    Returns per-doc (n_chunks, n_dup_chunks, dup_ratio) where a chunk is
    "dup" iff it appears verbatim in >= 2 distinct documents.

    Scale shape: chunking is pure narrow HOF array algebra (no explode
    until the chunk rows are formed); the stats stage is the same
    hash-keyed groupBy + co-partitioned join as duplicate_chunk_stats —
    no text is carried past the 60-bit chunk hash. Boundaries use the
    portable md5 hash so the oracle replays them exactly; a production
    run swaps xxhash64 in for scan-speed boundary detection.
    """
    df = ensure_parallelism(df)
    toks_col = tokens(text_col)
    base = df.select(F.col(id_col), toks_col.alias("__t")).filter(
        F.size("__t") >= 1
    )
    t = F.col("__t")
    # ONE left fold over the tokens builds the chunk list directly:
    # accumulate tokens into `cur`, flush to `done` after each boundary
    # token, finish by flushing the tail. Exactly one hash per token —
    # the index-based formulation (element_at over a cuts array) inlines
    # the whole cuts computation into every chunk lookup under Catalyst's
    # CollapseProject, going quadratic per document (measured 173 s for
    # the sf0.1 corpus vs ~4 s for this fold).
    empty = F.array().cast("array<string>")
    chunks_expr = F.aggregate(
        t,
        F.struct(empty.alias("done"), empty.alias("cur")),
        lambda acc, tok: F.when(
            portable_hash64(tok) % boundary_mod == 0,
            F.struct(
                F.concat(
                    acc["done"],
                    F.array(
                        F.array_join(F.concat(acc["cur"], F.array(tok)), " ")
                    ),
                ).alias("done"),
                empty.alias("cur"),
            ),
        ).otherwise(
            F.struct(
                acc["done"].alias("done"),
                F.concat(acc["cur"], F.array(tok)).alias("cur"),
            )
        ),
        lambda acc: F.when(
            F.size(acc["cur"]) > 0,
            F.concat(acc["done"], F.array(F.array_join(acc["cur"], " "))),
        ).otherwise(acc["done"]),
    )
    with_chunks = base.select(F.col(id_col), chunks_expr.alias("__chunks"))
    chunks = with_chunks.select(
        F.col(id_col),
        F.explode("__chunks").alias("__chunk"),
    ).select(F.col(id_col), portable_hash64(F.col("__chunk")).alias("__ch"))
    doc_counts = chunks.groupBy("__ch").agg(
        F.count_distinct(F.col(id_col)).alias("__nd")
    )
    return (
        chunks.join(doc_counts, "__ch")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("__nd") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
        )
        .withColumn(
            "dup_ratio",
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6),
        )
    )


def fuzzy_pairs_dist1(
    df: DataFrame,
    *,
    id_col: str,
    name_col: str,
) -> DataFrame:
    """Fuzzy string matching (entity resolution) at edit distance <= 1 via
    SymSpell-style delete-1 neighborhoods: every string emits itself plus
    its len(s) single-character deletions; two strings within Levenshtein
    distance 1 provably share at least one variant, so the candidate set
    is an equi-join on the variant — NEVER an all-pairs or
    prefix-block-quadratic comparison. Explosion factor is len+1 (bounded
    by the name length), each variant bucket is tiny, and the final
    levenshtein() verify runs only on candidates. Returns distinct
    (a, b, a_name, b_name, dist) pairs with a < b.

    Scale shape: one shuffle on the variant string, one distinct over
    candidate pairs (keyed shuffle on the pair), integer-exact verify —
    the standard large-corpus spell/ER blocking (SymSpell), quadratic
    nowhere. Distance k>1 needs k-delete neighborhoods; this operator
    fixes k=1, the common ER/typo case."""
    s = F.col("__name")
    variants = (
        df.select(
            F.col(id_col).alias("__id"), F.col(name_col).alias("__name")
        )
        .withColumn(
            "__v",
            F.explode(F.array_distinct(F.transform(
                F.sequence(F.lit(0), F.length(s)),
                lambda i: F.when(i == F.lit(0), s).otherwise(
                    F.concat(
                        F.substring(s, F.lit(1), i - 1),
                        F.substring(s, i + 1, F.length(s)),
                    )
                ),
            ))),
        )
    )
    a = variants.select(
        F.col("__id").alias("a"), F.col("__name").alias("a_name"), "__v"
    )
    b = variants.select(
        F.col("__id").alias("b"), F.col("__name").alias("b_name"), "__v"
    )
    return (
        a.join(b, "__v")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "a_name", "b_name")
        .distinct()
        .withColumn("dist", F.levenshtein("a_name", "b_name"))
        .filter(F.col("dist") <= 1)
    )


def substring_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 10,
    portable: bool = True,
) -> DataFrame:
    """Exact substring-overlap dedup statistics — the windowed-hash
    formulation of ExactSubstr from Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (ACL 2022; they build suffix
    arrays, the fixed-k rolling-window hash is the standard scalable
    approximation). Finds text REUSED VERBATIM across or within
    documents at sub-document granularity — the duplication mode that
    document-level (dedup_exact/minhash) and chunk-level
    (duplicate_chunk_stats/cdc_chunk_stats) dedup both miss when a
    boilerplate paragraph is embedded in otherwise-distinct documents.

    Per input row: every overlapping k-token window (kgram_strings;
    shorter docs collapse to one whole-doc window), hashed; a window is
    DUPLICATED when its hash occurs >= 2 times corpus-wide (cross- or
    intra-document, as in the paper). Output per document:
    n_tokens, n_windows, n_dup_windows, n_dup_spans (maximal duplicated
    regions — overlapping/touching windows merged, i.e. consecutive dup
    positions closer than k), covered_dup_tokens (union length of the
    duplicated windows' token intervals, capped at n_tokens), and
    dup_window_fraction (single IEEE division of the two counts —
    cross-engine exact).

    Scale shape, all linear in corpus tokens: one posexplode (n_tokens
    rows/doc) -> partial-agg count keyed by the 60-bit window hash (the
    shuffle carries (hash, count), never window text) -> left-semi join
    of windows against the >=2 hashes (sparse survivor set) -> per-doc
    lag window + two-level span agg on survivors only. The per-doc
    totals (n_tokens, n_windows) come straight off the un-exploded
    array, and the exploded (id, pos, hash) relation is tracked-persisted
    across its two consumers so tokenize+hash runs once.
    ``portable=False`` swaps the md5 portable hash for codegen'd
    xxhash64 (production path, same plan)."""
    from flink_kafka_table_api_spark.operators.text import kgram_strings

    toks = tokens(text_col)
    grams = kgram_strings(toks, k)
    base = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(grams).cast("long").alias("n_windows"),
    )
    # (id, pos, hash) is consumed twice (corpus-wide frequency + the
    # survivor semi-join); tracked-persist it so the tokenize+hash pass
    # runs once — ~24 bytes/token cached vs re-scanning the raw text
    # (released at query boundaries via caching.release_cached, same
    # contract as the LSH pipeline's signature cache)
    from flink_kafka_table_api_spark.caching import tracked_persist

    win = tracked_persist(
        df.select(
            F.col(id_col), F.posexplode(grams).alias("__pos", "__g")
        ).select(
            id_col, "__pos", _base_hash(F.col("__g"), portable).alias("__h")
        )
    )
    dup_hashes = (
        win.groupBy("__h").agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("__h")
    )
    survivors = win.join(dup_hashes, "__h", "left_semi")
    wdoc = Window.partitionBy(id_col).orderBy("__pos")
    spans = (
        survivors.withColumn("__prev", F.lag("__pos").over(wdoc))
        .withColumn(
            "__new",
            (
                F.col("__prev").isNull()
                | ((F.col("__pos") - F.col("__prev")) >= k)
            ).cast("long"),
        )
        .withColumn(
            "__sid",
            F.sum("__new").over(
                wdoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy(id_col, "__sid")
        .agg(
            F.count("*").alias("__nw"),
            (F.max("__pos") - F.min("__pos") + k).alias("__cov"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("__nw").cast("long").alias("n_dup_windows"),
            F.count("*").cast("long").alias("n_dup_spans"),
            F.sum("__cov").cast("long").alias("__cov_sum"),
        )
    )
    return (
        base.join(spans, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).cast("long")
            .alias("n_dup_windows"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long")
            .alias("n_dup_spans"),
            F.least(
                F.coalesce("__cov_sum", F.lit(0)), F.col("n_tokens")
            ).cast("long").alias("covered_dup_tokens"),
            (
                F.coalesce("n_dup_windows", F.lit(0))
                / F.col("n_windows")
            ).alias("dup_window_fraction"),
        )
    )


def strip_dup_substrings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 10,
    portable: bool = True,
) -> DataFrame:
    """Exact substring-overlap dedup, the REMOVAL step (Lee et al. ACL
    2022 ExactSubstr: "we remove all but one occurrence"): for every
    k-token window duplicated corpus-wide, keep the CANONICAL occurrence
    — the lexicographically first (id, pos) — and delete the tokens
    covered by every other occurrence, rebuilding each document's text
    from its surviving tokens. Complements
    :func:`substring_dup_stats` (which only measures): run stats to
    tune k, then strip.

    Determinism: the canonical occurrence is a pure function of the data
    (min (id, pos) per window group), so output text is reproducible
    run-to-run and engine-to-engine. Removal is token-index based:
    overlapping non-canonical windows union their covered indices, so a
    token is dropped once no matter how many duplicated windows cover
    it. Short docs (< k tokens) are one whole-doc window — a duplicate
    short doc keeps its first copy and empties the rest, which is
    exactly document-level exact dedup degenerating out of the same
    rule.

    Scale shape: the frequency pass and survivor semi-join are
    substring_dup_stats' linear shuffles; the canonical pick is one
    min_by per duplicated hash (aggregate on the sparse survivor set);
    index expansion (sequence(pos, pos+k-1) -> explode) happens ONLY for
    non-canonical duplicated windows, so the k-fold row amplification is
    confined to the text actually being deleted; reconstruction is one
    per-doc aggregation of (index, token) pairs — sort_array of the
    surviving struct list, never a window over the corpus."""
    from flink_kafka_table_api_spark.caching import tracked_persist
    from flink_kafka_table_api_spark.operators.text import kgram_strings

    toks = tokens(text_col)
    grams = kgram_strings(toks, k)
    win = tracked_persist(
        df.select(
            F.col(id_col), F.posexplode(grams).alias("__pos", "__g")
        ).select(
            id_col, "__pos", _base_hash(F.col("__g"), portable).alias("__h")
        )
    )
    dup_hashes = (
        win.groupBy("__h").agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= 2).select("__h")
    )
    survivors = win.join(dup_hashes, "__h", "left_semi")
    canon = survivors.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__c")
    )
    doomed = (
        survivors.join(canon, "__h")
        .filter(
            ~(
                (F.col(id_col) == F.col(f"__c.{id_col}"))
                & (F.col("__pos") == F.col("__c.__pos"))
            )
        )
        .select(id_col, "__pos")
    )
    # short docs' whole-doc fallback window covers n_tokens < k tokens;
    # cap the removal interval at the doc's own length
    doc_len = df.select(
        F.col(id_col), F.size(toks).cast("long").alias("__len")
    )
    removal = (
        doomed.join(doc_len, id_col)
        .select(
            id_col,
            F.explode(
                F.sequence(
                    F.col("__pos"),
                    F.least(
                        F.col("__pos") + (k - 1), F.col("__len") - 1
                    ),
                )
            ).alias("__idx"),
        )
        .distinct()
    )
    toks_idx = df.select(
        F.col(id_col), F.posexplode(toks).alias("__idx", "__tok")
    )
    kept = toks_idx.join(removal, [id_col, "__idx"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__idx"), F.col("__tok")))
                ),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_kept_tokens"),
    )
    return (
        doc_len.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.col("__len").alias("n_tokens"),
            F.coalesce("n_kept_tokens", F.lit(0)).cast("long")
            .alias("n_kept_tokens"),
            (F.col("__len") - F.coalesce("n_kept_tokens", F.lit(0)))
            .cast("long").alias("n_removed_tokens"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    shingle_k: int = 3,
    threshold: float = 0.5,
    portable: bool = True,
) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup detection (Broder 1997's second
    resemblance measure: c(A,B) = |A ∩ B| / |A|): the quote/subset
    detector Jaccard is structurally blind to. A short document fully
    embedded in a long one has jaccard ≈ |A|/|B| (arbitrarily small —
    `lsh_verified_pairs` at threshold 0.5 never sees it) but
    containment_a = 1.0. The signal that catches boilerplate inclusion,
    quotation, and partial plagiarism between documents of very
    different lengths.

    Same scale pipeline as :func:`lsh_verified_pairs` — MinHash
    signatures -> band buckets -> candidate pairs -> semi-join-pruned
    exact verification — with the verify stage scoring both containment
    directions plus jaccard. Recall note, honestly stated: symmetric
    MinHash-LSH under-recalls low-jaccard/high-containment pairs (band
    collision probability tracks JACCARD); at production scale the
    candidate stage for pure containment hunting should block on the
    SHORTER side's shingles (prefix postings) — on this corpus the
    shared band buckets surface the containment pairs that exist, and
    the oracle replays the identical candidate set, so the gate checks
    the verify semantics exactly.

    Returns (a, b, size_a, size_b, intersection, containment_a,
    containment_b, jaccard) for candidate pairs where
    max(containment_a, containment_b) >= threshold; fractions are
    round(x, 6) single divisions of exact integers (the standing
    portable recipe), filtered on the ROUNDED values so both engines
    make the identical keep decision."""
    from flink_kafka_table_api_spark.caching import tracked_persist

    sigs = tracked_persist(minhash_signatures(
        df, id_col, text_col,
        num_hashes=num_hashes, shingle_k=shingle_k, portable=portable,
    ))
    cand = tracked_persist(lsh_candidate_pairs(
        lsh_bands(sigs, id_col, bands=bands, rows_per_band=rows_per_band),
        id_col,
    ))
    ids = (
        cand.select(F.col("a").alias(id_col))
        .union(cand.select(F.col("b").alias(id_col)))
        .distinct()
    )
    sets = tracked_persist(
        df.join(F.broadcast(ids), on=id_col, how="left_semi").select(
            F.col(id_col), shingles(text_col, shingle_k).alias("__sh")
        )
    )
    a = sets.select(F.col(id_col).alias("a"), F.col("__sh").alias("__sa"))
    b = sets.select(F.col(id_col).alias("b"), F.col("__sh").alias("__sb"))
    inter = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    sz_a = F.size(F.col("__sa"))
    sz_b = F.size(F.col("__sb"))
    scored = (
        cand.join(a, "a").join(b, "b")
        .select(
            "a",
            "b",
            sz_a.cast("long").alias("size_a"),
            sz_b.cast("long").alias("size_b"),
            inter.cast("long").alias("intersection"),
        )
        .withColumn(
            "containment_a",
            F.round(
                F.when(
                    F.col("size_a") > 0,
                    F.col("intersection").cast("double")
                    / F.col("size_a").cast("double"),
                ).otherwise(0.0),
                6,
            ),
        )
        .withColumn(
            "containment_b",
            F.round(
                F.when(
                    F.col("size_b") > 0,
                    F.col("intersection").cast("double")
                    / F.col("size_b").cast("double"),
                ).otherwise(0.0),
                6,
            ),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.when(
                    (F.col("size_a") + F.col("size_b")
                     - F.col("intersection")) > 0,
                    F.col("intersection").cast("double")
                    / (F.col("size_a") + F.col("size_b")
                       - F.col("intersection")).cast("double"),
                ).otherwise(0.0),
                6,
            ),
        )
    )
    return scored.filter(
        F.greatest(F.col("containment_a"), F.col("containment_b"))
        >= F.lit(threshold)
    )


def lsh_recall_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.5,
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    portable: bool = True,
) -> DataFrame:
    """Measured LSH recall, per similarity band: join the MinHash-LSH
    pipeline's verified pairs (:func:`lsh_verified_pairs`) against the
    EXACT similarity self-join (:func:`prefix_filter_pairs` — ground
    truth with no probabilistic misses) at the same threshold, and
    report per 0.1-wide jaccard band how many true pairs the LSH path
    found. The "measure, don't guess" primitive for tuning
    bands/rows_per_band in production: the S-curve P(candidate) =
    1-(1-j^r)^b is a model; this operator is the measurement. LSH
    precision is 1.0 by construction (its verify stage computes exact
    jaccard), so recall is the only free metric.

    Returns (band_lo, n_true_pairs, n_lsh_found, recall) — one row per
    occupied band, band_lo = floor(jaccard*10)/10 computed from the
    ROUNDED jaccard both engines share; counts exact, recall one
    round(x, 6) division.

    Scale shape: both inputs are the scalable pipelines (prefix-posting
    join for truth, per-bucket id lists for LSH); the audit itself adds one
    broadcast-sized join of two pair tables and a tiny banded aggregate.
    Run it on a SAMPLE of the corpus at 100 TB — recall is a property of
    the hash family and the similarity distribution, not of corpus
    size."""
    truth = prefix_filter_pairs(
        df, id_col, text_col,
        threshold=threshold, shingle_k=shingle_k,
    ).select("a", "b", "jaccard")
    found = lsh_verified_pairs(
        df, id_col, text_col,
        num_hashes=num_hashes, bands=bands,
        rows_per_band=rows_per_band, shingle_k=shingle_k,
        threshold=threshold, portable=portable,
    ).select("a", "b", F.lit(1).alias("__hit"))
    joined = truth.join(found, ["a", "b"], "left")
    band = (F.floor(F.col("jaccard") * 10) / 10).alias("band_lo")
    return (
        joined.groupBy(band)
        .agg(
            F.count("*").cast("long").alias("n_true_pairs"),
            F.count("__hit").cast("long").alias("n_lsh_found"),
        )
        .select(
            "band_lo",
            "n_true_pairs",
            "n_lsh_found",
            F.round(
                F.col("n_lsh_found").cast("double")
                / F.col("n_true_pairs").cast("double"),
                6,
            ).alias("recall"),
        )
    )


def edit_similarity_join(
    df: DataFrame,
    *,
    name_col: str,
    k: int = 2,
    q: int = 2,
) -> DataFrame:
    """Edit-distance similarity self-join at threshold ``k`` (entity
    resolution / catalog dedup beyond :func:`fuzzy_pairs_dist1`'s k=1):
    all DISTINCT string pairs within Levenshtein distance <= k, found by
    the q-gram count filter of Gravano et al. (VLDB '01, "Approximate
    String Joins in a Database (Almost) for Free") / Ed-Join (Xiao et
    al., VLDB '08): one edit destroys at most ``q`` q-grams, so strings
    within distance k share at least ``max(len_a, len_b) - q + 1 - k*q``
    q-grams — an equi-join on q-grams + a count threshold is a complete
    candidate generator, and the exact ``levenshtein()`` verify runs
    only on candidates. Multiset q-gram intersection is computed
    EXACTLY by joining on (gram, occurrence#) so repeated grams count
    min(m_a, m_b) times, never m_a*m_b.

    Strings too short for a positive threshold (len < q*(k+1)) cannot be
    pruned by the filter, so they route through a SHORT block: a
    broadcast join of the (bounded: every string < q*(k+1) chars drawn
    from a finite alphabet) short-name set against all names within the
    +-k length window. short-short and short-long pairs come from that
    block, long-long pairs from the q-gram block; the two blocks
    partition the pair space, so no pair is found twice.

    Returns (a_name, b_name, dist, n_a, n_b) with a_name < b_name, where
    n_* are the input's per-name row counts (the dedup merge weight).
    All columns integer/string exact — no float anywhere.

    Scale shape: one groupBy shuffle corpus -> distinct names; one
    window shuffle of the positional-gram table (sum-of-name-lengths
    sized, NOT corpus sized); one equi-join on (gram, occ) whose output
    is bounded by shared-gram pairs (the count filter prunes before the
    O(len^2) levenshtein); one broadcast of the constant-bounded short
    set. No all-pairs execution path at any size."""
    min_long = q * (k + 1)
    names = ensure_parallelism(df).groupBy(
        F.col(name_col).alias("name")
    ).agg(F.count("*").cast("long").alias("n"))
    from flink_kafka_table_api_spark.caching import tracked_persist

    names = tracked_persist(names.withColumn("len", F.length("name")))

    long_names = names.filter(F.col("len") >= min_long)
    short_names = names.filter(F.col("len") < min_long)

    # -- LONG x LONG: positional q-grams with per-gram occurrence index
    grams = long_names.select(
        "name", "len", "n",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("len") - q + 1),
                lambda i: F.substring(F.col("name"), i, q),
            )
        ).alias("pos", "gram"),
    )
    occ_w = Window.partitionBy("name", "gram").orderBy("pos")
    grams = grams.withColumn("occ", F.row_number().over(occ_w))
    ga = grams.select(
        F.col("name").alias("a_name"), F.col("len").alias("a_len"),
        F.col("n").alias("n_a"), "gram", "occ",
    )
    gb = grams.select(
        F.col("name").alias("b_name"), F.col("len").alias("b_len"),
        F.col("n").alias("n_b"), "gram", "occ",
    )
    long_pairs = (
        ga.join(gb, ["gram", "occ"])
        .filter(
            (F.col("a_name") < F.col("b_name"))
            & (F.abs(F.col("a_len") - F.col("b_len")) <= k)
        )
        .groupBy("a_name", "b_name", "a_len", "b_len", "n_a", "n_b")
        .agg(F.count("*").alias("shared"))
        .filter(
            F.col("shared")
            >= F.greatest("a_len", "b_len") - q + 1 - k * q
        )
        .withColumn("dist", F.levenshtein("a_name", "b_name"))
        .filter(F.col("dist") <= k)
        .select("a_name", "b_name", "dist", "n_a", "n_b")
    )

    # -- SHORT x ALL: at least one side shorter than q*(k+1)
    s = short_names.select(
        F.col("name").alias("s_name"), F.col("len").alias("s_len"),
        F.col("n").alias("s_n"),
    )
    t = names.select(
        F.col("name").alias("t_name"), F.col("len").alias("t_len"),
        F.col("n").alias("t_n"),
    )
    short_pairs = (
        F.broadcast(s)
        .join(
            t,
            (F.col("s_name") != F.col("t_name"))
            & (F.abs(F.col("s_len") - F.col("t_len")) <= k),
        )
        .withColumn("dist", F.levenshtein("s_name", "t_name"))
        .filter(F.col("dist") <= k)
        .select(
            F.least("s_name", "t_name").alias("a_name"),
            F.greatest("s_name", "t_name").alias("b_name"),
            "dist",
            F.when(F.col("s_name") < F.col("t_name"), F.col("s_n"))
            .otherwise(F.col("t_n")).alias("n_a"),
            F.when(F.col("s_name") < F.col("t_name"), F.col("t_n"))
            .otherwise(F.col("s_n")).alias("n_b"),
        )
        .distinct()  # short-short pairs arrive once from each side
    )
    return long_pairs.unionByName(short_pairs)


def edit_similarity_join_sql(
    src: str, name_expr: str, *, k: int = 2
) -> str:
    """DuckDB oracle for :func:`edit_similarity_join`: the brute-force
    distinct-name self-join (quadratic — oracle only, the operator never
    executes this shape) with the same length filter and exact
    levenshtein threshold."""
    return f"""
    WITH names AS (
      SELECT {name_expr} AS name, CAST(COUNT(*) AS BIGINT) AS n
      FROM {src} GROUP BY {name_expr}
    )
    SELECT x.name AS a_name, y.name AS b_name,
           CAST(levenshtein(x.name, y.name) AS INTEGER) AS dist,
           x.n AS n_a, y.n AS n_b
    FROM names x JOIN names y
      ON x.name < y.name
     AND abs(length(x.name) - length(y.name)) <= {k}
    WHERE levenshtein(x.name, y.name) <= {k}
    """


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct k-token shingles whose corpus-FIRST occurrence (minimum
    ``id_col``, i.e. ingestion order) is this document. The
    memorization / boilerplate-attribution audit: a crawl snapshot full
    of templated pages shows novelty collapsing toward 0 for late
    near-copies while the originals keep it high — the per-document
    complement of the corpus-level dup_ngram_coverage stat, and the
    signal curation stacks use to keep the FIRST copy rather than a
    random one.

    Returns (doc_id, n_ngrams, n_novel, novelty) — counts exact,
    novelty = round(n_novel / n_ngrams, 6). Every document yields >= 1
    shingle (short docs collapse to one whole-doc gram, empty docs to
    one '' gram — the :func:`shingles` contract), so the ratio is total.

    Scale shape: three keyed shuffles, all corpus-shingle sized, no
    pair space anywhere: explode distinct shingles -> min-doc aggregate
    per gram (map-side partial min) -> gram-keyed join back (AQE reuses
    the aggregate's partitioning) -> doc-keyed count aggregate. The
    min-attribution makes it deterministic under any execution order."""
    ex = ensure_parallelism(df).select(
        F.col(id_col), F.explode(shingles(text_col, k)).alias("gram")
    )
    first = ex.groupBy("gram").agg(F.min(id_col).alias("__first_doc"))
    return (
        ex.join(first, "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_ngrams"),
            F.count(
                F.when(F.col("__first_doc") == F.col(id_col), F.lit(1))
            ).cast("long").alias("n_novel"),
        )
        .select(
            id_col,
            "n_ngrams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_ngrams").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


def ngram_novelty_sql(*, k: int = 3) -> str:
    """DuckDB replay of :func:`ngram_novelty` over the documents table
    (same shingle construction via :func:`shingles_sql`, same
    min-doc_id attribution)."""
    return f"""
    WITH ex AS (
      SELECT doc_id, unnest({shingles_sql('text', k)}) AS gram
      FROM documents
    ),
    firsts AS (
      SELECT gram, MIN(doc_id) AS first_doc FROM ex GROUP BY gram
    )
    SELECT e.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_ngrams,
           CAST(COUNT(*) FILTER (WHERE f.first_doc = e.doc_id)
                AS BIGINT) AS n_novel,
           round(CAST(COUNT(*) FILTER (WHERE f.first_doc = e.doc_id)
                      AS DOUBLE) / COUNT(*), 6) AS novelty
    FROM ex e JOIN firsts f ON e.gram = f.gram
    GROUP BY e.doc_id
    """


def er_clusters(
    df: DataFrame,
    *,
    name_col: str,
    k: int = 2,
    q: int = 2,
) -> DataFrame:
    """Entity-resolution clustering: connected components over the
    :func:`edit_similarity_join` pair graph, with the cluster's
    CANONICAL spelling chosen by attestation (the member with the most
    input rows, ties to the lexicographically smallest) — the policy a
    catalog/author-name cleanup actually applies, vs the arbitrary
    min-id the doc-dedup path uses. Transitivity is deliberate ER
    semantics: 'jon smith' ~ 'john smith' ~ 'john smyth' merge even
    though the endpoints sit at distance 2k.

    Returns (name, n, cluster, canonical_name) — cluster is the
    component's minimum name (the CC label), canonical_name the
    attestation winner; singleton names cluster as themselves. All
    string/integer exact.

    Scale shape: the pair graph is vocabulary-sized (distinct names),
    orders of magnitude smaller than the corpus; CC takes the
    driver union-find path under 2M edges and distributed min-label
    propagation above (:func:`connected_components`). The canonical
    pick is one keyed min(struct) aggregate + a broadcast-sized
    join back."""
    names = ensure_parallelism(df).groupBy(
        F.col(name_col).alias("name")
    ).agg(F.count("*").cast("long").alias("n"))
    pairs = edit_similarity_join(df, name_col=name_col, k=k, q=q)
    cc = connected_components(
        pairs.select(F.col("a_name").alias("a"), F.col("b_name").alias("b"))
    ).select(F.col("id").alias("name"), F.col("cluster"))
    labeled = names.join(cc, "name", "left").select(
        "name", "n", F.coalesce("cluster", "name").alias("cluster")
    )
    canon = (
        labeled.groupBy("cluster")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n")).alias("negn"), F.col("name").alias("name")
                )
            ).alias("__c")
        )
        .select("cluster", F.col("__c.name").alias("canonical_name"))
    )
    return labeled.join(canon, "cluster").select(
        "name", "n", "cluster", "canonical_name"
    )


def er_clusters_sql(src: str, name_expr: str, *, k: int = 2) -> str:
    """DuckDB oracle for :func:`er_clusters`: recursive-CTE transitive
    closure over the brute-force pair graph (the dedup_clusters recipe)
    + window-ranked attestation winner."""
    return f"""
    WITH RECURSIVE names AS (
      SELECT {name_expr} AS name, CAST(COUNT(*) AS BIGINT) AS n
      FROM {src} GROUP BY {name_expr}
    ),
    pairs AS (
      SELECT x.name AS a, y.name AS b
      FROM names x JOIN names y
        ON x.name < y.name
       AND abs(length(x.name) - length(y.name)) <= {k}
      WHERE levenshtein(x.name, y.name) <= {k}
    ),
    bidir(a, b) AS (
      SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
    ),
    verts(id) AS (SELECT DISTINCT a FROM bidir),
    reach(id, r) AS (
      SELECT id, id FROM verts
      UNION
      SELECT e.b, reach.r FROM reach JOIN bidir e ON e.a = reach.id
    ),
    cc AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
    labeled AS (
      SELECT nm.name, nm.n, COALESCE(cc.cluster, nm.name) AS cluster
      FROM names nm LEFT JOIN cc ON nm.name = cc.id
    ),
    canon AS (
      SELECT cluster, name AS canonical_name
      FROM (
        SELECT cluster, name,
               ROW_NUMBER() OVER (PARTITION BY cluster
                                  ORDER BY n DESC, name ASC) AS rn
        FROM labeled
      ) WHERE rn = 1
    )
    SELECT l.name, l.n, l.cluster, c.canonical_name
    FROM labeled l JOIN canon c ON l.cluster = c.cluster
    """


def shingle_overlap_matrix(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    *,
    k: int = 3,
    top_n: int = 100,
) -> DataFrame:
    """Pairwise source-to-source content overlap: Jaccard similarity of
    each group's TOP-``top_n`` k-token shingles (by occurrence count,
    ties to the lexicographically smaller shingle). The corpus
    provenance audit — two "different" crawls sharing most of their
    frequent shingles are the same upstream content wearing two names,
    which per-document dedup only discovers pair by painful pair.
    Top-N head sets (not full vocabularies) keep the comparison
    boilerplate-weighted and the join bounded.

    Returns (group_a, group_b, n_a, n_b, n_common, jaccard) for every
    unordered group pair (group_a < group_b) sharing at least one head
    shingle — fully disjoint pairs are ABSENT rather than zero rows
    (at registry scale the matrix is sparse and the absence is the
    signal); sizes are actual head-set sizes (< top_n when a group's
    shingle vocabulary is smaller), all counts exact,
    jaccard = round(common / (n_a + n_b - common), 6).

    Scale shape: one corpus-shingle-sized (group, shingle) count
    aggregate; the per-group top-N is a keyed window over that
    aggregate; the intersection join ships |groups| * top_n rows.
    Output is |groups|^2 pairs — the operator is for source REGISTRIES
    (tens to thousands of groups), never document-level grouping."""
    tk = ensure_parallelism(df).select(
        F.col(group_col).alias("s"),
        F.explode(shingles(text_col, k)).alias("t"),
    )
    cnt = tk.groupBy("s", "t").agg(F.count("*").alias("c"))
    w = Window.partitionBy("s").orderBy(
        F.col("c").desc(), F.col("t").asc()
    )
    top = (
        cnt.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= top_n)
        .select("s", "t")
    )
    from flink_kafka_table_api_spark.caching import tracked_persist

    top = tracked_persist(top)
    sizes = top.groupBy("s").agg(F.count("*").cast("long").alias("sz"))
    inter = (
        top.select(F.col("s").alias("sa"), "t")
        .join(top.select(F.col("s").alias("sb"), "t"), "t")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(F.col("s").alias("sa"), F.col("sz").alias("n_a"))
            ),
            "sa",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("s").alias("sb"), F.col("sz").alias("n_b"))
            ),
            "sb",
        )
        .select(
            F.col("sa").alias("group_a"),
            F.col("sb").alias("group_b"),
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


def shingle_overlap_matrix_sql(
    group_expr: str = "source",
    *,
    k: int = 3,
    top_n: int = 100,
) -> str:
    """DuckDB oracle for :func:`shingle_overlap_matrix` over
    `documents` (same shingle construction via :func:`shingles_sql`,
    same ranked head sets)."""
    return f"""
    WITH tk AS (
      SELECT {group_expr} AS s, unnest({shingles_sql('text', k)}) AS t
      FROM documents
    ),
    cnt AS (SELECT s, t, COUNT(*) AS c FROM tk GROUP BY s, t),
    top AS (
      SELECT s, t FROM (
        SELECT s, t,
               ROW_NUMBER() OVER (PARTITION BY s
                                  ORDER BY c DESC, t ASC) AS r
        FROM cnt
      ) WHERE r <= {top_n}
    ),
    sizes AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS sz
              FROM top GROUP BY s),
    inter AS (
      SELECT a.s AS sa, b.s AS sb, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM top a JOIN top b ON a.t = b.t AND a.s < b.s
      GROUP BY a.s, b.s
    )
    SELECT i.sa AS group_a, i.sb AS group_b, x.sz AS n_a, y.sz AS n_b,
           i.n_common,
           round(CAST(i.n_common AS DOUBLE)
                 / CAST(x.sz + y.sz - i.n_common AS DOUBLE), 6)
             AS jaccard
    FROM inter i JOIN sizes x ON i.sa = x.s JOIN sizes y ON i.sb = y.s
    """
