"""Text-analysis operators over a documents table (EXT scope, BASELINE.json).

All operators are pure Catalyst expressions (split/filter/transform/regexp)
— no Python UDFs — so at 100 TB they run inside whole-stage codegen on the
scan's own partitions with zero shuffles (except where an aggregate is the
point). Tokenization is deliberately the same trivially-portable definition
in the DuckDB oracles: lowercase, split on whitespace runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.functions.portable import portable_hash64
from flink_kafka_table_api_spark.parallelism import ensure_parallelism

# Tiny per-language stopword profiles for the n-gram/stopword language-ID
# heuristic. Deliberately small so the oracle SQL stays writable; real
# deployments would swap in full profiles via the same operator shape.
STOPWORD_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "una", "es", "por"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"),
    "fr": ("le", "la", "de", "et", "que", "en", "un", "une", "est", "pour"),
    "zh": ("的", "了", "是", "在", "我", "有", "和", "不", "这", "也"),
}

ENGLISH_STOPWORDS = STOPWORD_PROFILES["en"]


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of lowercased text; empty strings removed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != "")


def tokens_sql(expr: str) -> str:
    return (f"list_filter(regexp_split_to_array(lower(trim({expr})), '\\s+'),"
            f" t -> t != '')")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def kgram_strings(toks: Column, k: int) -> Column:
    """Overlapping k-token windows rendered as strings (the Gopher
    repetition unit); short docs collapse to one whole-doc gram.

    Built as k-1 ``zip_with`` passes over shifted slices of the token
    array (one linear concat pass per shift) instead of
    ``transform(sequence(...), i -> array_join(slice(toks, i+1, k)))`` —
    the per-gram slice+join allocates a fresh sub-array per element under
    interpreted higher-order-function evaluation, and measures ~1.6-4x
    slower on the documents corpus for identical output."""
    n = F.size(toks)
    acc = F.slice(toks, 1, n - k + 1)
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(toks, 1 + j, n - k + 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(n >= k, acc).otherwise(F.array(F.array_join(toks, " ")))


def quality_score_col(text_col: str = "text") -> Column:
    """The :func:`with_quality_score` composite score as a bare Column
    (rounded to 6 places, exactly the value the feature frame carries).

    For callers that only need to FILTER on the score (the curation
    pipelines' quality gate), applying this column directly is one narrow
    projection over the input — the feature-frame + self-join shape
    re-executed the whole upstream plan twice per batch (measured ~0.5 s
    per micro-batch at sf0.1)."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(F.col(text_col))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*ENGLISH_STOPWORDS)))
    alnum_chars = F.length(
        F.regexp_replace(F.col(text_col), r"[^a-zA-Z0-9]", "")
    )
    stop_ratio = (
        F.when(n_tok > 0, stop_hits.cast("double") / n_tok).otherwise(0.0)
    )
    alnum_ratio = (
        F.when(n_chars > 0, alnum_chars.cast("double") / n_chars)
        .otherwise(0.0)
    )
    score = (
        F.when((n_tok >= 10) & (n_tok <= 1000), 0.4).otherwise(0.0)
        + stop_ratio * 0.3
        + alnum_ratio * 0.3
    )
    return F.round(score, 6)


def with_quality_score(
    df: DataFrame, text_col: str = "text", *, repetition_k: int | None = None
) -> DataFrame:
    """Heuristic document quality features + composite score.

    Features follow the standard LLM-data-curation recipe (length, mean word
    length, stopword ratio, alnum ratio); score is a transparent linear blend
    so the oracle can reproduce it exactly. With ``repetition_k`` set, the
    Gopher duplicate-k-gram signal (n_grams, repetition_ratio — see
    :func:`with_repetition_score`) is appended in the SAME narrow pass.
    """
    df = ensure_parallelism(df)
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(F.col(text_col))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*ENGLISH_STOPWORDS)))
    alnum_chars = F.length(F.regexp_replace(F.col(text_col), r"[^a-zA-Z0-9]", ""))
    mean_word_len = F.when(n_tok > 0, (alnum_chars.cast("double") / n_tok))
    stop_ratio = F.when(n_tok > 0, stop_hits.cast("double") / n_tok).otherwise(0.0)
    alnum_ratio = F.when(n_chars > 0, alnum_chars.cast("double") / n_chars).otherwise(0.0)
    cols = [
        F.col("doc_id"),
        n_tok.alias("n_tokens"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alnum_ratio, 6).alias("alnum_ratio"),
        quality_score_col(text_col).alias("quality_score"),
    ]
    if repetition_k is not None:
        grams = kgram_strings(toks, repetition_k)
        total = F.size(grams)
        distinct = F.size(F.array_distinct(grams))
        cols += [
            total.cast("long").alias("n_grams"),
            F.round(
                F.when(total > 0, 1 - distinct.cast("double") / total)
                .otherwise(0.0), 6,
            ).alias("repetition_ratio"),
        ]
    return df.select(*cols)


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language identification.

    Scores each language by the fraction of tokens found in its profile and
    takes the argmax (deterministic tie-break: language code order). This is
    the classic fasttext-free fallback; at 100 TB it is a single narrow pass.
    """
    df = ensure_parallelism(df)
    toks = tokens(text_col)
    n_tok = F.greatest(F.size(toks), F.lit(1))
    scores = [
        F.struct(
            (F.size(F.filter(toks, lambda t: t.isin(*words))).cast("double") / n_tok).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(STOPWORD_PROFILES.items())
    ]
    # argmax by (score, then lexicographically-later lang wins ties is wrong:
    # array_max on structs compares fieldwise -> (score, lang); to make the
    # FIRST lang win ties we invert: compare (score, reverse-rank) instead.
    ranked = [
        F.struct(
            s["score"].alias("score"),
            F.lit(-i).alias("rank"),
            s["lang"].alias("lang"),
        )
        for i, s in enumerate(scores)
    ]
    best = F.array_max(F.array(*ranked))
    return df.select(
        "doc_id",
        "lang",
        best["lang"].alias("predicted_lang"),
        F.round(best["score"], 6).alias("lang_score"),
    )


def tf_idf(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-(doc, token) TF-IDF: tf = occurrences/doc_len, idf = ln(N/df).

    N counts documents with >= 1 token, not all distinct input
    documents, so a corpus containing empty or whitespace-only documents
    gets slightly smaller idf values than a count of every input
    document would give. This matches the standard
    definition (a zero-token document contributes to no df and can carry
    no tf-idf mass) and the DuckDB oracle's COUNT(DISTINCT doc_id) over
    the exploded relation — but downstream consumers comparing tfidf
    values across versions should know N shifted.

    Pure relational algebra with ONE shuffle of the exploded instances:
    doc_len is size(tokens) computed BEFORE the explode (a constant per
    doc carried through for free — not a post-aggregation window, which
    would reshuffle the tf table by doc), the tf aggregate is persisted,
    and both the token->df table and n_docs derive from it (tf IS the
    distinct (doc, token) set, so docfreq = count per token over tf —
    no second explode+distinct pass over the corpus). At scale the
    vocabulary-sized df table broadcasts back; the heavy side shuffles
    exactly once.
    """
    from flink_kafka_table_api_spark.caching import tracked_persist

    df = ensure_parallelism(df)
    base = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    exploded = base.select(
        F.col(id_col),
        F.size("__toks").alias("doc_len"),
        F.explode("__toks").alias("token"),
    )
    # term frequency within each doc (doc_len is functionally dependent
    # on the doc id — grouping by it adds nothing to the key)
    tf = tracked_persist(
        exploded.groupBy(id_col, "doc_len", "token")
        .agg(F.count("*").alias("occurrences"))
    )
    # docs with >= 1 token, counted over the persisted aggregate (the
    # oracle's COUNT(DISTINCT doc_id) over exploded sees the same set)
    n_docs = tf.select(id_col).distinct().count()
    docfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    return (
        tf.join(F.broadcast(docfreq), "token")
        .select(
            F.col(id_col),
            "token",
            F.col("occurrences").cast("long").alias("occurrences"),
            F.round(
                (F.col("occurrences") / F.col("doc_len"))
                * F.log(F.lit(float(n_docs)) / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )


def tf_idf_sql(id_expr: str = "doc_id", text_expr: str = "text") -> str:
    toks = tokens_sql(text_expr)
    return f"""
    WITH exploded AS (
      SELECT {id_expr} AS doc_id, unnest({toks}) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS occurrences,
             SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS doc_len
      FROM exploded GROUP BY doc_id, token
    ), docfreq AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM exploded GROUP BY token
    ), n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM exploded)
    SELECT tf.doc_id, tf.token, CAST(tf.occurrences AS BIGINT) AS occurrences,
           round((CAST(tf.occurrences AS DOUBLE) / tf.doc_len)
                 * ln(CAST(n.n_docs AS DOUBLE) / docfreq.df), 6) AS tfidf
    FROM tf JOIN docfreq ON tf.token = docfreq.token CROSS JOIN n
    """


# Cleaning patterns deliberately restricted to the regex subset where Java
# (Spark) and RE2 (DuckDB oracle) agree: no lookaround, no backreferences.
URL_RE = r"https?://[^\s]+"
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"


def clean_text(text: Column | str) -> Column:
    """Standard pre-training text cleanup: drop URLs, redact emails to
    <EMAIL>, collapse whitespace runs, trim. Pure codegen'd regexp_replace
    chain — one narrow pass at any scale."""
    c = F.col(text) if isinstance(text, str) else text
    out = F.regexp_replace(c, URL_RE, "")
    out = F.regexp_replace(out, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def clean_text_sql(expr: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(regexp_replace({expr},"
        f" 'https?://[^\\s]+', '', 'g'),"
        f" '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}', '<EMAIL>', 'g'),"
        f" '\\s+', ' ', 'g'))"
    )


# The classic UTF-8-read-as-cp1252 double-encoding artifacts (what ftfy
# calls mojibake). The pair table is DERIVED at import time — broken form
# = the real character's UTF-8 bytes decoded as cp1252 — so it cannot be
# mangled by hand-typed literals. U+201D (right double quote) is omitted:
# its final byte 0x9D is undefined in cp1252, so its artifact is not a
# stable string. Single source of truth for BOTH engines' replace chains.

def _mojibake(ch: str) -> str:
    return ch.encode("utf-8").decode("cp1252")


MOJIBAKE_PAIRS: tuple[tuple[str, str], ...] = tuple(
    (_mojibake(ch), ch)
    for ch in (
        "\u2019",  # right single quote
        "\u201c",  # left double quote
        "\u2014",  # em dash
        "\u2026",  # ellipsis
        "\u00e9",  # e-acute
        "\u00e8",  # e-grave
        "\u00e4",  # a-umlaut
        "\u00f6",  # o-umlaut
        "\u00fc",  # u-umlaut
        "\u00f1",  # n-tilde
        "\u00a0",  # non-breaking space (C2 A0 -> 'A-circ nbsp')
    )
)


def fix_encoding(text: Column | str) -> Column:
    """Mojibake repair (ftfy's core case, expression-level): undo the
    UTF-8-decoded-as-Latin-1 artifacts that survive real-world crawls —
    â€™ for apostrophes, Ã© for é, Â before non-breaking spaces. A fixed
    literal-replace chain (no regex needed), fully codegen'd: scan-speed
    at 100 TB, and the pair table is shared verbatim with the oracle so
    both engines repair identically."""
    out = F.col(text) if isinstance(text, str) else text
    for broken, fixed in MOJIBAKE_PAIRS:
        out = F.replace(out, F.lit(broken), F.lit(fixed))
    return out


def fix_encoding_sql(expr: str) -> str:
    """DuckDB rendering of :func:`fix_encoding` (same pair order)."""
    out = expr
    for broken, fixed in MOJIBAKE_PAIRS:
        b = broken.replace("'", "''")
        f = fixed.replace("'", "''")
        out = f"replace({out}, '{b}', '{f}')"
    return out


def with_repetition_score(
    df: DataFrame, text_col: str = "text", *, k: int = 3
) -> DataFrame:
    """Duplicate-k-gram ratio (Gopher-style repetition signal): the fraction
    of k-token windows that repeat an earlier window. High values flag
    boilerplate/spam; used as a drop rule in LLM curation stacks. Narrow
    array algebra, no shuffle."""
    df = ensure_parallelism(df)
    toks = tokens(text_col)
    grams = kgram_strings(toks, k)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return df.select(
        "doc_id",
        total.cast("long").alias("n_grams"),
        F.round(
            F.when(total > 0, 1 - distinct.cast("double") / total).otherwise(0.0),
            6,
        ).alias("repetition_ratio"),
    )


def top_ngram_char_fraction(
    df: DataFrame, text_col: str = "text", *, k: int = 2
) -> DataFrame:
    """Gopher's headline repetition signal (Rae et al. 2021, Table A1):
    the fraction of a document's characters contained in occurrences of its
    single most frequent token ``k``-gram. High values (>0.2 for 2-grams in
    the Gopher rules) flag templated/boilerplate text that the duplicate-
    gram RATIO (:func:`with_repetition_score`) under-weights when one gram
    dominates.

    Deterministic argmax: the winning gram is chosen by (count DESC,
    char-length DESC, gram ASC), so ties resolve identically in Spark and
    the oracle. Shape: explode -> count per (doc, gram) -> min(struct)
    argmax per doc — two partial-aggregated shuffles on doc_id-keyed rows,
    never a window sort over the corpus.
    """
    df = ensure_parallelism(df)
    toks = tokens(text_col)
    grams = df.select(
        "doc_id",
        F.length(F.col(text_col)).alias("__nc"),
        F.explode(kgram_strings(toks, k)).alias("__g"),
    )
    counts = grams.groupBy("doc_id", "__nc", "__g").agg(
        F.count("*").alias("__cnt")
    )
    # min of (-count, -len, gram) == argmax by (count, len) with asc-gram
    # tie-break; carried as one struct so a single partial-agg shuffle
    best = counts.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col("__cnt")).alias("nc"),
                (-F.length("__g")).alias("nl"),
                F.col("__g").alias("g"),
                F.col("__nc").alias("chars"),
            )
        ).alias("__b")
    )
    return best.select(
        "doc_id",
        F.col("__b.g").alias("top_gram"),
        (-F.col("__b.nc")).cast("long").alias("top_gram_count"),
        F.round(
            F.when(
                F.col("__b.chars") > 0,
                (-F.col("__b.nc") * -F.col("__b.nl")).cast("double")
                / F.col("__b.chars"),
            ).otherwise(0.0),
            6,
        ).alias("top_gram_char_fraction"),
    )


def top_ngram_char_fraction_sql(k: int = 2) -> str:
    """DuckDB twin of :func:`top_ngram_char_fraction` over `documents`."""
    toks = tokens_sql("text")
    grams = (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(generate_series(1, len({toks}) - {k} + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k} - 1), ' ')) "
        f"ELSE [array_to_string({toks}, ' ')] END"
    )
    return f"""
    WITH exploded AS (
      SELECT doc_id, length(text) AS __nc, unnest({grams}) AS __g
      FROM documents
    ), counts AS (
      SELECT doc_id, __nc, __g, COUNT(*) AS __cnt
      FROM exploded GROUP BY doc_id, __nc, __g
    ), ranked AS (
      SELECT doc_id, __g, __cnt, __nc,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY __cnt DESC, length(__g) DESC, __g ASC
             ) AS __rk
      FROM counts
    )
    SELECT doc_id, __g AS top_gram,
           CAST(__cnt AS BIGINT) AS top_gram_count,
           round(CASE WHEN __nc > 0
                 THEN CAST(__cnt * length(__g) AS DOUBLE) / __nc
                 ELSE 0.0 END, 6) AS top_gram_char_fraction
    FROM ranked WHERE __rk = 1
    """


def bigram_lm_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-self bigram language-model fluency score — the CCNet-style
    LM quality filter (Wenzek et al. 2020 score with KenLM; here the LM is
    a bigram MLE trained on the corpus itself, which needs no external
    model file): per document, the mean conditional probability
    p(w_i | w_{i-1}) = count(w_{i-1} w_i) / count(w_{i-1} ·) over the
    document's bigrams. Low scores flag token-salad/garbled docs whose
    transitions are rare given the corpus.

    Cross-engine float exactness uses the proven time_decay_score recipe:
    each probability is a single IEEE division (exactly rounded, so
    bit-identical given identical integer counts), and the mean is a
    position-ordered left fold (collect_list -> sort -> F.aggregate here,
    list_reduce in the oracle) — the accumulation order is pinned, so the
    doubles match bit-for-bit.

    Scale shape: ONE count aggregation over the exploded bigram instances
    (map-side partial combine; the shuffle carries distinct grams). The
    prefix counts count(w_{i-1} ·) are re-aggregated FROM the gram counts
    (sum of cb grouped by first token — gram-sized input, never a second
    scan of the instance table), and the conditional probability is
    attached to the gram-count table BEFORE the instance join, so the big
    instance table is shuffled exactly once for scoring (it previously
    paid two joins plus a second count scan). One keyed fold per doc.
    Docs with fewer than 2 tokens have no bigrams and are excluded (same
    rule in the oracle).
    """
    df = ensure_parallelism(df)
    toks = tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("__t")).filter(
        F.size("__t") >= 2
    ).select(F.col(id_col), kgram_strings(F.col("__t"), 2).alias("__bg"))
    pos = base.select(
        F.col(id_col), F.posexplode("__bg").alias("__pos", "__g")
    )
    counts_b = pos.groupBy("__g").agg(F.count("*").alias("__cb"))
    counts_p = (
        counts_b.groupBy(
            F.substring_index("__g", " ", 1).alias("__p1")
        ).agg(F.sum("__cb").alias("__cp"))
    )
    # integer counts -> one IEEE division per gram: identical doubles to
    # the per-instance formulation, joined in as a precomputed column
    gram_p = (
        counts_b.withColumn("__p1", F.substring_index("__g", " ", 1))
        .join(counts_p, "__p1")
        .select(
            "__g", (F.col("__cb").cast("double") / F.col("__cp")).alias("__p")
        )
    )
    scored = pos.join(gram_p, "__g").select(id_col, "__pos", "__p")
    folded = scored.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("__pos", "__p"))).alias("__ps")
    )
    total = F.aggregate(
        F.transform("__ps", lambda e: e["__p"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return folded.select(
        id_col,
        F.size("__ps").cast("long").alias("n_bigrams"),
        F.round(total / F.size("__ps"), 6).alias("lm_score"),
    )


def bigram_lm_score_sql() -> str:
    """DuckDB twin of :func:`bigram_lm_score` over `documents`."""
    toks = tokens_sql("text")
    return f"""
    WITH docs AS (
      SELECT doc_id, {toks} AS t FROM documents
    ), eligible AS (
      SELECT doc_id, t FROM docs WHERE len(t) >= 2
    ), grams AS (
      SELECT doc_id,
             unnest(generate_series(1, len(t) - 1)) AS pos,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS g
      FROM eligible
    ), cb AS (
      SELECT g, COUNT(*) AS cb FROM grams GROUP BY g
    ), cp AS (
      SELECT split_part(g, ' ', 1) AS p1, COUNT(*) AS cp
      FROM grams GROUP BY 1
    ), scored AS (
      SELECT doc_id, pos, CAST(cb.cb AS DOUBLE) / cp.cp AS p
      FROM grams
      JOIN cb USING (g)
      JOIN cp ON cp.p1 = split_part(grams.g, ' ', 1)
    ), folded AS (
      SELECT doc_id,
             list_sort(list(struct_pack(pos := pos, p := p))) AS ps
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(len(ps) AS BIGINT) AS n_bigrams,
           round(list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
                          list_transform(ps, e -> e.p)),
             (a, x) -> a + x) / len(ps), 6) AS lm_score
    FROM folded
    """


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical document fingerprint: 60-bit hash of the sorted distinct
    token set (word-order- and repetition-insensitive). The standard cheap
    near-dup blocking key; portable to the oracle via md5."""
    df = ensure_parallelism(df)
    canon = F.array_join(F.array_sort(F.array_distinct(tokens(text_col))), " ")
    return df.select(
        "doc_id",
        portable_hash64(canon).alias("fingerprint"),
        F.md5(canon).alias("fingerprint_hex"),
    )


def lexicon_sentiment(
    df: DataFrame,
    lexicon: dict[str, int],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Lexicon-based sentiment/polarity scoring (the shape of "Large Scale
    Sentiment Analysis on Twitter with Spark", EDBT 2016, from the
    retrieved corpus): each token contributes its lexicon weight; the doc
    score is the integer weight sum normalized by token count.

    All-integer accumulation until one final division keeps it exactly
    engine-portable, and the whole pass is a codegen'd higher-order fold —
    no explode, no join, no Python: at 100 TB it runs at scan speed like
    the other narrow text passes."""
    toks = tokens(text_col)

    def tok_weight(t: Column) -> Column:
        out = F.lit(0)
        for word, w in sorted(lexicon.items()):
            out = F.when(t == word, F.lit(w)).otherwise(out)
        return out.cast("long")

    def tok_hit(t: Column) -> Column:
        out = F.lit(0)
        for word in sorted(lexicon):
            out = F.when(t == word, F.lit(1)).otherwise(out)
        return out.cast("long")

    score_raw = F.aggregate(
        F.transform(toks, tok_weight), F.lit(0).cast("long"),
        lambda a, x: a + x)
    n_hits = F.aggregate(
        F.transform(toks, tok_hit), F.lit(0).cast("long"),
        lambda a, x: a + x)
    n_toks = F.size(toks)
    return df.select(
        F.col(id_col),
        score_raw.alias("score_raw"),
        n_hits.alias("n_hits"),
        F.round(
            F.when(n_toks > 0, score_raw / n_toks).otherwise(0.0), 6
        ).alias("sentiment"),
    )


def _bpe_merges_inmemory(
    words: list[tuple[tuple[str, ...], int]], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """In-process BPE merge loop over a collected (syms, freq) table —
    the driver path of :func:`bpe_train`. Same argmax tie-break and
    greedy left-to-right non-overlapping application as the distributed
    fold."""
    table = {}
    for syms, freq in words:
        table[syms] = table.get(syms, 0) + freq
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in table.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (left, right), freq = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = left + right
        merges.append((rank, left, right, merged, freq))
        new: dict[tuple[str, ...], int] = {}
        for syms, f in table.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new[key] = new.get(key, 0) + f
        table = new
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    *,
    n_merges: int = 12,
    alnum_only: bool = True,
    driver_vocab_threshold: int = 100_000,
) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich, Haddow & Birch,
    "Neural Machine Translation of Rare Words with Subword Units", ACL
    2016 — the byte-pair-encoding vocabulary construction behind GPT/
    Llama-family tokenizers). Returns the learned merge table:
    (rank, left, right, merged, pair_freq).

    The scale insight that makes BPE trainable on a 100 TB corpus: only
    the FIRST step touches the corpus (tokenize -> explode -> word
    frequency — one shuffled count agg). Every merge iteration after
    that operates on the distinct-WORD table (vocabulary-sized, millions
    of rows at web scale, not billions): count symbol bigrams weighted
    by word freq (partial-agg shuffle of (l, r, partial sum)), pick the
    argmax on the driver (one row), apply the merge with a codegen'd
    F.aggregate fold over each word's symbol array — greedy left-to-
    right non-overlapping, the reference semantics ("aaaa" + (a,a) ->
    [aa, aa]; "aaa" -> [aa, a]). The evolving word table is
    tracked-persisted per iteration so lineage stays flat (the
    kmeans_lloyd pattern: driver holds k scalars, never data).

    Determinism: integer frequencies, argmax tie-broken by (freq DESC,
    left ASC, right ASC) — identical merges on any partitioning or
    engine. ``alnum_only`` drops tokens with non-alphanumeric chars
    first (the registered query uses it so oracle-side symbol handling
    never meets regex metacharacters). ``driver_vocab_threshold``
    selects the in-process merge loop for small vocabularies (see the
    two-path note in the body); both paths produce identical merges."""
    from flink_kafka_table_api_spark.caching import tracked_persist

    spark = df.sparkSession
    toks = tokens(text_col)
    w = df.select(F.explode(toks).alias("w"))
    if alnum_only:
        w = w.filter(F.col("w").rlike("^[a-z0-9]+$"))
    words = tracked_persist(
        w.groupBy("w").agg(F.count("*").alias("freq"))
        .select(F.split("w", "").alias("syms"), "freq")
    )
    # Two execution paths, chosen by vocabulary size (the
    # connected_components precedent — driver union-find under a
    # threshold, distributed label propagation above):
    # - Below ``driver_vocab_threshold`` distinct words, collect the
    #   (syms, freq) table and run the merge loop in-process — Sennrich's
    #   reference algorithm runs exactly there, and a distributed loop
    #   on a small vocabulary pays ~1 s/rank of pure job-scheduling
    #   latency for empty partitions (measured: 31-word vocab, 12 ranks,
    #   12-30 s at sf0.1 vs <0.1 s driver-side).
    # - Above it, the distributed loop: per rank one partial-agg bigram
    #   shuffle + driver argmax (one row) + a codegen'd fold, word table
    #   tracked-persisted per iteration (kmeans_lloyd lineage pattern).
    # Both paths produce IDENTICAL merges (same integer argmax and
    # greedy semantics; pinned against each other in
    # tests/test_operators.py).
    n_words = words.count()
    if n_words <= driver_vocab_threshold:
        local = [(tuple(r.syms), int(r.freq)) for r in words.collect()]
        return spark.createDataFrame(
            _bpe_merges_inmemory(local, n_merges),
            "rank int, left string, right string, merged string, "
            "pair_freq long",
        )
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        best = (
            words.filter(F.size("syms") >= 2)  # 1-symbol words have no pairs
            .select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size("syms") - 2),
                        lambda i: F.struct(
                            F.element_at("syms", i + 1).alias("l"),
                            F.element_at("syms", i + 2).alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), "l", "r")
            .first()
        )
        if best is None:
            break
        left, right, freq = best.l, best.r, int(best.c)
        merged = left + right
        merges.append((rank, left, right, merged, freq))
        fold = F.aggregate(
            "syms",
            F.expr("CAST(array() AS array<string>)"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (s == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.lit(merged)),
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        words = tracked_persist(words.select(fold.alias("syms"), "freq"))
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, "
                "pair_freq long",
    )


def _bpe_encoded_words(
    df: DataFrame,
    text_col: str = "text",
    *,
    n_merges: int = 12,
    alnum_only: bool = True,
) -> DataFrame:
    """Shared BPE ENCODE core: learn ``n_merges`` merge rules
    (:func:`bpe_train`) and apply them to the corpus word-frequency
    table, returning (w, syms, freq) — one row per distinct word with
    its encoded symbol array. Both :func:`bpe_piece_counts` (corpus
    piece counts) and :func:`tokenizer_fertility` (per-language
    pieces-per-word audit) consume this; the merge chain runs as
    ``n_merges`` literal F.aggregate folds in one narrow projection
    over the VOCABULARY-sized table (the CollapseProject-safe shape)."""
    merges = [
        (r.left, r.right, r.merged)
        for r in bpe_train(
            df, text_col, n_merges=n_merges, alnum_only=alnum_only
        ).collect()
    ]
    toks = tokens(text_col)
    w = df.select(F.explode(toks).alias("w"))
    if alnum_only:
        w = w.filter(F.col("w").rlike("^[a-z0-9]+$"))
    words = (
        w.groupBy("w").agg(F.count("*").alias("freq"))
        .select("w", F.split("w", "").alias("syms"), "freq")
    )
    def merge_step(left: str, right: str, merged: str):
        # closure factory: PySpark counts a HOF lambda's FULL parameter
        # list (defaults included), so captured values must close over,
        # not default-bind
        def step(acc, s):
            return F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (s == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(s)))

        return step

    syms = F.col("syms")
    for left, right, merged in merges:
        syms = F.aggregate(
            syms,
            F.expr("CAST(array() AS array<string>)"),
            merge_step(left, right, merged),
        )
    return words.select("w", syms.alias("syms"), "freq")


def bpe_piece_counts(
    df: DataFrame,
    text_col: str = "text",
    *,
    n_merges: int = 12,
    alnum_only: bool = True,
) -> DataFrame:
    """BPE ENCODE, aggregated: learn ``n_merges`` merge rules
    (:func:`bpe_train`), apply them to the corpus, and return the
    resulting piece vocabulary with corpus-wide occurrence counts
    (piece, n_occurrences) — the token-frequency table a tokenizer
    hands to the training pipeline (vocabulary coverage, OOV-rate, and
    tokens-per-doc budgeting all read from it).

    Scale shape: training is bpe_train (corpus agg + vocabulary-sized
    iterations); encoding re-aggregates the corpus word table ONCE and
    applies all learned merges as a chain of ``n_merges`` literal
    F.aggregate folds inside a single narrow projection (each fold
    consumes the previous symbols array exactly once — linear, no
    CollapseProject re-expansion; see :func:`_bpe_encoded_words`), then
    explodes the final symbols weighted by word frequency into one
    partial-agg count shuffle. Word-frequency weighting means the
    explode is vocabulary-sized, not corpus-sized."""
    words = _bpe_encoded_words(
        df, text_col, n_merges=n_merges, alnum_only=alnum_only
    )
    return (
        words.select(F.explode("syms").alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("n_occurrences"))
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_count: int = 5,
) -> DataFrame:
    """Collocation mining by pointwise mutual information (the
    Church & Hanks 1990 word-association ratio): for each adjacent token
    pair, pmi = ln(n_ab * N / (n_a * n_b)) with N the corpus token count
    — high-PMI pairs are the multi-word units ("new york", "machine
    learning") a tokenizer-merge or phrase-vocabulary pass wants ahead
    of raw bigram frequency, which top_bigrams already covers.

    Returns (bigram, n_ab, pmi) for every pair with n_ab >= min_count.
    Membership is decided by the INTEGER count threshold (no top-k cut
    on the float score), so result membership is exact; pmi is rounded
    to 6 decimals (tf_idf's F.log/ln precedent). Counts stay < 2^53 at
    any realistic corpus so the double products are exact; the docs-
    with-<2-tokens edge contributes unigrams to N but no pairs, same in
    both engines.

    Scale shape: one explode -> bigram aggregate (shuffle carries
    (bigram, partial count)), one explode -> unigram aggregate, N as a
    1-row broadcast crossJoin (the hybrid_search corpus-stats pattern),
    then two joins keyed on the unigram token — the post-threshold
    bigram table is vocabulary-sized, and each join ships (token, count)
    aggregates, never corpus rows."""
    from flink_kafka_table_api_spark.caching import tracked_persist

    toks = ensure_parallelism(df).select(tokens(text_col).alias("__t"))
    # the unigram table feeds both join sides AND the corpus-N aggregate
    # — persist it, or the corpus is re-tokenized three times
    uni = tracked_persist(
        toks.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("__nw"))
    )
    n_total = uni.agg(F.sum("__nw").cast("double").alias("__n"))
    pairs = (
        toks.filter(F.size("__t") >= 2)
        .select(F.explode(kgram_strings(F.col("__t"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    w1 = uni.select(F.col("w").alias("__w1"), F.col("__nw").alias("__na"))
    w2 = uni.select(F.col("w").alias("__w2"), F.col("__nw").alias("__nb"))
    return (
        pairs.withColumn("__w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .withColumn("__w2", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)))
        .join(w1, "__w1")
        .join(w2, "__w2")
        .crossJoin(F.broadcast(n_total))
        .select(
            "bigram",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.round(
                F.log(
                    (F.col("n_ab").cast("double") * F.col("__n"))
                    / (F.col("__na").cast("double") * F.col("__nb").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def pmi_collocations_sql(min_count: int = 5) -> str:
    """DuckDB replay of :func:`pmi_collocations` over the documents
    table — identical tokenization, identical IEEE product/division
    order, ln + round(6)."""
    toks = tokens_sql("text")
    return f"""
    WITH tk AS (SELECT {toks} AS t FROM documents),
    uni AS (
      SELECT w, COUNT(*) AS na
      FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w
    ),
    nt AS (SELECT CAST(SUM(na) AS DOUBLE) AS n FROM uni),
    pairs AS (
      SELECT bigram, COUNT(*) AS n_ab
      FROM (
        SELECT unnest(
          list_transform(generate_series(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i + 1])
        ) AS bigram
        FROM tk WHERE len(t) >= 2
      )
      GROUP BY bigram HAVING COUNT(*) >= {min_count}
    )
    SELECT p.bigram,
           CAST(p.n_ab AS BIGINT) AS n_ab,
           round(ln((CAST(p.n_ab AS DOUBLE) * nt.n)
                    / (CAST(u1.na AS DOUBLE) * CAST(u2.na AS DOUBLE))),
                 6) AS pmi
    FROM pairs p
    JOIN uni u1 ON split_part(p.bigram, ' ', 1) = u1.w
    JOIN uni u2 ON split_part(p.bigram, ' ', 2) = u2.w
    CROSS JOIN nt
    """


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Shannon character entropy (nats): the
    gibberish / boilerplate / base64-blob quality signal — natural text
    sits in a characteristic band (~2.8-4.2 nats for English), repeated
    padding collapses toward 0, and random alphanumeric noise pushes
    toward the alphabet ceiling; quality stacks cut both tails.

    Returns (doc_id, n_chars, distinct_chars, entropy) with
    entropy = ln(n) - (sum over characters of c*ln(c)) / n, rounded to
    6 decimals; empty text yields 0 by convention.

    Scale shape: ZERO shuffles, zero Python — one codegen'd projection
    per row: split to characters, array_sort, and ONE run-length
    F.aggregate fold that closes each run with its c*ln(c) term. The
    per-character term sequence is therefore accumulated in ascending
    character order, which is what lets the DuckDB oracle replay the
    identical IEEE add sequence as an ORDER BY ch list_reduce (the
    bigram_lm_score ordered-fold recipe). Collation note: both engines
    compare/sort these single-char strings by binary codepoint;
    characters beyond the BMP differ (JVM splits UTF-16 code units,
    DuckDB splits codepoints) — document-level entropy over
    surrogate-pair-heavy text is engine-internal, flagged here rather
    than hidden."""
    chars = F.array_sort(
        F.filter(F.split(F.col(text_col), ""), lambda x: x != "")
    )
    n = F.size(chars).cast("double")
    run_term = F.col("__f.run").cast("double") * F.log(
        F.col("__f.run").cast("double")
    )
    folded = F.aggregate(
        chars,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0.0).alias("s"),
            F.lit(0).cast("long").alias("k"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(x == acc["prev"], acc["s"])
            .otherwise(
                acc["s"]
                + F.when(
                    acc["run"] > 0,
                    acc["run"].cast("double")
                    * F.log(acc["run"].cast("double")),
                ).otherwise(F.lit(0.0))
            )
            .alias("s"),
            F.when(x == acc["prev"], acc["k"])
            .otherwise(acc["k"] + 1)
            .alias("k"),
        ),
    )
    out = ensure_parallelism(df).select(
        F.col(id_col),
        F.size(
            F.filter(F.split(F.col(text_col), ""), lambda x: x != "")
        ).cast("long").alias("n_chars"),
        folded.alias("__f"),
    )
    # close the final run outside the fold (finish lambdas interact badly
    # with struct field pruning; an explicit projection is plain algebra)
    s_total = F.col("__f.s") + F.when(
        F.col("__f.run") > 0, run_term
    ).otherwise(F.lit(0.0))
    return out.select(
        id_col,
        "n_chars",
        F.col("__f.k").cast("long").alias("distinct_chars"),
        F.round(
            F.when(
                F.col("n_chars") > 0,
                F.log(F.col("n_chars").cast("double"))
                - s_total / F.col("n_chars").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("entropy"),
    )


def char_entropy_sql() -> str:
    """DuckDB replay of :func:`char_entropy` over the documents table:
    per-char counts grouped, the c*ln(c) terms folded in ascending
    character order via list_reduce (matching the operator's sorted-run
    accumulation bit-for-bit), left-joined back so empty documents keep
    their 0-entropy row."""
    return """
    WITH ch AS (
      SELECT doc_id, ch, COUNT(*) AS c
      FROM (
        SELECT doc_id, unnest(string_split(text, '')) AS ch
        FROM documents WHERE length(text) > 0
      )
      GROUP BY doc_id, ch
    ),
    agg AS (
      SELECT doc_id,
             SUM(c) AS n,
             COUNT(*) AS k,
             list_reduce(
               list(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) ORDER BY ch),
               (a, b) -> a + b
             ) AS s
      FROM ch GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_chars,
           CAST(COALESCE(agg.k, 0) AS BIGINT) AS distinct_chars,
           round(CASE WHEN agg.n IS NULL OR agg.n = 0 THEN 0.0
                      ELSE ln(CAST(agg.n AS DOUBLE)) - agg.s / agg.n
                 END, 6) AS entropy
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    """


def frequent_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_support: int = 10,
) -> DataFrame:
    """Frequent 2-itemset mining (the A-priori / market-basket shape,
    Agrawal & Srikant 1994, over documents-as-baskets): unordered token
    pairs co-occurring in >= ``min_support`` distinct documents.
    Complements pmi_collocations, which scores only ADJACENT pairs —
    document-level co-occurrence surfaces topical pairs ("spark",
    "shuffle") that never sit next to each other.

    Integer-exact end to end (distinct-doc counts, integer threshold):
    the DuckDB oracle matches bit-for-bit with no float recipe.

    Scale shape — the A-priori pruning IS the scale story: the naive
    per-doc pair explosion is O(v^2) per document. Instead (a) per-doc
    DISTINCT tokens only, (b) the downward-closure prune: a pair can
    only be frequent if BOTH members are frequent alone, so the
    vocabulary-sized frequent-token table (doc-frequency >=
    min_support) is broadcast-semi-joined onto the exploded tokens
    BEFORE any pair is formed, and (c) the pair join is keyed on
    ``id_col`` (both sides co-partitioned on the doc key) with t1 < t2
    canonicalization, so the fan-out is bounded by (frequent tokens per
    doc)^2 — raising min_support shrinks the candidate space, exactly
    the knob a 100 TB run turns. The final aggregate shuffles (pair,
    partial count) rows only."""
    _, _, pairs = _apriori_stage(df, id_col, text_col, min_support)
    return pairs.withColumnRenamed("pair_docs", "n_docs")


def _apriori_stage(
    df: DataFrame, id_col: str, text_col: str, min_support: int
):
    """The shared A-priori stage behind :func:`frequent_pairs` and
    :func:`assoc_rules`: returns (doc_toks, dfreq, pairs) where
    doc_toks is the persisted distinct (doc, token) relation, dfreq the
    persisted per-token document frequencies, and pairs the frequent
    unordered pairs (token_a < token_b, pair_docs >= min_support).
    Pruning and pair-join shape documented on frequent_pairs."""
    from flink_kafka_table_api_spark.caching import tracked_persist

    doc_toks = tracked_persist(
        ensure_parallelism(df)
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("w"))
        .distinct()
    )
    dfreq = tracked_persist(
        doc_toks.groupBy("w").agg(F.count("*").cast("long").alias("df"))
    )
    freq = dfreq.filter(F.col("df") >= min_support).select("w")
    pruned = tracked_persist(
        doc_toks.join(F.broadcast(freq), "w").select(id_col, "w")
    )
    a = pruned.select(F.col(id_col), F.col("w").alias("token_a"))
    b = pruned.select(F.col(id_col), F.col("w").alias("token_b"))
    pairs = (
        a.join(b, id_col)
        .filter(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b")
        .agg(F.count("*").cast("long").alias("pair_docs"))
        .filter(F.col("pair_docs") >= min_support)
    )
    return doc_toks, dfreq, pairs


def frequent_pairs_sql(min_support: int = 10) -> str:
    """DuckDB replay of :func:`frequent_pairs` over the documents table —
    identical tokenization, identical distinct/prune/pair pipeline,
    pure integer arithmetic."""
    toks = tokens_sql("text")
    return f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, w
      FROM (SELECT doc_id, unnest({toks}) AS w FROM documents)
    ),
    freq AS (
      SELECT w FROM dt GROUP BY w HAVING COUNT(*) >= {min_support}
    ),
    pruned AS (SELECT dt.doc_id, dt.w FROM dt JOIN freq USING (w))
    SELECT a.w AS token_a, b.w AS token_b,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pruned a JOIN pruned b
      ON a.doc_id = b.doc_id AND a.w < b.w
    GROUP BY a.w, b.w
    HAVING COUNT(*) >= {min_support}
    """


def dup_ngram_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 5,
) -> DataFrame:
    """Duplicate-n-gram COVERAGE (Gopher, Rae et al. 2021 Table A1: the
    "duplicate n-gram character fraction" family, n=5..10): the fraction
    of a document's token positions — and of its token character mass —
    covered by at least one occurrence of a token n-gram that appears
    MORE THAN ONCE in the document. Complements the two repetition
    signals already here: :func:`with_repetition_score` counts duplicate
    OCCURRENCES (blind to how much text they span) and
    :func:`top_ngram_char_fraction` looks only at the single most
    frequent gram; coverage is the Gopher drop rule for long-range
    templated spam where many different grams each repeat a little.

    Returns one row per input document:
    (doc_id, n_tokens, n_grams, dup_grams, dup_gram_occurrences,
    covered_tokens, dup_token_frac, dup_char_frac) — all counts exact
    integers; the two fractions are single divisions of exact integers
    rounded to 6 decimals (the engine-portable float recipe). Documents
    shorter than ``n`` tokens report 0 grams and zero coverage.

    Scale shape: ZERO shuffles, zero Python — one codegen'd projection
    per row. Duplicated grams are found by sort + adjacent-equality on
    the per-document gram array (O(L log L), never the O(L^2) all-pairs
    compare); coverage is the distinct union of the [i, i+n-1] position
    windows of flagged occurrences, built with
    transform/flatten/array_distinct; character mass is an F.aggregate
    fold over covered positions. Each intermediate is a named column in
    its own projection — CollapseProject leaves multiply-referenced
    higher-order expressions alone (they fail its isCheap test), so
    nothing re-evaluates (the cdc_chunk_dedup lesson).
    """
    df = ensure_parallelism(df)
    toks = tokens(text_col)
    step0 = df.select(
        F.col(id_col).alias(id_col),
        toks.alias("__toks"),
        F.size(toks).alias("__nt"),
    )
    grams = F.when(
        F.col("__nt") >= n, kgram_strings(F.col("__toks"), n)
    ).otherwise(F.array().cast("array<string>"))
    step1 = step0.select(id_col, "__toks", "__nt", grams.alias("__g"))
    lg = F.size(F.col("__g"))
    srt = F.array_sort(F.col("__g"))
    # a gram is duplicated iff it equals its successor in the sorted array
    dup_set = F.array_distinct(
        F.filter(
            F.zip_with(
                F.slice(srt, 1, F.greatest(lg - 1, F.lit(0))),
                F.slice(srt, 2, F.greatest(lg - 1, F.lit(0))),
                lambda a, b: F.when(a == b, a),
            ),
            lambda x: x.isNotNull(),
        )
    )
    step2 = step1.select(
        id_col, "__toks", "__nt", "__g", dup_set.alias("__dup")
    )
    flags = F.transform(
        F.col("__g"), lambda g: F.array_contains(F.col("__dup"), g)
    )
    step3 = step2.select(
        id_col, "__toks", "__nt", "__g", "__dup", flags.alias("__fl")
    )
    # covered token positions: union of the n-token windows of every
    # flagged gram occurrence (0-based; element_at is 1-based). The
    # empty-gram guard matters: sequence(0, -1) infers step -1 and
    # element_at(_, 0) is an ANSI error, so never build the index list
    # for a gramless document.
    covered = F.when(
        F.size(F.col("__fl")) > 0,
        F.array_distinct(
            F.flatten(
                F.filter(
                    F.transform(
                        F.sequence(F.lit(0), F.size(F.col("__fl")) - 1),
                        lambda i: F.when(
                            F.element_at(F.col("__fl"), i + 1),
                            F.sequence(i, i + F.lit(n - 1)),
                        ),
                    ),
                    lambda s: s.isNotNull(),
                )
            )
        ),
    ).otherwise(F.array().cast("array<int>"))
    step4 = step3.select(
        id_col,
        "__toks",
        "__nt",
        F.size(F.col("__g")).cast("long").alias("n_grams"),
        F.size(F.col("__dup")).cast("long").alias("dup_grams"),
        F.size(F.filter(F.col("__fl"), lambda b: b))
        .cast("long")
        .alias("dup_gram_occurrences"),
        covered.alias("__cov"),
    )
    cov_chars = F.aggregate(
        F.col("__cov"),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.length(F.element_at(F.col("__toks"), i + 1)).cast("long"),
    )
    tok_chars = F.aggregate(
        F.col("__toks"),
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.length(t).cast("long"),
    )
    step5 = step4.select(
        id_col,
        F.col("__nt").cast("long").alias("n_tokens"),
        "n_grams",
        "dup_grams",
        "dup_gram_occurrences",
        F.size(F.col("__cov")).cast("long").alias("covered_tokens"),
        cov_chars.alias("__cc"),
        tok_chars.alias("__tc"),
    )
    return step5.select(
        id_col,
        "n_tokens",
        "n_grams",
        "dup_grams",
        "dup_gram_occurrences",
        "covered_tokens",
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                F.col("covered_tokens").cast("double")
                / F.col("n_tokens").cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("dup_token_frac"),
        F.round(
            F.when(
                F.col("__tc") > 0,
                F.col("__cc").cast("double") / F.col("__tc").cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("dup_char_frac"),
    )


def dup_ngram_coverage_sql(*, n: int = 5) -> str:
    """DuckDB oracle for :func:`dup_ngram_coverage` over `documents`.

    Deliberately a DIFFERENT algorithm (exploded relational form: gram
    rows -> per-doc counts -> duplicated-gram positions -> lateral
    window expansion -> distinct covered positions) so the parity check
    exercises semantics, not a shared implementation. Every intermediate
    is an exact integer; the only floats are the two final round(x, 6)
    single divisions, identical across engines by the repo's standing
    recipe."""
    toks = tokens_sql("text")
    return f"""
    WITH base AS (
      SELECT doc_id, {toks} AS toks, len({toks}) AS n_tok
      FROM documents
    ),
    g AS (
      SELECT b.doc_id, u.i - 1 AS pos,
             array_to_string(b.toks[u.i:u.i + {n} - 1], ' ') AS gram
      FROM base b, unnest(generate_series(1, b.n_tok - {n} + 1)) AS u(i)
      WHERE b.n_tok >= {n}
    ),
    cnt AS (
      SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram
    ),
    dup AS (SELECT doc_id, gram, c FROM cnt WHERE c > 1),
    dpos AS (
      SELECT g.doc_id, g.pos FROM g JOIN dup USING (doc_id, gram)
    ),
    cov AS (
      SELECT DISTINCT d.doc_id, u.p
      FROM dpos d, unnest(generate_series(d.pos, d.pos + {n} - 1)) AS u(p)
    ),
    tl AS (
      SELECT b.doc_id, u.i - 1 AS pos, length(b.toks[u.i]) AS tlen
      FROM base b, unnest(generate_series(1, b.n_tok)) AS u(i)
    ),
    per_doc AS (
      SELECT b.doc_id,
             b.n_tok,
             COALESCE(ng.n_grams, 0) AS n_grams,
             COALESCE(dg.dup_grams, 0) AS dup_grams,
             COALESCE(dg.dup_occ, 0) AS dup_occ,
             COALESCE(cv.covered, 0) AS covered,
             COALESCE(cc.cov_chars, 0) AS cov_chars,
             COALESCE(tc.tok_chars, 0) AS tok_chars
      FROM base b
      LEFT JOIN (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id)
        ng ON b.doc_id = ng.doc_id
      LEFT JOIN (SELECT doc_id, COUNT(*) AS dup_grams, SUM(c) AS dup_occ
                 FROM dup GROUP BY doc_id) dg ON b.doc_id = dg.doc_id
      LEFT JOIN (SELECT doc_id, COUNT(*) AS covered FROM cov GROUP BY doc_id)
        cv ON b.doc_id = cv.doc_id
      LEFT JOIN (SELECT cov.doc_id, SUM(tl.tlen) AS cov_chars
                 FROM cov JOIN tl ON cov.doc_id = tl.doc_id
                                 AND cov.p = tl.pos
                 GROUP BY cov.doc_id) cc ON b.doc_id = cc.doc_id
      LEFT JOIN (SELECT doc_id, SUM(tlen) AS tok_chars FROM tl
                 GROUP BY doc_id) tc ON b.doc_id = tc.doc_id
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(dup_grams AS BIGINT) AS dup_grams,
           CAST(dup_occ AS BIGINT) AS dup_gram_occurrences,
           CAST(covered AS BIGINT) AS covered_tokens,
           round(CASE WHEN n_tok > 0
                 THEN CAST(covered AS DOUBLE) / n_tok ELSE 0.0 END,
                 6) AS dup_token_frac,
           round(CASE WHEN tok_chars > 0
                 THEN CAST(cov_chars AS DOUBLE) / tok_chars ELSE 0.0 END,
                 6) AS dup_char_frac
    FROM per_doc
    """


def gazetteer_tag(
    df: DataFrame,
    terms: dict[str, str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dictionary-based entity tagging (the gazetteer/NER-lite pass every
    curation stack runs for PII routing, domain filtering, and weak
    labeling): find every occurrence of each dictionary term — 1 to 3
    tokens long, matched on the portable whitespace tokenization — and
    return (doc_id, term, entity_type, n_mentions, first_pos) per
    (document, matched term), with first_pos the 0-based TOKEN index of
    the earliest mention. Longer-term matches do not suppress their
    sub-terms (each dictionary entry reports independently); overlap
    resolution is a policy layered on top, not baked in.

    Integer-exact end to end (counts, positions), so the DuckDB oracle
    matches bit-for-bit.

    Scale shape: the dictionary is a plan LITERAL (inlined via
    explode(array(...)) on the executor side — gazetteer lists are
    small by definition; a DataFrame-sized dictionary would swap the
    literal for a broadcast join with identical downstream shape). The
    corpus explodes once per n-gram width present in the dictionary
    (1..3), each a narrow pass, then ONE keyed count aggregate per
    (doc, term) and a min() for the first position — shuffle rows are
    match hits, never corpus text."""
    widths = sorted({len(t.split()) for t in terms})
    if not widths or widths[0] < 1 or widths[-1] > 3:
        raise ValueError("gazetteer terms must be 1-3 tokens long")
    df = ensure_parallelism(df)
    toks = tokens(text_col)
    parts = []
    for w in widths:
        w_terms = sorted(t for t in terms if len(t.split()) == w)
        grams = (
            F.when(F.size(toks) >= w, kgram_strings(toks, w))
            .otherwise(F.array().cast("array<string>"))
            if w > 1 else toks
        )
        parts.append(
            df.select(
                F.col(id_col).alias("doc_id"),
                F.posexplode(grams).alias("__p", "__g"),
            ).filter(F.col("__g").isin(*w_terms))
        )
    hits = parts[0]
    for p in parts[1:]:
        hits = hits.unionByName(p)
    etype = F.create_map(
        *[F.lit(x) for kv in sorted(terms.items()) for x in kv]
    )
    return (
        hits.groupBy("doc_id", F.col("__g").alias("term"))
        .agg(
            F.count("*").cast("long").alias("n_mentions"),
            F.min("__p").cast("long").alias("first_pos"),
        )
        .select(
            "doc_id",
            "term",
            etype[F.col("term")].alias("entity_type"),
            "n_mentions",
            "first_pos",
        )
    )


def gazetteer_tag_sql(terms: dict[str, str]) -> str:
    """DuckDB oracle for :func:`gazetteer_tag` over `documents`: the
    dictionary inlined as a VALUES relation, n-gram positions via the
    same generate_series construction, pure integer arithmetic."""
    toks = tokens_sql("text")
    dict_rows = ", ".join(
        f"('{t}', '{e}', {len(t.split())})"
        for t, e in sorted(terms.items())
    )
    return f"""
    WITH dict(term, entity_type, w) AS (VALUES {dict_rows}),
    base AS (SELECT doc_id, {toks} AS toks FROM documents),
    grams AS (
      SELECT b.doc_id, w.w, u.i - 1 AS p,
             array_to_string(b.toks[u.i:u.i + w.w - 1], ' ') AS g
      FROM base b,
           (SELECT DISTINCT w FROM dict) w,
           unnest(generate_series(1, len(b.toks) - w.w + 1)) AS u(i)
      WHERE len(b.toks) >= w.w
    )
    SELECT g.doc_id, d.term, d.entity_type,
           CAST(COUNT(*) AS BIGINT) AS n_mentions,
           CAST(MIN(g.p) AS BIGINT) AS first_pos
    FROM grams g JOIN dict d ON g.g = d.term AND g.w = d.w
    GROUP BY g.doc_id, d.term, d.entity_type
    """


def _winnow_fp(
    df: DataFrame, id_col: str, text_col: str, k: int, w: int
) -> DataFrame:
    """Shared winnowing pipeline: one row per document with the distinct
    fingerprint struct array ``__fp`` (h, p) plus the gram/window counts
    — consumed by both the per-doc summary (:func:`winnowing_fingerprints`)
    and the pair matcher (:func:`winnow_matches`)."""
    df = ensure_parallelism(df)
    s = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    step0 = df.select(
        F.col(id_col).alias(id_col),
        s.alias("__s"),
        F.length(s).alias("__len"),
    )
    ng = F.when(
        F.col("__len") >= k, F.col("__len") - F.lit(k - 1)
    ).otherwise(F.lit(0))
    step1 = step0.select(id_col, "__s", ng.cast("int").alias("__ng"))
    hs = F.when(
        F.col("__ng") > 0,
        F.transform(
            F.sequence(F.lit(1), F.col("__ng")),
            lambda i: portable_hash64(F.substring(F.col("__s"), i, k)),
        ),
    ).otherwise(F.array().cast("array<long>"))
    step2 = step1.select(id_col, "__ng", hs.alias("__hs"))
    # one window per start position; short docs collapse to one window
    nw = F.when(
        F.col("__ng") > 0,
        F.greatest(F.col("__ng") - F.lit(w - 1), F.lit(1)),
    ).otherwise(F.lit(0))
    step3 = step2.select(
        id_col, "__ng", "__hs", nw.cast("int").alias("__nw")
    )
    wl = F.least(F.lit(w), F.col("__ng"))  # effective window length
    max64 = F.lit(9223372036854775807).cast("long")
    picked = F.when(
        F.col("__nw") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("__nw") - 1),
            # rightmost minimum: <= prefers the later position on ties
            # (robust winnowing, §5.2)
            lambda j: F.aggregate(
                F.sequence(j, j + wl - 1),
                F.struct(
                    max64.alias("h"), F.lit(-1).cast("int").alias("p")
                ),
                lambda acc, p: F.when(
                    F.element_at(F.col("__hs"), p.cast("int") + 1)
                    <= acc["h"],
                    F.struct(
                        F.element_at(
                            F.col("__hs"), p.cast("int") + 1
                        ).alias("h"),
                        p.cast("int").alias("p"),
                    ),
                ).otherwise(acc),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<h:bigint,p:int>>")
    )
    return step3.select(
        id_col, "__ng", "__nw", F.array_distinct(picked).alias("__fp")
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character k-gram of the
    normalized text, slide a window of ``w`` consecutive hashes, and keep
    the minimum hash of each window (rightmost occurrence on ties — the
    "robust winnowing" rule, §5.2 of the paper). The distinct selected
    (position, hash) pairs are the document's fingerprints: any shared
    substring of length >= k + w - 1 between two documents is GUARANTEED
    to share at least one fingerprint, which makes the fingerprint set
    the standard local-similarity blocking key (plagiarism/clone
    detection) — it localizes WHERE documents overlap, unlike the global
    signatures already here (:func:`with_fingerprint` is order-blind,
    simhash/minhash are whole-document).

    Normalization: lowercase, strip every non-alphanumeric character
    (the paper's whitespace/punctuation insensitivity).

    Returns one row per document:
    (doc_id, n_kgrams, n_windows, n_fingerprints, fp_checksum,
    fp_density) — counts are exact integers, fp_checksum is the XOR fold
    of ``h + (pos+1) * 2654435761`` over the distinct fingerprint set
    (order-free by XOR's commutativity, so partitioning cannot perturb
    it), fp_density = round(n_fingerprints / n_windows, 6) — the paper
    proves expected density 2/(w+1) for random text, so the column is a
    live health check on the hash family. Documents shorter than ``k``
    normalized chars report zero everywhere; documents with fewer than
    ``w`` k-grams get one window spanning all of them.

    Scale shape: ZERO shuffles, zero Python — per-row array algebra
    (transform/aggregate/array_distinct) inside whole-stage codegen, the
    dup_ngram_coverage posture. Window minima are an O(w) fold per
    window via element_at lookups on the shared hash array (never a
    per-window sub-array allocation). Hashing is the engine-portable
    md5-60bit (`functions/portable.py`) so the DuckDB oracle replays it
    bit-for-bit; at 100 TB swap portable_hash64 for xxhash64 inside the
    same plan shape (one codegen'd instruction per gram, the simhash
    precedent).
    """
    step4 = _winnow_fp(df, id_col, text_col, k, w)
    chk = F.aggregate(
        F.col("__fp"),
        F.lit(0).cast("long"),
        lambda acc, fp: acc.bitwiseXOR(
            fp["h"]
            + (fp["p"].cast("long") + F.lit(1).cast("long"))
            * F.lit(2654435761).cast("long")
        ),
    )
    return step4.select(
        id_col,
        F.col("__ng").cast("long").alias("n_kgrams"),
        F.col("__nw").cast("long").alias("n_windows"),
        F.size("__fp").cast("long").alias("n_fingerprints"),
        chk.alias("fp_checksum"),
        F.round(
            F.when(
                F.col("__nw") > 0,
                F.size("__fp").cast("double")
                / F.col("__nw").cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("fp_density"),
    )


def _winnow_fp_cte(k: int, w: int) -> str:
    """The shared DuckDB winnowing CTE chain ending in
    ``fp(doc_id, pos, h)`` — composed by both the per-doc summary oracle
    (:func:`winnowing_sql`) and the pair-match oracle
    (:func:`winnow_matches_sql`)."""
    from flink_kafka_table_api_spark.functions.portable import (
        portable_hash64_sql,
    )

    h = portable_hash64_sql(f"substr(s, i, {k})")
    return f"""base AS (
      SELECT doc_id,
             regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
      FROM documents
    ),
    b2 AS (SELECT doc_id, s, length(s) AS len FROM base),
    g AS (
      SELECT doc_id, i - 1 AS pos, {h} AS h
      FROM b2, unnest(generate_series(1, len - {k} + 1)) AS u(i)
      WHERE len >= {k}
    ),
    ng AS (SELECT doc_id, COUNT(*) AS n_g FROM g GROUP BY doc_id),
    win AS (
      SELECT n.doc_id, u.j, least({w}, n.n_g) AS wl
      FROM ng n,
           unnest(generate_series(0, greatest(n.n_g - {w}, 0))) AS u(j)
    ),
    wg AS (
      SELECT w.doc_id, w.j, g.pos, g.h
      FROM win w JOIN g ON g.doc_id = w.doc_id
       AND g.pos BETWEEN w.j AND w.j + w.wl - 1
    ),
    sel0 AS (SELECT doc_id, j, MIN(h) AS mh FROM wg GROUP BY doc_id, j),
    sel AS (
      SELECT s0.doc_id, s0.mh AS h, MAX(w.pos) AS pos
      FROM sel0 s0 JOIN wg w
        ON w.doc_id = s0.doc_id AND w.j = s0.j AND w.h = s0.mh
      GROUP BY s0.doc_id, s0.j, s0.mh
    ),
    fp AS (SELECT DISTINCT doc_id, pos, h FROM sel)"""


def winnowing_sql(*, k: int = 8, w: int = 4) -> str:
    """DuckDB oracle for :func:`winnowing_fingerprints` over `documents`.

    Deliberately the exploded relational form (gram rows -> window rows
    -> per-window MIN -> rightmost-position tie-break -> DISTINCT
    fingerprints) instead of the engine's per-row array fold, so parity
    exercises the winnowing SEMANTICS, not a shared implementation.
    Every value is an exact integer except the final round(x, 6)
    density division (the standing portable-float recipe)."""
    return f"""
    WITH {_winnow_fp_cte(k, w)},
    agg AS (
      SELECT doc_id, COUNT(*) AS n_fp,
             bit_xor(h + (pos + 1) * 2654435761) AS chk
      FROM fp GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(COALESCE(n.n_g, 0) AS BIGINT) AS n_kgrams,
           CAST(CASE WHEN COALESCE(n.n_g, 0) > 0
                THEN greatest(n.n_g - {w} + 1, 1) ELSE 0 END AS BIGINT)
             AS n_windows,
           CAST(COALESCE(a.n_fp, 0) AS BIGINT) AS n_fingerprints,
           CAST(COALESCE(a.chk, 0) AS BIGINT) AS fp_checksum,
           round(CASE WHEN COALESCE(n.n_g, 0) > 0
                 THEN CAST(COALESCE(a.n_fp, 0) AS DOUBLE)
                      / greatest(n.n_g - {w} + 1, 1)
                 ELSE 0.0 END, 6) AS fp_density
    FROM b2 b
    LEFT JOIN ng n USING (doc_id)
    LEFT JOIN agg a USING (doc_id)
    """


def winnow_matches(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_hash_df: int | None = None,
) -> DataFrame:
    """The MOSS matching step over winnowing fingerprints (Schleimer '03
    §4: report document pairs sharing selected fingerprints, and WHERE
    they overlap): explode each document's fingerprint set, self-join on
    the fingerprint HASH, and aggregate per (a, b) pair. This localizes
    overlap — each shared hash pins a concrete k-gram position in both
    documents — which neither the global signatures (simhash/minhash)
    nor the per-doc summary (:func:`winnowing_fingerprints`) can do.

    Returns (a, b, n_shared, a_min_pos, a_max_pos, b_min_pos, b_max_pos)
    for pairs sharing >= ``min_shared`` fingerprint hashes, a < b; the
    position spans bracket the matched region in each document.
    All-integer, so the oracle matches bit-for-bit.

    Scale shape: the LSH-bucket shape — fingerprints shuffle on hash
    (each doc contributes ~2/(w+1) of its gram count, the winnowing
    guarantee's whole point), pairs aggregate on (a, b). The skew bomb
    is a fingerprint shared by MANY documents (ubiquitous boilerplate
    k-grams fan out |docs|^2 per hash): ``max_hash_df`` drops hashes
    appearing in more than that many documents before pairing — the
    stop-fingerprint rule MOSS itself applies (common idioms carry no
    plagiarism signal), bounding the per-hash fan-out exactly like
    link prediction's apex-degree cap. AQE skew-join covers the
    moderate cases when the cap is off."""
    from flink_kafka_table_api_spark.caching import tracked_persist

    # Persist BEFORE the explode: the cache boundary stops Catalyst's
    # CollapseProject from substituting the __fp window-min fold (and,
    # transitively, the per-gram md5 transform it element_at's into)
    # straight into the Generate — without it the hash transform
    # re-evaluates per window element and the pipeline goes quadratic
    # per document (measured: >10 min for the sf0.001 corpus vs ~2 s
    # with the boundary; the cdc_chunk_dedup lesson). The
    # per-doc summary (:func:`winnowing_fingerprints`) doesn't need it:
    # its consuming projection references __fp three times, which
    # already fails CollapseProject's single-reference/isCheap test.
    base = tracked_persist(_winnow_fp(df, id_col, text_col, k, w))
    fp = base.select(
        F.col(id_col).alias("__id"),
        F.explode("__fp").alias("__f"),
    ).select(
        "__id",
        F.col("__f.h").alias("h"),
        F.col("__f.p").alias("pos"),
    )
    if max_hash_df is not None:
        keep = (
            fp.groupBy("h")
            .agg(F.countDistinct("__id").alias("__df"))
            .where(F.col("__df") <= max_hash_df)
            .select("h")
        )
        fp = fp.join(keep, "h", "left_semi")
    a = fp.select(
        F.col("__id").alias("a"), "h", F.col("pos").alias("pa")
    )
    b = fp.select(
        F.col("__id").alias("b"), "h", F.col("pos").alias("pb")
    )
    return (
        a.join(b, "h")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.countDistinct("h").cast("long").alias("n_shared"),
            F.min("pa").cast("long").alias("a_min_pos"),
            F.max("pa").cast("long").alias("a_max_pos"),
            F.min("pb").cast("long").alias("b_min_pos"),
            F.max("pb").cast("long").alias("b_max_pos"),
        )
        .where(F.col("n_shared") >= min_shared)
    )


def winnow_matches_sql(
    *,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_hash_df: int | None = None,
) -> str:
    """DuckDB oracle for :func:`winnow_matches`: the shared winnowing
    CTE chain, self-joined on hash and aggregated per pair.
    Integer-exact throughout. ``max_hash_df`` replays the operator's
    stop-fingerprint cap (drop hashes appearing in more than that many
    documents before pairing) so the capped configuration — the one a
    gate/bench query must use, since boilerplate fan-out is quadratic
    uncapped — is oracle-checkable too."""
    cap = ""
    if max_hash_df is not None:
        cap = f""",
    fpk AS (
      SELECT h FROM fp GROUP BY h
      HAVING COUNT(DISTINCT doc_id) <= {max_hash_df}
    ),
    fpc AS (SELECT fp.* FROM fp JOIN fpk USING (h))"""
    src = "fpc" if max_hash_df is not None else "fp"
    return f"""
    WITH {_winnow_fp_cte(k, w)}{cap}
    SELECT x.doc_id AS a, y.doc_id AS b,
           CAST(COUNT(DISTINCT x.h) AS BIGINT) AS n_shared,
           CAST(MIN(x.pos) AS BIGINT) AS a_min_pos,
           CAST(MAX(x.pos) AS BIGINT) AS a_max_pos,
           CAST(MIN(y.pos) AS BIGINT) AS b_min_pos,
           CAST(MAX(y.pos) AS BIGINT) AS b_max_pos
    FROM {src} x JOIN {src} y ON x.h = y.h AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id
    HAVING COUNT(DISTINCT x.h) >= {min_shared}
    """


def zipf_gini_audit(
    df: DataFrame,
    text_col: str = "text",
    *,
    max_rank: int = 1000,
) -> DataFrame:
    """Corpus token-distribution health audit in ONE row: total tokens,
    vocabulary size, top-1 token share, the Gini coefficient of the
    token-frequency distribution, and the fitted Zipf exponent. The
    drift/degeneracy tripwire for training corpora: crawl dups and
    boilerplate push Gini and top-1 share up, tokenizer bugs and
    mojibake flatten the Zipf slope away from the ~-1 natural-language
    law (Zipf 1949; Piantadosi 2014 review).

    - ``gini`` uses the exact rank formula over frequencies ascending:
      G = 2*sum(i*f_i)/(n*T) - (n+1)/n — but NO vocabulary-sized rank
      sort ever runs: tokens sharing a frequency occupy consecutive
      ranks, so each group of the frequency HISTOGRAM (distinct-f
      sized, O(sqrt(n_tokens)) in practice — the ties-cannot-move-the-
      sum observation made constructive) contributes the closed form
      f * (m*s + m*(m-1)/2) with s its cumulative start rank. All
      INTEGER arithmetic: exact, order-free, distributed.
    - ``zipf_slope`` is the OLS slope of ln(freq) on ln(rank) over the
      TOP ``max_rank`` frequencies (rank ties broken by token for a
      deterministic cutoff) — the standard head-fit: the tail's
      hapax-legomena staircase is not Zipfian and at 100 TB the
      capped-rank contract is what bounds the ordered float fold. The
      head is pre-pruned via the histogram's cumulative counts
      (broadcast semi-join), so the only row_number window runs over
      <= max_rank + one tie group rows. The four OLS sums accumulate
      in ascending-rank order via sorted-array folds, which the DuckDB
      oracle replays as ORDER BY r list_reduce (the char_entropy
      recipe).

    Returns (n_tokens, vocab, top1_share, gini, zipf_slope); floats
    round(6), counts BIGINT.

    Scale shape: one corpus-sized explode->count shuffle (map-side
    partials); everything downstream is HISTOGRAM-sized (the global
    windows run over the distinct-frequency frame and the capped head —
    kilobytes at any corpus size) and the float fold is capped at
    ``max_rank`` elements. No driver loop, no Python, no global sort
    of the vocabulary."""
    freqs = (
        ensure_parallelism(df)
        .select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("f"))
    )
    from flink_kafka_table_api_spark.caching import tracked_persist

    freqs = tracked_persist(freqs)
    hist = freqs.groupBy("f").agg(
        F.count("*").cast("long").alias("m")
    )
    # ascending start rank s(f) = 1 + #tokens with smaller f; the group
    # of m tied tokens at frequency f holds ranks s .. s+m-1, so its
    # exact rank-weighted sum is f * (m*s + m*(m-1)/2)
    asc_prev = (
        Window.orderBy(F.col("f").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    desc_prev = (
        Window.orderBy(F.col("f").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = hist.select(
        "f", "m",
        (F.lit(1) + F.coalesce(F.sum("m").over(asc_prev), F.lit(0)))
        .cast("long").alias("s_asc"),
        (F.lit(1) + F.coalesce(F.sum("m").over(desc_prev), F.lit(0)))
        .cast("long").alias("s_desc"),
    )
    # Zipf head: only frequency groups whose first descending rank is
    # inside the cap can contribute head tokens
    head_fs = hist.filter(F.col("s_desc") <= max_rank).select("f")
    head_w = Window.orderBy(F.col("f").desc(), F.col("token").asc())
    head = (
        freqs.join(F.broadcast(head_fs), "f")
        .select("token", "f", F.row_number().over(head_w)
                .cast("long").alias("r"))
        .filter(F.col("r") <= max_rank)
        .select(
            "r",
            F.log(F.col("r").cast("double")).alias("x"),
            F.log(F.col("f").cast("double")).alias("y"),
        )
    )
    # ascending-rank ordered folds for the four OLS sums
    def _fold(val: Column) -> Column:
        arr = F.array_sort(F.collect_list(F.struct(F.col("r"), val.alias("v"))))
        return F.aggregate(
            F.transform(arr, lambda s: s["v"]),
            F.lit(0.0),
            lambda a, b: a + b,
        )

    ols = head.agg(
        F.count("*").cast("double").alias("m"),
        _fold(F.col("x")).alias("sx"),
        _fold(F.col("y")).alias("sy"),
        _fold(F.col("x") * F.col("y")).alias("sxy"),
        _fold(F.col("x") * F.col("x")).alias("sxx"),
    ).select(
        F.when(
            F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx") > 0,
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")),
        ).otherwise(F.lit(0.0)).alias("slope")
    )
    base = hist.agg(
        F.sum(F.col("f") * F.col("m")).alias("t"),
        F.sum("m").alias("n"),
        F.max("f").alias("f1"),
        F.sum(
            F.col("f")
            * (
                F.col("m") * F.col("s_asc")
                + F.expr("m * (m - 1) DIV 2")
            )
        ).alias("s1"),
    )
    return base.crossJoin(F.broadcast(ols)).select(
        F.col("t").cast("long").alias("n_tokens"),
        F.col("n").cast("long").alias("vocab"),
        F.round(
            F.col("f1").cast("double") / F.col("t").cast("double"), 6
        ).alias("top1_share"),
        F.round(
            F.lit(2.0) * F.col("s1").cast("double")
            / (F.col("n").cast("double") * F.col("t").cast("double"))
            - (F.col("n").cast("double") + 1.0)
            / F.col("n").cast("double"),
            6,
        ).alias("gini"),
        F.round(F.col("slope"), 6).alias("zipf_slope"),
    )


def zipf_gini_audit_sql(*, max_rank: int = 1000) -> str:
    """DuckDB oracle for :func:`zipf_gini_audit` over `documents`,
    written with EXPLICIT vocabulary ranks (the clear quadratic-free
    brute form — oracle only): sum(i*f_i) over explicit ranks equals
    the operator's histogram closed form exactly (consecutive tied
    ranks, integer arithmetic), and the operator's pruned head is a
    prefix of this total order, so the capped OLS folds see identical
    element sequences."""
    toks = tokens_sql("text")
    return f"""
    WITH freqs AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT unnest({toks}) AS token FROM documents)
      GROUP BY token
    ),
    ranked AS (
      SELECT token, f,
             ROW_NUMBER() OVER (ORDER BY f ASC, token ASC) AS i,
             ROW_NUMBER() OVER (ORDER BY f DESC, token ASC) AS r
      FROM freqs
    ),
    head AS (
      SELECT r, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
      FROM ranked WHERE r <= {max_rank}
    ),
    ols AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS m,
             list_reduce(list(x ORDER BY r), (a, b) -> a + b) AS sx,
             list_reduce(list(y ORDER BY r), (a, b) -> a + b) AS sy,
             list_reduce(list(x * y ORDER BY r), (a, b) -> a + b) AS sxy,
             list_reduce(list(x * x ORDER BY r), (a, b) -> a + b) AS sxx
      FROM head
    ),
    base AS (
      SELECT SUM(f) AS t, COUNT(*) AS n, MAX(f) AS f1,
             SUM(i * f) AS s1
      FROM ranked
    )
    SELECT CAST(b.t AS BIGINT) AS n_tokens,
           CAST(b.n AS BIGINT) AS vocab,
           round(CAST(b.f1 AS DOUBLE) / CAST(b.t AS DOUBLE), 6)
             AS top1_share,
           round(2.0 * CAST(b.s1 AS DOUBLE)
                 / (CAST(b.n AS DOUBLE) * CAST(b.t AS DOUBLE))
                 - (CAST(b.n AS DOUBLE) + 1.0) / CAST(b.n AS DOUBLE), 6)
             AS gini,
           round(CASE WHEN o.m * o.sxx - o.sx * o.sx > 0
                      THEN (o.m * o.sxy - o.sx * o.sy)
                           / (o.m * o.sxx - o.sx * o.sx)
                      ELSE 0.0 END, 6) AS zipf_slope
    FROM base b, ols o
    """


def readability_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document readability: Flesch Reading Ease and Flesch-Kincaid
    Grade Level (Flesch 1948 / Kincaid 1975) from three integer counts —
    words (the shared :func:`tokens` contract), sentences (segments
    split on ``[.!?]+`` containing at least one alphanumeric), and
    syllables (vowel-group runs ``[aeiouy]+`` per word, min 1 — the
    standard heuristic). The classic text-difficulty band signal for
    curriculum/mixing decisions; degenerate boilerplate and OCR noise
    land far outside the natural-prose band.

    Returns (doc_id, n_words, n_sentences, n_syllables,
    flesch_reading_ease, fk_grade) — formulas on exact integer operands,
    round(6); documents with zero words report 0.0 for both scores and
    n_sentences as counted.

    Scale shape: ZERO shuffles, zero Python — one codegen'd projection
    per row (split / filter / transform / integer aggregate), the
    char_entropy posture. Both engines evaluate the identical float
    formula on identical integers, so no ordered-fold machinery is
    needed."""
    toks = tokens(text_col)
    syll = F.aggregate(
        F.transform(
            toks,
            lambda w: F.greatest(
                F.lit(1),
                F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), 0)),
            ),
        ),
        F.lit(0),
        lambda a, b: a + b,
    )
    sents = F.size(
        F.filter(
            F.split(F.lower(F.col(text_col)), r"[.!?]+"),
            lambda s: s.rlike("[a-z0-9]"),
        )
    )
    out = ensure_parallelism(df).select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_words"),
        sents.cast("long").alias("n_sentences"),
        syll.cast("long").alias("n_syllables"),
    )
    w = F.col("n_words").cast("double")
    s = F.greatest(F.lit(1).cast("long"), F.col("n_sentences")).cast(
        "double"
    )
    y = F.col("n_syllables").cast("double")
    return out.select(
        id_col,
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.when(
                F.col("n_words") > 0,
                F.lit(206.835) - F.lit(1.015) * (w / s)
                - F.lit(84.6) * (y / w),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("flesch_reading_ease"),
        F.round(
            F.when(
                F.col("n_words") > 0,
                F.lit(0.39) * (w / s) + F.lit(11.8) * (y / w)
                - F.lit(15.59),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("fk_grade"),
    )


def readability_scores_sql() -> str:
    """DuckDB replay of :func:`readability_scores` over `documents`:
    identical integer counts, identical float formula."""
    toks = tokens_sql("text")
    return f"""
    WITH counts AS (
      SELECT doc_id,
             CAST(len({toks}) AS BIGINT) AS n_words,
             CAST(len(list_filter(
               regexp_split_to_array(lower(text), '[.!?]+'),
               s -> regexp_matches(s, '[a-z0-9]')
             )) AS BIGINT) AS n_sentences,
             CAST(COALESCE(list_sum(list_transform({toks},
               w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))
             )), 0) AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           round(CASE WHEN n_words > 0 THEN
             206.835
             - 1.015 * (CAST(n_words AS DOUBLE)
                        / CAST(greatest(1, n_sentences) AS DOUBLE))
             - 84.6 * (CAST(n_syllables AS DOUBLE)
                       / CAST(n_words AS DOUBLE))
           ELSE 0.0 END, 6) AS flesch_reading_ease,
           round(CASE WHEN n_words > 0 THEN
             0.39 * (CAST(n_words AS DOUBLE)
                     / CAST(greatest(1, n_sentences) AS DOUBLE))
             + 11.8 * (CAST(n_syllables AS DOUBLE)
                       / CAST(n_words AS DOUBLE))
             - 15.59
           ELSE 0.0 END, 6) AS fk_grade
    FROM counts
    """


def rake_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_phrase_len: int = 4,
    top_k: int = 20,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    Extraction from Individual Documents"): candidate phrases are the
    maximal stopword-free token runs (length <= ``max_phrase_len``),
    each word scores deg(w)/freq(w) over ALL candidate occurrences
    (deg counts the word plus its phrase co-members, so words that
    travel in long phrases outrank loners at equal frequency), and a
    phrase scores the sum of its member word scores. Returns the
    corpus-wide top ``top_k`` distinct phrases — the cheap unsupervised
    keyphrase signal for corpus browsing / topic drift eyeballing.

    Returns (phrase, n_words, n_occurrences, score): counts exact;
    score accumulates the per-member deg/freq ratios in POSITION order
    (phrases are <= max_phrase_len members, so the ordered fold is a
    bounded-length array fold the DuckDB oracle replays via ORDER BY
    pos list_reduce), rounded to 6 decimals BEFORE the deterministic
    (score DESC, phrase ASC) top-k cutoff.

    Scale shape: every stage is keyed and corpus-token sized — one
    posexplode + per-doc window for phrase segmentation, one word-keyed
    stats aggregate, one word-keyed join of scores onto members, one
    phrase-keyed fold, then TakeOrdered for the top-k (never a global
    sort). Stopword membership is a codegen'd literal IN over the
    broadcast-free ~50-word English list."""
    stop = list(ENGLISH_STOPWORDS)
    toks = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("__doc"),
            F.posexplode(tokens(text_col)).alias("pos", "token"),
        )
        .withColumn(
            "__stop",
            F.col("token").isin(*stop)
            | ~F.col("token").rlike("[a-z0-9]"),
        )
    )
    seg_w = (
        Window.partitionBy("__doc")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    members = (
        toks.withColumn(
            "phrase_id", F.sum(F.col("__stop").cast("int")).over(seg_w)
        )
        .filter(~F.col("__stop"))
        .select("__doc", "phrase_id", "pos", "token")
    )
    phrases = (
        members.groupBy("__doc", "phrase_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("pos").alias("pos"),
                             F.col("token").alias("token"))
                )
            ).alias("__m")
        )
        .filter(F.size("__m") <= max_phrase_len)
    )
    occ = phrases.select(
        "__doc", "phrase_id",
        F.array_join(
            F.transform(F.col("__m"), lambda s: s["token"]), " "
        ).alias("phrase"),
        F.size("__m").alias("plen"),
        F.posexplode(
            F.transform(F.col("__m"), lambda s: s["token"])
        ).alias("mpos", "word"),
    )
    stats = occ.groupBy("word").agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    )
    scored = occ.join(stats, "word").select(
        "__doc", "phrase_id", "phrase", "plen", "mpos",
        (F.col("deg").cast("double") / F.col("freq").cast("double"))
        .alias("wscore"),
    )
    per_phrase = (
        scored.groupBy("__doc", "phrase_id", "phrase", "plen")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("mpos").alias("mpos"),
                                     F.col("wscore").alias("w"))
                        )
                    ),
                    lambda s: s["w"],
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            ).alias("pscore")
        )
    )
    # identical phrase text => identical member words => identical score;
    # MIN is a determinism-stating no-op the oracle mirrors
    return (
        per_phrase.groupBy("phrase")
        .agg(
            F.max("plen").cast("long").alias("n_words"),
            F.count("*").cast("long").alias("n_occurrences"),
            F.round(F.min("pscore"), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("phrase").asc())
        .limit(top_k)
    )


def rake_keywords_sql(*, max_phrase_len: int = 4, top_k: int = 20) -> str:
    """DuckDB replay of :func:`rake_keywords` over `documents`: same
    segmentation windows, same integer deg/freq stats, ORDER BY pos
    list_reduce for the bounded phrase fold, same rounded top-k
    cutoff."""
    toks = tokens_sql("text")
    stops = ", ".join(f"'{s}'" for s in sorted(ENGLISH_STOPWORDS))
    return f"""
    WITH tk AS (
      SELECT b.d, u.i - 1 AS pos, b.tt[u.i] AS token,
             (b.tt[u.i] IN ({stops})
              OR NOT regexp_matches(b.tt[u.i], '[a-z0-9]')) AS stop
      FROM (SELECT doc_id AS d, {toks} AS tt FROM documents) b,
           unnest(generate_series(1, len(b.tt))) AS u(i)
    ),
    seg AS (
      SELECT d, pos, token,
             SUM(CASE WHEN stop THEN 1 ELSE 0 END)
               OVER (PARTITION BY d ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS phrase_id,
             stop
      FROM tk
    ),
    members AS (
      SELECT d, phrase_id, pos, token FROM seg WHERE NOT stop
    ),
    phrases AS (
      SELECT d, phrase_id,
             array_to_string(list(token ORDER BY pos), ' ') AS phrase,
             COUNT(*) AS plen
      FROM members GROUP BY d, phrase_id
      HAVING COUNT(*) <= {max_phrase_len}
    ),
    occ AS (
      SELECT p.d, p.phrase_id, p.phrase, p.plen, m.pos, m.token AS word
      FROM phrases p JOIN members m
        ON p.d = m.d AND p.phrase_id = m.phrase_id
    ),
    stats AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS deg
      FROM occ GROUP BY word
    ),
    per_phrase AS (
      SELECT o.d, o.phrase_id, o.phrase, o.plen,
             list_reduce(
               list(CAST(s.deg AS DOUBLE) / CAST(s.freq AS DOUBLE)
                    ORDER BY o.pos),
               (a, b) -> a + b
             ) AS pscore
      FROM occ o JOIN stats s ON o.word = s.word
      GROUP BY o.d, o.phrase_id, o.phrase, o.plen
    )
    SELECT phrase,
           CAST(MAX(plen) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           round(MIN(pscore), 6) AS score
    FROM per_phrase
    GROUP BY phrase
    ORDER BY score DESC, phrase ASC
    LIMIT {top_k}
    """


def tokenizer_fertility(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    *,
    n_merges: int = 12,
    alnum_only: bool = True,
) -> DataFrame:
    """Per-language tokenizer fertility audit: pieces-per-word and
    chars-per-piece under the corpus-trained BPE merges — THE tokenizer
    equity metric (a tokenizer trained on a skewed mix over-segments
    under-represented languages; fertility is how that bias is
    measured, cf. the multilingual-tokenizer literature's
    tokens-per-word comparisons). Languages whose fertility is far
    above the corpus mean pay more sequence length for the same text —
    the signal that drives vocab re-training or per-language token
    budgets (source_token_cap / temperature_mix consume exactly this).

    Returns one row per language: (lang, n_words, n_pieces, n_chars,
    fertility, chars_per_piece) — ALL ratios are exact-integer
    divisions rounded to 6 (sum of per-word piece counts and char
    lengths weighted by per-language word frequencies; no float folds
    anywhere).

    Scale shape: the merge chain runs once on the vocabulary-sized
    word table (:func:`_bpe_encoded_words`); the per-language word
    frequencies are one corpus explode -> (lang, word) partial-count
    aggregate; the fertility join ships (word, n_pieces) — vocabulary
    rows — AQE-sized onto the per-language table (broadcast when it
    fits, never forced). Nothing corpus-sized ever joins or folds."""
    from flink_kafka_table_api_spark.caching import tracked_persist

    pieces = _bpe_encoded_words(
        df, text_col, n_merges=n_merges, alnum_only=alnum_only
    ).select(
        "w",
        F.size("syms").cast("long").alias("np"),
        F.length("w").cast("long").alias("nc"),
    )
    toks = tokens(text_col)
    lw = df.select(F.col(lang_col).alias("lang"), F.explode(toks).alias("w"))
    if alnum_only:
        lw = lw.filter(F.col("w").rlike("^[a-z0-9]+$"))
    lang_words = lw.groupBy("lang", "w").agg(
        F.count("*").cast("long").alias("f")
    )
    # no forced broadcast: the pieces table is VOCABULARY-sized, which
    # usually fits but is unbounded at extreme corpus diversity — AQE
    # picks broadcast when the actual size allows (the link_prediction
    # degree-join precedent)
    joined = lang_words.join(tracked_persist(pieces), "w")
    return (
        joined.groupBy("lang")
        .agg(
            F.sum("f").cast("long").alias("n_words"),
            F.sum(F.col("f") * F.col("np")).cast("long").alias("n_pieces"),
            F.sum(F.col("f") * F.col("nc")).cast("long").alias("n_chars"),
        )
        .select(
            "lang", "n_words", "n_pieces", "n_chars",
            F.round(
                F.col("n_pieces").cast("double")
                / F.col("n_words").cast("double"),
                6,
            ).alias("fertility"),
            F.round(
                F.col("n_chars").cast("double")
                / F.col("n_pieces").cast("double"),
                6,
            ).alias("chars_per_piece"),
        )
    )


def assoc_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_support: int = 10,
    k: int = 50,
) -> DataFrame:
    """Association rules over documents-as-baskets (Agrawal, Imielinski
    & Swami, SIGMOD 1993): from every frequent unordered token pair
    {a, b} (the :func:`frequent_pairs` A-priori stage), emit BOTH
    directed rules a=>b and b=>a with their support, confidence
    supp(a,b)/df(antecedent) and lift
    N*supp(a,b)/(df(a)*df(b)) — the "docs mentioning X also mention Y"
    primitive that upgrades co-occurrence COUNTS into directional,
    baseline-adjusted statements a curation run can threshold.

    Determinism/exactness contract: every count is a distinct-doc
    BIGINT; confidence and lift are single divisions of integer
    products round(9) (identical expression both engines); the top-k
    cutoff orders by (lift round(9) DESC, antecedent ASC, consequent
    ASC) so ties cannot reorder across engines. N is the number of
    documents with >= 1 token (the tf_idf convention, documented).

    Scale shape: the A-priori downward-closure prune bounds the pair
    space exactly as in :func:`frequent_pairs`; the df table is
    vocabulary-sized and broadcast onto the pair table twice (alias
    per side); the final TakeOrdered ships k rows per partition, never
    a global sort."""
    doc_toks, dfreq, pairs = _apriori_stage(
        df, id_col, text_col, min_support
    )
    pairs = pairs.withColumnRenamed("pair_docs", "pair_support")
    # N as a broadcast 1-row aggregate, not a driver .count() action —
    # the action would be a separate blocking job over the cache
    n_row = doc_toks.agg(
        F.countDistinct(id_col).cast("long").alias("__n")
    )
    directed = pairs.select(
        F.col("token_a").alias("antecedent"),
        F.col("token_b").alias("consequent"),
        "pair_support",
    ).unionByName(
        pairs.select(
            F.col("token_b").alias("antecedent"),
            F.col("token_a").alias("consequent"),
            "pair_support",
        )
    )
    da = dfreq.select(
        F.col("w").alias("antecedent"), F.col("df").alias("antecedent_df")
    )
    dc = dfreq.select(
        F.col("w").alias("consequent"), F.col("df").alias("consequent_df")
    )
    scored = (
        directed.join(F.broadcast(da), "antecedent")
        .join(F.broadcast(dc), "consequent")
        .crossJoin(F.broadcast(n_row))
        .select(
            "antecedent", "consequent", "pair_support",
            "antecedent_df", "consequent_df",
            F.round(
                F.col("pair_support").cast("double")
                / F.col("antecedent_df").cast("double"),
                9,
            ).alias("confidence"),
            F.round(
                (F.col("pair_support") * F.col("__n")).cast("double")
                / (
                    F.col("antecedent_df") * F.col("consequent_df")
                ).cast("double"),
                9,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), "antecedent", "consequent"
    ).limit(k)


def assoc_rules_sql(*, min_support: int = 10, k: int = 50) -> str:
    """DuckDB replay of :func:`assoc_rules` over the documents table —
    identical tokenization, prune, integer counts and rounded ratios,
    identical deterministic top-k cutoff."""
    toks = tokens_sql("text")
    return f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, w
      FROM (SELECT doc_id, unnest({toks}) AS w FROM documents)
    ),
    dfreq AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY w
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM dt),
    pruned AS (
      SELECT dt.doc_id, dt.w FROM dt
      JOIN (SELECT w FROM dfreq WHERE df >= {min_support}) f USING (w)
    ),
    pairs AS (
      SELECT a.w AS token_a, b.w AS token_b,
             CAST(COUNT(*) AS BIGINT) AS pair_support
      FROM pruned a JOIN pruned b
        ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY a.w, b.w
      HAVING COUNT(*) >= {min_support}
    ),
    directed AS (
      SELECT token_a AS antecedent, token_b AS consequent, pair_support
      FROM pairs
      UNION ALL
      SELECT token_b, token_a, pair_support FROM pairs
    )
    SELECT d.antecedent, d.consequent, d.pair_support,
           da.df AS antecedent_df, dc.df AS consequent_df,
           round(CAST(d.pair_support AS DOUBLE)
                 / CAST(da.df AS DOUBLE), 9) AS confidence,
           round(CAST(d.pair_support * n.n_docs AS DOUBLE)
                 / CAST(da.df * dc.df AS DOUBLE), 9) AS lift
    FROM directed d
    JOIN dfreq da ON d.antecedent = da.w
    JOIN dfreq dc ON d.consequent = dc.w
    CROSS JOIN n
    ORDER BY lift DESC, d.antecedent, d.consequent
    LIMIT {k}
    """


def heaps_law(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_buckets: int = 20,
) -> DataFrame:
    """Heaps'/Herdan's-law vocabulary-growth audit (Heaps, "Information
    Retrieval", 1978): cumulative distinct-type count V(n) against
    cumulative token count n at ``n_buckets`` checkpoints in document-id
    order, with the log-log OLS fit V = K * n^beta — the corpus-health
    readout a tokenizer/dedup run checks first: natural text sits near
    beta ~0.4-0.6; beta falling toward 0 mid-corpus means the crawl
    started re-reading itself, beta ~1 means id-like token soup.

    Determinism contract: checkpoint buckets are fixed-width doc-id
    ranges (width = ceil(span / n_buckets), integer arithmetic — never
    an ntile row sort); types are attributed to their FIRST document
    (min doc id per token, the ngram_novelty rule); token/type counts
    and cumulatives are pure BIGINT; the OLS sums are ONE ordered fold
    over the <= n_buckets checkpoint rows (ascending bucket, identical
    IEEE order both engines) over ln() of integer-valued doubles, and
    beta/K are single closed-form expressions round(9).

    Returns one row per non-empty bucket: (bucket, n_docs,
    bucket_tokens, new_types, cum_tokens, cum_types, beta, k_coef) —
    beta/k_coef are the corpus-level fit repeated on every row (the
    jl_projection constant-column convention). Buckets with zero
    cumulative tokens are excluded from the fit (and cannot appear as
    rows before the first token anyway).

    Scale shape: one exploded token scan feeding (a) a doc-keyed count
    and (b) a token-keyed min — both map-side-partial aggregates; the
    window/fold run on the n_buckets-row checkpoint frame; the 1-row
    fit broadcasts back. Nothing downstream of the two aggregates is
    corpus-sized."""
    from flink_kafka_table_api_spark.caching import tracked_persist

    toks = tracked_persist(
        ensure_parallelism(df)
        .select(F.col(id_col).alias("d"), F.explode(tokens(text_col)).alias("w"))
    )
    bounds = toks.agg(
        F.min("d").alias("__lo"), F.max("d").alias("__hi")
    )
    width = F.floor(
        (F.col("__hi") - F.col("__lo") + F.lit(n_buckets))
        / F.lit(n_buckets)
    ).cast("long")
    # per-doc token counts -> per-bucket token mass and doc count
    doc_counts = toks.groupBy("d").agg(
        F.count("*").cast("long").alias("nt")
    )
    bucketed_docs = (
        doc_counts.crossJoin(F.broadcast(bounds))
        .select(
            (
                1 + F.floor((F.col("d") - F.col("__lo")) / width)
            ).cast("long").alias("bucket"),
            "nt",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("bucket_tokens"),
        )
    )
    # first occurrence of each type -> per-bucket new-type count
    first_doc = toks.groupBy("w").agg(F.min("d").alias("fd"))
    bucketed_types = (
        first_doc.crossJoin(F.broadcast(bounds))
        .select(
            (
                1 + F.floor((F.col("fd") - F.col("__lo")) / width)
            ).cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("new_types"))
    )
    per_bucket = (
        bucketed_docs.join(bucketed_types, "bucket", "left")
        .select(
            "bucket", "n_docs", "bucket_tokens",
            F.coalesce("new_types", F.lit(0)).cast("long")
            .alias("new_types"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_bucket.select(
        "*",
        F.sum("bucket_tokens").over(w).cast("long").alias("cum_tokens"),
        F.sum("new_types").over(w).cast("long").alias("cum_types"),
    )
    pts = cum.filter(
        (F.col("cum_tokens") > 0) & (F.col("cum_types") > 0)
    ).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("bucket").alias("bucket"),
                    F.log(F.col("cum_tokens").cast("double")).alias("x"),
                    F.log(F.col("cum_types").cast("double")).alias("y"),
                )
            )
        ).alias("ps")
    )
    init = F.expr(
        "CAST(struct(0.0, 0.0, 0.0, 0.0) AS "
        "struct<sx:double,sy:double,sxy:double,sxx:double>)"
    )
    folded = pts.select(
        F.size("ps").cast("double").alias("b"),
        F.aggregate(
            "ps", init,
            lambda acc, p: F.struct(
                (acc["sx"] + p["x"]).alias("sx"),
                (acc["sy"] + p["y"]).alias("sy"),
                (acc["sxy"] + p["x"] * p["y"]).alias("sxy"),
                (acc["sxx"] + p["x"] * p["x"]).alias("sxx"),
            ),
        ).alias("s"),
    )
    # denominator degenerates to 0 with a single checkpoint (B=1) or
    # when every checkpoint has identical cumulative tokens — NULL fit,
    # never a divide-by-zero (ANSI mode throws; DuckDB would emit inf)
    denom = (
        F.col("b") * F.col("s.sxx") - F.col("s.sx") * F.col("s.sx")
    )
    beta = F.when(
        denom != 0,
        (F.col("b") * F.col("s.sxy") - F.col("s.sx") * F.col("s.sy"))
        / denom,
    )
    # + 0.0 canonicalizes IEEE negative zero: a slope that rounds to
    # zero from below is -0.0 in DuckDB's round but 0.0 in Spark's
    # (BigDecimal drops the sign) — caught by sf0.01 parity ("%.6g"
    # renders them "-0" vs "0")
    fit = folded.select(
        (F.round(beta, 9) + F.lit(0.0)).alias("beta"),
        F.round(
            F.exp((F.col("s.sy") - beta * F.col("s.sx")) / F.col("b")), 9
        ).alias("k_coef"),
    )
    return cum.crossJoin(F.broadcast(fit))


def heaps_law_sql(*, n_buckets: int = 20) -> str:
    """DuckDB replay of :func:`heaps_law` over the documents table:
    identical integer bucket arithmetic, first-doc attribution,
    cumulative window, and the identical ordered OLS fold."""
    toks = tokens_sql("text")
    return f"""
    WITH toks AS (
      SELECT doc_id AS d, unnest({toks}) AS w FROM documents
    ),
    bounds AS (
      SELECT MIN(d) AS lo,
             CAST(floor((MAX(d) - MIN(d) + {n_buckets})
                        / {n_buckets}) AS BIGINT) AS width
      FROM toks
    ),
    bd AS (
      SELECT CAST(1 + floor((t.d - b.lo) / b.width) AS BIGINT) AS bucket,
             CAST(COUNT(DISTINCT t.d) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS bucket_tokens
      FROM toks t, bounds b GROUP BY 1
    ),
    bt AS (
      SELECT CAST(1 + floor((f.fd - b.lo) / b.width) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS new_types
      FROM (SELECT w, MIN(d) AS fd FROM toks GROUP BY w) f, bounds b
      GROUP BY 1
    ),
    per_bucket AS (
      SELECT bd.bucket, bd.n_docs, bd.bucket_tokens,
             CAST(COALESCE(bt.new_types, 0) AS BIGINT) AS new_types
      FROM bd LEFT JOIN bt ON bd.bucket = bt.bucket
    ),
    cum AS (
      SELECT *,
             CAST(SUM(bucket_tokens) OVER (ORDER BY bucket) AS BIGINT)
               AS cum_tokens,
             CAST(SUM(new_types) OVER (ORDER BY bucket) AS BIGINT)
               AS cum_types
      FROM per_bucket
    ),
    pts AS (
      SELECT list({{'bucket': bucket,
                    'x': ln(CAST(cum_tokens AS DOUBLE)),
                    'y': ln(CAST(cum_types AS DOUBLE))}}
                  ORDER BY bucket) AS ps
      FROM cum WHERE cum_tokens > 0 AND cum_types > 0
    ),
    folded AS (
      SELECT CAST(len(ps) AS DOUBLE) AS b,
        list_reduce(
          list_transform(ps, p -> {{
            'sx': p.x, 'sy': p.y, 'sxy': p.x * p.y, 'sxx': p.x * p.x}}),
          (acc, e) -> {{
            'sx': acc.sx + e.sx, 'sy': acc.sy + e.sy,
            'sxy': acc.sxy + e.sxy, 'sxx': acc.sxx + e.sxx}}
        ) AS s
      FROM pts
    ),
    fit AS (
      -- CASE-guarded like the Spark side: B=1 or constant-x checkpoints
      -- make the denominator 0 (DuckDB would emit inf, Spark ANSI throws)
      -- + 0.0 canonicalizes -0.0 (matches the Spark side; IEEE
      -- (-0.0) + (+0.0) = +0.0)
      SELECT round(CASE WHEN b * s.sxx - s.sx * s.sx <> 0 THEN
                     (b * s.sxy - s.sx * s.sy)
                     / (b * s.sxx - s.sx * s.sx) END, 9) + 0.0 AS beta,
             round(exp((s.sy - CASE WHEN b * s.sxx - s.sx * s.sx <> 0
                               THEN (b * s.sxy - s.sx * s.sy)
                                    / (b * s.sxx - s.sx * s.sx) END
                               * s.sx) / b),
                   9) AS k_coef
      FROM folded
    )
    SELECT cum.bucket, cum.n_docs, cum.bucket_tokens, cum.new_types,
           cum.cum_tokens, cum.cum_types, fit.beta, fit.k_coef
    FROM cum, fit
    """


# ---------------------------------------------------------------------------
# PII scrub: VALIDATED detection + redaction of four PII
# signal classes over a text column. The registered `pii_redact`
# (operators/curation.py) is the pattern-REPLACEMENT pass (typed tags +
# one total tag count); this operator adds what an audit/compliance
# REPORT needs and a bare replace chain cannot produce: per-class
# counts where a candidate is COUNTED only if it validates — Luhn
# mod-10 for 13-16-digit card runs, octet <= 255 for dotted quads —
# while every candidate still redacts (conservative-redaction policy;
# a digit run that fails Luhn is still not something to ship).
# Complements k_anonymity, which audits STRUCTURED quasi-identifiers.
# Pure codegen'd expression algebra: regex extract chains +
# higher-order-function validation folds, zero Python in the hot path.
# Patterns stay in the Java/RE2 common subset (no lookaround, no
# backreferences) so the DuckDB oracle replays them verbatim.
# ---------------------------------------------------------------------------

PHONE_RE = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
CC_RE = r"\b[0-9]{13,16}\b"


def _luhn_ok(s: Column) -> Column:
    """Luhn mod-10 checksum over a digit string: from the right, double
    every second digit, subtract 9 when it exceeds 9, total % 10 == 0.
    An integer aggregate fold — bit-exact in both engines."""
    n = F.length(s)
    def step(acc: Column, i: Column) -> Column:
        d = F.substr(s, i, F.lit(1)).cast("int")
        doubled = F.when(((n - i) % 2) == 1, d * 2).otherwise(d)
        return acc + F.when(doubled > 9, doubled - 9).otherwise(doubled)
    total = F.aggregate(F.sequence(F.lit(1), n), F.lit(0), step)
    return (total % 10) == 0


def _luhn_ok_sql(s: str) -> str:
    return (
        f"(list_sum(list_transform(range(1, length({s}) + 1), i -> "
        f"CASE WHEN ((length({s}) - i) % 2) = 1 THEN "
        f"(CASE WHEN CAST(substring({s}, i, 1) AS INT) * 2 > 9 "
        f"THEN CAST(substring({s}, i, 1) AS INT) * 2 - 9 "
        f"ELSE CAST(substring({s}, i, 1) AS INT) * 2 END) "
        f"ELSE CAST(substring({s}, i, 1) AS INT) END)) % 10 = 0)"
    )


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII audit + redaction:

      n_emails   — email-shaped spans;
      n_phones   — NNN-NNN-NNNN phone spans;
      n_ipv4     — dotted quads whose four octets are all <= 255
                   (candidates with out-of-range octets are counted out
                   but still redacted — conservative redaction);
      n_cc_luhn  — 13-16 digit runs passing the Luhn mod-10 check
                   (same policy: every digit run is redacted, only
                   checksum-valid ones are COUNTED as card numbers);
      redacted   — the text with every candidate span replaced by its
                   <EMAIL>/<CC>/<PHONE>/<IP> tag.

    One narrow projection pass at any scale — no shuffle, no join, no
    Python. Counts and validation are higher-order integer folds over
    the extracted span arrays."""
    t = F.col(text_col)
    emails = F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0))
    phones = F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0))
    ips = F.regexp_extract_all(t, F.lit(IPV4_RE), F.lit(0))
    ccs = F.regexp_extract_all(t, F.lit(CC_RE), F.lit(0))
    valid_ip = lambda x: F.forall(  # noqa: E731
        F.split(x, r"\."), lambda o: o.cast("int") <= 255
    )
    redacted = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    redacted = F.regexp_replace(redacted, CC_RE, "<CC>")
    redacted = F.regexp_replace(redacted, PHONE_RE, "<PHONE>")
    redacted = F.regexp_replace(redacted, IPV4_RE, "<IP>")
    return df.select(
        "doc_id",
        F.size(emails).cast("long").alias("n_emails"),
        F.size(phones).cast("long").alias("n_phones"),
        F.size(F.filter(ips, valid_ip)).cast("long").alias("n_ipv4"),
        F.size(F.filter(ccs, _luhn_ok)).cast("long").alias("n_cc_luhn"),
        redacted.alias("redacted"),
    )


def pii_scrub_sql(text_expr: str) -> str:
    """DuckDB rendering of :func:`pii_scrub` over `text_expr` —
    fragments for the oracle (same patterns verbatim; RE2 and Java
    agree on this subset)."""
    email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    phone = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
    ipv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    cc = "\\b[0-9]{13,16}\\b"
    redacted = (
        f"regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        f"{text_expr}, '{email}', '<EMAIL>', 'g'), "
        f"'{cc}', '<CC>', 'g'), "
        f"'{phone}', '<PHONE>', 'g'), "
        f"'{ipv4}', '<IP>', 'g')"
    )
    return f"""
      CAST(len(regexp_extract_all({text_expr}, '{email}')) AS BIGINT)
        AS n_emails,
      CAST(len(regexp_extract_all({text_expr}, '{phone}')) AS BIGINT)
        AS n_phones,
      CAST(len(list_filter(regexp_extract_all({text_expr}, '{ipv4}'),
        x -> len(list_filter(string_split(x, '.'),
                 o -> CAST(o AS INT) > 255)) = 0)) AS BIGINT) AS n_ipv4,
      CAST(len(list_filter(regexp_extract_all({text_expr}, '{cc}'),
        s -> {_luhn_ok_sql('s')})) AS BIGINT) AS n_cc_luhn,
      {redacted} AS redacted
    """
