"""Composed LLM training-data curation pipeline (the BASELINE.json north
star as ONE flow): quality scoring -> quality filter -> MinHash-LSH near-dup
clustering -> canonical-document selection.

This is the pipeline a user actually runs at 100 TB, and the composition IS
the point: every stage is one of the engine's operators, so the whole flow
stays declarative + distributed:

  stage             shape at scale
  quality scoring   narrow pass, whole-stage codegen
  quality filter    pushed predicate (drops rows before any shuffle)
  LSH near-dup      O(corpus) signatures + per-bucket id lists (never O(n^2))
  clustering        union-find over the (tiny) near-dup pair graph
  canonical filter  left-anti join against non-canonical ids

Only documents that survive the quality filter enter near-dup detection —
the same ordering you want at scale (cheapest filter first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.operators.dedup import (
    connected_components,
    lsh_verified_pairs,
)
from flink_kafka_table_api_spark.caching import tracked_persist
from flink_kafka_table_api_spark.operators.text import with_quality_score


def curate_documents(
    docs: DataFrame,
    *,
    quality_threshold: float = 0.5,
    jaccard_threshold: float = 0.5,
    portable: bool = True,
    cc_driver_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """Returns the curated corpus: (doc_id, lang, n_tokens, quality_score)
    for documents that pass the quality gate and are the canonical
    representative of their near-dup cluster (or have no near-dups)."""
    quality = with_quality_score(docs).select(
        "doc_id", "n_tokens", "quality_score"
    )
    # persist: `kept` feeds the LSH pipeline AND the final canonical join —
    # without it the quality pass (tokenize + score) runs once per branch;
    # tracked so release_cached() frees it at the query boundary
    kept = tracked_persist(docs.join(
        quality.filter(F.col("quality_score") >= quality_threshold), "doc_id"
    ))
    pairs = lsh_verified_pairs(
        kept.select("doc_id", "text"), "doc_id", "text",
        num_hashes=8, bands=4, rows_per_band=2, shingle_k=3,
        threshold=jaccard_threshold, portable=portable,
    )
    # cc_driver_edge_threshold is the one piece of driver-side state in the
    # pipeline: below it the near-dup graph is collected for union-find,
    # above it the distributed label-propagation path runs. Web-scale
    # corpora with template boilerplate can exceed the default (hundreds of
    # millions of pairs) — tune it per corpus instead of trusting 2M.
    clusters = connected_components(
        pairs, driver_edge_threshold=cc_driver_edge_threshold
    )
    dropped = clusters.filter(~F.col("is_canonical")).select(
        F.col("id").alias("doc_id")
    )
    return (
        kept.join(dropped, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_tokens", "quality_score")
    )


def curate_and_pack(
    docs: DataFrame,
    *,
    benchmark_source: str = "src19",
    decon_ngram_n: int = 4,
    quality_threshold: float = 0.5,
    jaccard_threshold: float = 0.5,
    budget: int = 256,
    portable: bool = True,
    cc_driver_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """The v2 end-to-end flow, adding the two bookend stages a production
    pretraining pipeline runs:

      benchmark decontamination (broadcast n-gram anti-join)
        -> quality gate -> LSH near-dup clustering -> canonical selection
        -> fixed-budget sequence packing (distributed prefix sum)

    Returns (doc_id, n_tokens, seq_id): the curated corpus laid out into
    ``budget``-token training sequences. Every stage is declarative and
    keyed the way its shuffle wants; the only driver-side state is the
    near-dup pair graph (tiny by construction)."""
    from flink_kafka_table_api_spark.operators.curation import (
        decontaminate,
        pack_sequences,
    )

    bench = docs.filter(F.col("source") == benchmark_source)
    # persist: the decontamination anti-join (n-gram explode over the whole
    # train corpus) feeds curation AND the final survivor join; tracked so
    # release_cached() frees it at the query boundary
    train = tracked_persist(decontaminate(
        docs.filter(F.col("source") != benchmark_source), bench,
        ngram_n=decon_ngram_n,
    ))
    curated = curate_documents(
        train, quality_threshold=quality_threshold,
        jaccard_threshold=jaccard_threshold, portable=portable,
        cc_driver_edge_threshold=cc_driver_edge_threshold,
    )
    survivors = train.join(curated.select("doc_id"), "doc_id")
    return pack_sequences(survivors, budget=budget)
