"""Streaming incremental near-dup detection: every incoming micro-batch of
documents is checked against an accumulating MinHash-LSH signature index.

The streaming twin of operators/dedup.py's batch pipeline — the shape a
continuous ingestion pipeline needs (new crawl data arriving hourly, each
delta deduped against everything already ingested WITHOUT rescanning it):

  per micro-batch (foreachBatch):
    1. signatures + band hashes for the NEW docs only (O(delta));
    2. bucket-join those bands against the persisted band index
       (O(delta x bucket density), never O(corpus)), with the SAME
       oversized-bucket cap as the batch pipeline, applied to the
       ACCUMULATED occupancy (index + this batch) — a hot boilerplate
       template flooding one band bucket is defused in-stream, not just
       in batch replays;
    3. exact-Jaccard verify candidate pairs (new doc text vs indexed doc
       text, via the doc store);
    4. publish flagged pairs / the new docs' bands + texts into
       BATCH-SCOPED state directories under the batch_commit protocol
       (marker `indexed/batch-N`) — the accumulated index a replay reads
       holds only EARLIER batches, never its own partial output.

Cap semantics vs the single-pass batch oracle: the cap engages on the
occupancy a bucket has reached AT DETECTION TIME. A bucket that crosses
the cap mid-stream stops producing candidates from then on, but pairs it
produced while small are kept — so incremental recall is a superset of
the capped single-pass run and a subset of the uncapped one. At every
shipped sf the largest bucket is far below the cap, so the gate parity
with the capped batch oracle is exact (pinned in tests).

At 100 TB the band index is the only long-lived state: ~bands x 8 bytes
per doc, bucket-keyed so step 2 prunes. Batches also self-dedup
(new-vs-new collisions) in the same join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from flink_kafka_table_api_spark.operators.dedup import (
    jaccard,
    lsh_bands,
    minhash_signatures,
    shingles,
)
from flink_kafka_table_api_spark.streaming.batch_commit import (
    BatchCommit,
    Publish,
    batch_dir,
    has_data,
    overwrite,
    read_back,
    versions,
)


class IncrementalDedup:
    """State paths + per-batch merge logic (exposed separately from the
    streaming query so batch backfills can call process_batch directly)."""

    def __init__(
        self,
        state_dir: str,
        *,
        num_hashes: int = 8,
        bands: int = 4,
        rows_per_band: int = 2,
        shingle_k: int = 3,
        threshold: float = 0.5,
        portable: bool = False,
        max_bucket_size: int | None = 256,
        capture_plans: bool = False,
    ) -> None:
        self.state_dir = state_dir
        self.bands_path = os.path.join(state_dir, "band_index")
        self.docs_path = os.path.join(state_dir, "doc_store")
        self.matches_path = os.path.join(state_dir, "matches")
        self.marker_dir = os.path.join(state_dir, "indexed")
        self.commit = BatchCommit(
            state_dir, marker_dir=self.marker_dir,
            scoped=(self.bands_path, self.docs_path, self.matches_path),
        )
        self.num_hashes = num_hashes
        self.bands = bands
        self.rows_per_band = rows_per_band
        self.shingle_k = shingle_k
        self.threshold = threshold
        self.portable = portable
        self.max_bucket_size = max_bucket_size
        self.capture_plans = capture_plans
        self.last_candidate_plan: str | None = None

    @staticmethod
    def _read_parts(
        spark: SparkSession, table_path: str, template: DataFrame
    ) -> DataFrame:
        """Union of all published batch-N directories (empty template
        frame when none hold data yet). recursiveFileLookup keeps the
        state schema identical to what each batch wrote — no
        partition-column surprises for downstream unions."""
        if not has_data(table_path):
            return template.limit(0)
        # explicit schema (the template's own): skips the per-call footer
        # schema inference — a driver-side file read per micro-batch that
        # grows with the number of published state files
        return (
            spark.read.schema(template.schema)
            .option("recursiveFileLookup", "true")
            .parquet(table_path)
            .select(*template.columns)
        )

    def is_indexed(self, batch_id: int) -> bool:
        """True iff process_batch fully published this batch."""
        return self.commit.committed(batch_id)

    def _new_bands(self, batch: DataFrame) -> DataFrame:
        sigs = minhash_signatures(
            batch, "doc_id", "text",
            num_hashes=self.num_hashes, shingle_k=self.shingle_k,
            portable=self.portable,
        )
        return lsh_bands(
            sigs, "doc_id", bands=self.bands, rows_per_band=self.rows_per_band
        )

    def _verify_shingles(
        self, doc_store: DataFrame, batch: DataFrame, cand: DataFrame
    ) -> DataFrame:
        """Shingle sets for the verify join — computed ONLY for docs named
        in a candidate pair. Semi-join the doc store down to those ids
        BEFORE shingling — the same prune as the batch pipeline
        (operators/dedup.py lsh_verified_pairs) — so step 3 is
        O(candidates) per batch, never O(corpus): without it, every
        micro-batch would re-shingle every document ever ingested, the one
        cost that grows without bound in a long-running stream."""
        cand_ids = (
            cand.select(F.col("a").alias("doc_id"))
            .unionByName(cand.select(F.col("b").alias("doc_id")))
            # no .distinct(): this is only ever the BUILD side of a
            # left-semi join, whose hash relation dedups keys anyway — the
            # explicit exchange was one more per-batch stage for nothing
        )
        texts = doc_store.unionByName(batch).join(
            cand_ids, "doc_id", "left_semi"
        )
        return texts.select(
            "doc_id", shingles("text", self.shingle_k).alias("__sh")
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.commit.run(batch_id, lambda: self._index(batch, batch_id))

    def _index(self, batch: DataFrame, batch_id: int) -> Publish:
        spark = batch.sparkSession
        batch = batch.select("doc_id", "text").persist()
        # lazy persist: the concurrent publishes below materialize both
        # caches on first use (per-partition cache locks serialize the
        # compute) — the old eager count() was one more fixed-cost job
        # per micro-batch for the same materialization
        new_bands = self._new_bands(batch).persist()
        index = self._read_parts(spark, self.bands_path, new_bands)
        # One tagged union of (index, this batch) feeds BOTH the cap
        # aggregate and the candidate join below — a former shape ran
        # two separate probe joins (new-vs-indexed, new-vs-new) plus a
        # union: one exchange + one broadcast build more per micro-batch
        # for the identical candidate set (guide §2.4).
        tagged = (
            index.select(
                "doc_id", "band_id", "band_hash",
                F.lit(False).alias("__new"),
            ).unionByName(
                new_bands.select(
                    "doc_id", "band_id", "band_hash",
                    F.lit(True).alias("__new"),
                )
            )
        )
        # Oversized-bucket cap on the ACCUMULATED occupancy (index + this
        # batch): the oversized set is the pathology, therefore tiny, and
        # broadcasts into an anti-join, so the bands tables are never
        # re-shuffled for it. The policy must match
        # operators/dedup.py lsh_candidate_pairs': a bucket over the cap
        # is skipped, one at the cap is kept.
        capped = tagged
        if self.max_bucket_size is not None:
            big = (
                tagged.select("band_id", "band_hash")
                .groupBy("band_id", "band_hash")
                .agg(F.count("*").alias("__n"))
                .filter(F.col("__n") > self.max_bucket_size)
                .select("band_id", "band_hash")
            )
            capped = tagged.join(
                F.broadcast(big), ["band_id", "band_hash"], "left_anti"
            )
        # candidates, ONE bucket join with per-side pair-uniqueness rules
        # (the left side is always a NEW doc):
        # - new-vs-INDEXED (right row __new=false): the id sets are
        #   disjoint (an id is indexed at most once), so each cross pair
        #   appears in exactly one orientation (a=new, b=indexed) and
        #   `a != b` keeps it — an `a > b` filter here would silently
        #   drop every pair whose new id sorts below the indexed id
        #   (arbitrary-id streams);
        # - new-vs-NEW (right row __new=true, a self join): both
        #   orientations appear, `a > b` dedups them and drops self-pairs.
        # Output orientation is therefore (a=new doc, b=indexed doc) for
        # cross pairs and (a=larger id, b=smaller id) within a batch.
        new_a = capped.filter("__new").select(
            F.col("doc_id").alias("a"), "band_id", "band_hash"
        )
        # cand feeds THREE consumers below (the id prune plus both sides of
        # the verify join); persist so the band bucket-join runs once.
        cand = (
            new_a.join(
                capped.select(
                    F.col("doc_id").alias("b"), "band_id", "band_hash",
                    "__new",
                ),
                ["band_id", "band_hash"],
            )
            .filter(
                F.when(F.col("__new"), F.col("a") > F.col("b"))
                .otherwise(F.col("a") != F.col("b"))
            )
            .select("a", "b")
            .distinct()
            .persist()
        )
        doc_store = self._read_parts(spark, self.docs_path, batch)
        # persist: BOTH sides of the verify join below read this frame,
        # and without the cache each side re-evaluates the whole
        # semi-join + shingle expression DAG (no ReusedExchange fires —
        # the branches differ by alias); sh is O(candidate docs), so the
        # cache is bounded by the pair budget, never the corpus
        sh = self._verify_shingles(doc_store, batch, cand).persist()
        a = sh.select(F.col("doc_id").alias("a"), F.col("__sh").alias("__sa"))
        b = sh.select(F.col("doc_id").alias("b"), F.col("__sh").alias("__sb"))
        matches = (
            cand.join(a, "a").join(b, "b")
            .withColumn("jaccard", F.round(jaccard(F.col("__sa"), F.col("__sb")), 6))
            .filter(F.col("jaccard") >= self.threshold)
            .select("a", "b", "jaccard")
            .withColumn("batch_id", F.lit(batch_id))
        )
        # plan pin for the skew posture (read by tests and the skew
        # experiment, never by the pipeline): the cap must reach the
        # physical plan as a broadcast anti-join. Opt-in: forcing
        # executedPlan() here pays full driver-side planning of the
        # candidate DAG once per micro-batch (~0.3-1 s at sf0.1), so
        # only the callers that read the pin ask for it.
        if self.capture_plans:
            self.last_candidate_plan = (
                cand._jdf.queryExecution().executedPlan().toString()
            )
        return Publish([
            overwrite(matches, batch_dir(self.matches_path, batch_id)),
            overwrite(new_bands, batch_dir(self.bands_path, batch_id)),
            overwrite(batch, batch_dir(self.docs_path, batch_id)),
        ], release=[cand, sh, new_bands, batch])

    def matches(self, spark) -> DataFrame:
        if not versions(self.matches_path):
            raise FileNotFoundError("no batches processed yet")
        # explicit schema: the published match rows' exact types (pinned
        # by process_batch's select + lit), skipping per-call footer
        # schema inference over every published batch file; typed empty
        # when every batch was match-free
        return read_back(
            spark, self.matches_path,
            "a long, b long, jaccard double, batch_id int",
        )

    def compact_state(
        self, spark, *, target_file_bytes: int = 256 * 1024 * 1024
    ) -> None:
        """Housekeeping for long-running streams: every micro-batch
        publishes one directory of per-partition files to the band index /
        doc store / matches, so after thousands of batches the scans in
        step 2/3 go metadata-bound. Rewrites each published batch
        directory to ~target-sized files (atomic swap via
        sources.files.compact), preserving the batch-scoped layout the
        replay idempotence depends on. Run it between batches on whatever
        cadence the batch rate dictates — state CONTENT is untouched, so
        detection results are identical before and after."""
        from flink_kafka_table_api_spark.sources.files import compact

        for p in (self.bands_path, self.docs_path, self.matches_path):
            for n in versions(p):
                compact(
                    spark, batch_dir(p, n), target_file_bytes=target_file_bytes
                )


def streaming_neardup(
    doc_stream: DataFrame,
    state_dir: str,
    *,
    checkpoint_dir: str,
    threshold: float = 0.5,
    **kwargs,
) -> StreamingQuery:
    """Start the incremental near-dup pipeline over a streaming document
    source. Matches accumulate in ``<state_dir>/matches`` with the batch id
    that detected them."""
    dedup = IncrementalDedup(state_dir, threshold=threshold, **kwargs)
    return (
        doc_stream.writeStream.foreachBatch(dedup.process_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .queryName("incremental_neardup")
        .start()
    )
