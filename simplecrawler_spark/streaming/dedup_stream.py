"""Streaming exact dedup — first-occurrence document filtering across
micro-batches, backed by a durable seen table and a Bloom prefilter.

A continuously-ingested training corpus (crawl output, submission
queues, recrawl diffs) needs the SAME dedup guarantee the batch
pipeline gets from operators/dedup.exact_dedup: exactly one survivor
per normalised-text fingerprint, ever. A watermarked
``dropDuplicates`` can't give it (state expires); an
``applyInPandasWithState`` set would hold every fingerprint in the
state store forever. The scale-correct shape is a durable seen
TABLE and the exact (url_hash, url_norm) anti-join the crawl uses for
URLs (plans/crawl.py R4), here with operators/seen.py's BloomSeen in
front of it, applied per micro-batch in ``foreachBatch``:

    batch → fingerprint → in-batch min-id collapse
          → bloom-split anti-join vs the seen-fingerprint table
          → survivors append to docs + seen tables (+ bloom), one
            snapshot commit per batch

Dedup state therefore survives QUERY RESTARTS — it lives in the
SnapshotStore, not the streaming state store — and definitely-new
rows (bloom miss) never shuffle against the seen table. No benchmark
workload runs this sink, so the prefilter's worth here is unmeasured
(the crawl dropped its own copy once measured: README, "Scale
design").

Batch twin / oracle: ``dedup_survivors`` (min id per fingerprint) —
processing the whole corpus as ONE batch, or as ANY partition of it
into micro-batches IN ID ORDER, yields the identical survivor set
(parity pinned by tests/test_streaming.py). Out-of-order arrival
keeps the one-survivor-per-fingerprint invariant but first-arrival
wins — the streaming contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplecrawler_spark.functions.canonical import url_hash
from simplecrawler_spark.functions.text import fingerprint_expr
from simplecrawler_spark.operators.seen import BloomSeen, anti_join_seen
from simplecrawler_spark.plans.tables import SnapshotStore

__all__ = ["dedup_survivors", "StreamDedup"]


def dedup_survivors(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Batch twin: the (id, fingerprint) survivor rows — min id per
    normalised-text fingerprint. Column names match the streamed
    output so parity checks compare directly."""
    return (docs
            .select(F.col(id_col).alias("doc_id"),
                    fingerprint_expr(F.col(text_col)).alias("fingerprint"))
            .groupBy("fingerprint")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id", "fingerprint"))


class StreamDedup:
    """Owns the durable dedup state (SnapshotStore + in-memory bloom)
    and exposes the foreachBatch sink. Re-instantiating over the same
    ``root`` resumes: the seen table reloads from the latest snapshot
    manifest and the bloom rebuilds from it (no false negatives after
    restart)."""

    SEEN_SCHEMA = "fingerprint string, url_hash long, doc_id long"
    DOCS_SCHEMA = "doc_id long, fingerprint string"

    def __init__(self, spark: SparkSession, root: str,
                 expected_items: int = 1 << 20, fpp: float = 0.01):
        from pyspark.sql import types as T

        seen_schema = T.StructType([
            T.StructField("fingerprint", T.StringType()),
            T.StructField("url_hash", T.LongType()),
            T.StructField("doc_id", T.LongType()),
        ])
        docs_schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("fingerprint", T.StringType()),
        ])
        self.spark = spark
        self.store = SnapshotStore(spark, root, schemas={
            "seen_fp": seen_schema, "docs": docs_schema})
        self.bloom = BloomSeen(expected_items=expected_items, fpp=fpp)
        self._batches = 0
        if self.store._committed.get("seen_fp"):
            # resume: rebuild the prefilter from the durable table —
            # the bloom is a pure accelerator, the table is the truth
            self.bloom.add_df(self._seen_keys(self.store.read("seen_fp")),
                              url_col="url_norm", host_col="host")

    @staticmethod
    def _seen_keys(seen: DataFrame) -> DataFrame:
        # anti_join_seen keys on (url_hash, url_norm) and BloomSeen
        # buckets on a host column — a content fingerprint plays all
        # three roles (uniform by construction, so host bucketing
        # costs nothing here)
        return seen.select(
            F.col("fingerprint").alias("url_norm"),
            F.col("fingerprint").alias("host"),
            "url_hash", "doc_id")

    def sink(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: collapse, anti-join, append, commit."""
        cand = (dedup_survivors(batch_df)
                .withColumn("url_hash", url_hash(F.col("fingerprint")))
                .select(F.col("fingerprint").alias("url_norm"),
                        F.col("fingerprint").alias("host"),
                        "url_hash", "doc_id"))
        new = anti_join_seen(cand, self._seen_keys(
            self.store.read("seen_fp")), self.bloom)
        self.store.append("docs", new.select("doc_id", F.col("url_norm")
                                             .alias("fingerprint")),
                          partition=f"b{batch_id}")
        # the docs append executed the anti-join exactly once; the
        # seen rows and the bloom update re-derive from the WRITTEN
        # file (column-pruned scan), never from the lazy plan — the
        # crawl's staged-file discipline (plans/crawl.py round body)
        path = self.store._pending["docs"][-1]["path"]
        written = self.spark.read.parquet(path)
        keyed = written.select(
            "fingerprint", url_hash(F.col("fingerprint")).alias("url_hash"),
            "doc_id")
        self.store.append("seen_fp", keyed, partition=f"b{batch_id}")
        self.bloom.add_df(self._seen_keys(keyed), url_col="url_norm",
                          host_col="host")
        self._batches += 1
        self.store.commit_snapshot(self._batches)

    def survivors(self) -> DataFrame:
        return self.store.read("docs")

    def attach(self, docs_stream: DataFrame):
        """writeStream wiring for a streaming docs DataFrame."""
        return docs_stream.writeStream.foreachBatch(self.sink)


def stream_exact_dedup(spark: SparkSession, source_dir: str,
                       root: str, checkpoint_dir: str,
                       expected_items: int = 1 << 20):
    """Convenience wiring: parquet drop-directory of document rows →
    StreamDedup sink. Returns (StreamDedup, DataStreamWriter) — call
    ``.start()`` (+ ``.trigger(availableNow=True)`` for drain-and-stop
    semantics) on the writer."""
    sd = StreamDedup(spark, root, expected_items=expected_items)
    src = (spark.readStream
           .schema("doc_id long, text string, lang string, "
                   "source string, n_chars long")
           .option("maxFilesPerTrigger", 1)
           .parquet(source_dir))
    writer = (sd.attach(src)
              .option("checkpointLocation", checkpoint_dir))
    return sd, writer
