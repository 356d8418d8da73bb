"""Structured Streaming seed/frontier ingestion.

The reference is strictly batch (one seed per crawl,
/root/reference/simple_crawler/crawler.py:196-199) and the engine's
core loop is deliberately batch-iterative (SURVEY.md §3.4). What a
production frontier still needs from streaming is the INGEST side:
new seed URLs arrive continuously (link submissions, sitemap diffs,
recrawl schedules) and must be canonicalised, deduplicated, and staged
into the frontier table without stopping the crawl.

``stream_seeds`` wires that as a Structured Streaming pipeline:

    file source (text, one raw url per line)
      → canonicalize (same Arrow UDF as the batch path, F8)
      → watermarked dropDuplicates on url_norm     (exactly-once-ish
        dedupe within the retention window; the crawl's own R4
        anti-join stays the global backstop)
      → foreachBatch: append into a SnapshotStore frontier partition

Micro-batches write through the same storage layer as the batch loop,
so a concurrently-running crawl picks new seeds up at its next round
boundary — no coordination needed beyond the snapshot commit.

NOTE: ``stream_seeds`` is RAW staging into a bare SnapshotStore — it
bypasses crawler state (no robots registration, no seen insertion).
To feed a FrontierCrawler, use ``FrontierCrawler.ingest_stream``
(plans/crawl.py), which runs this same canonical_seed_stream but
treats each micro-batch like a round's discovered links: seen
anti-join + admission (round_added set) + a robots phase for its
authorities (round-2 ADVICE fix).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplecrawler_spark.functions.canonical import canonicalize_df
from simplecrawler_spark.plans.tables import SnapshotStore


def canonical_seed_stream(spark: SparkSession, source_dir: str,
                          watermark: str = "10 minutes") -> DataFrame:
    """Streaming DataFrame of canonicalised, deduplicated seed rows
    from a drop-directory of url-list text files."""
    raw = (spark.readStream.format("text")
           .option("maxFilesPerTrigger", 64)
           .load(source_dir)
           .withColumnRenamed("value", "url_raw")
           .where(F.length(F.trim(F.col("url_raw"))) > 0)
           .withColumn("ingest_ts", F.current_timestamp()))
    canon = canonicalize_df(raw.withColumn(
        "url_raw", F.trim(F.col("url_raw"))))
    return (canon.withWatermark("ingest_ts", watermark)
            .dropDuplicates(["url_norm"]))


def stream_seeds(spark: SparkSession, source_dir: str, store: SnapshotStore,
                 round_no: int, checkpoint_dir: str,
                 available_now: bool = True):
    """Run the ingest pipeline; each micro-batch appends frontier rows
    for ``round_no``. Returns the StreamingQuery (await it or stop it).

    ``available_now=True`` drains the files present now and stops
    (test/batch catch-up mode); ``False`` runs continuously.
    """

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        rows = batch_df.select(
            "url_norm", "url_raw",
            F.xxhash64("url_norm").alias("url_hash"),
            "authority", "host",
            F.lit(0).alias("depth"), F.lit(0.0).alias("priority"),
            F.lit(None).cast("string").alias("discovered_from"),
            F.lit(round_no).alias("round"),
            F.lit(None).cast("int").alias("round_added"),  # no admission
        )
        store.append("frontier", rows, partition=f"r{round_no}")

    writer = (canonical_seed_stream(spark, source_dir).writeStream
              .foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


__all__ = ["canonical_seed_stream", "stream_seeds"]
