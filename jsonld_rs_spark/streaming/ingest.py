"""Streaming ingestion: crawl rows arriving as files → canonical triples.

The reference is strictly batch (one document at a time in memory,
SURVEY.md §1.3); the north rule's 10^12-doc table is batch too. This module
adds the streaming-shaped front door a production crawl actually has:
pages land continuously, the engine ingests incrementally with exactly-once
file-source semantics, and late/duplicate crawls are handled by watermarked
dedup.

Design choices for scale:
* ``foreachBatch`` drives the SAME batch extraction stage (triples.py) —
  one code path to test, and each micro-batch inherits the batch stage's
  partition behavior;
* dedup state is bounded by a watermark on ``warc_ts`` (without it, a
  10^12-row stream accumulates unbounded state);
* the dedup state store has at most one shard per core: its shard count is
  ``min(spark.sql.shuffle.partitions, defaultParallelism)``, fixed when the
  query starts. The ``foreachBatch`` extraction runs in those same
  partitions, and each Python task pays a fixed start-up cost (~0.25 s on a
  4-core box) before its body runs, so a micro-batch's Python stage must fit
  in one wave. At the session's 2×cores a 6-page drop ran 8 tasks in two
  waves: perfbench stream_ingest freshness p50 was 1.40 s at 8 shards and
  0.87 s at 4 (medians of 10 interleaved runs, local[4]). Checkpointed
  queries keep the shard count of their batch 0;
* the context store is broadcast once per query, not once per micro-batch;
* foreachBatch alone is only at-least-once; each batch writes to its own
  ``batch=<id>`` directory with overwrite, so a replayed batch replaces its
  previous attempt — idempotent, hence exactly-once end-to-end with the
  file-source checkpoint.
"""

from __future__ import annotations

import os
from typing import Any, Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..conf import scoped_conf
from ..pipeline.context_store import BUILTIN_CONTEXTS
from ..pipeline.triples import _extract_records

# Loud-failure timeout for availableNow streaming queries (ADVICE r3: never
# hang the driver gate; ADVICE r4: the constant must be widenable on this
# VM's documented CPU-steal windows without editing source).
STREAM_TIMEOUT_SEC = int(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT", "300"))

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def _stream_agg_partitions(spark) -> int:
    """State-store shard count for the complete-mode replay aggregations.

    Same finding as sessionize_replay (r8): every shard pays a fixed
    commit/delta-file cost per micro-batch, so running a few-hundred-group
    aggregation at the session-wide 2×cores shuffle partitions (64 locally)
    triples the replay wall for zero distribution benefit (measured at
    sf0.1/local[32]: rollup 3.1-5.5 s warm at 64 shards vs 1.2-1.5 s at 8;
    identical results — partitioning only distributes keys). Scales with
    the cluster (cores/4, floor 8) rather than a constant."""
    return max(8, spark.sparkContext.defaultParallelism // 4)


def stream_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of crawl rows (parquet files dropped into a dir)."""
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )


def dedup_late_crawls(pages_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Drop duplicate (url, warc_ts) arrivals; watermark bounds the state."""
    return pages_stream.withWatermark("warc_ts", watermark).dropDuplicates(
        ["url", "warc_ts"]
    )


def start_streaming_extraction(
    pages_stream: DataFrame,
    out_dir: str,
    store: Optional[Dict[str, Any]] = None,
    trigger_available_now: bool = True,
    dedup_watermark: Optional[str] = None,
):
    """pages stream → records table (triples + metrics rows, append-only).

    Each micro-batch runs the batch extraction stage; the records parquet is
    split downstream exactly like the batch path (materialize.py).

    ``dedup_watermark`` opts into stateful (url, warc_ts) dedup — use it only
    when re-crawls actually arrive within the watermark horizon: rows older
    than the watermark are *dropped as late*, which is the deal you make for
    bounded state. Exactly-once over the file source itself already comes
    from the checkpoint, with no state at all.
    """
    records_path = os.path.join(out_dir, "records")
    checkpoint = os.path.join(out_dir, "_stream_checkpoint")
    spark = pages_stream.sparkSession
    store_b = spark.sparkContext.broadcast(store or BUILTIN_CONTEXTS)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        records = _extract_records(batch_df, store_b, stage=f"stream_b{batch_id}")
        # overwrite of a per-batch directory makes retries idempotent
        # (plain append would duplicate a replayed batch)
        records.write.mode("overwrite").parquet(
            os.path.join(records_path, f"batch={batch_id}")
        )

    src = pages_stream
    if dedup_watermark is not None:
        src = dedup_late_crawls(src, dedup_watermark)
    writer = (
        src.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    # one state shard, hence one foreachBatch Python task, per core at most
    shards = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": shards}):
        return writer.start()


def windowed_page_counts(pages_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked windowed aggregation: pages per (lang, 1h crawl window).
    Late rows beyond the watermark are dropped from the aggregation state."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "lang")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            "lang",
            "n_pages",
        )
    )


def streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native tumbling-window streaming aggregation, oracle-checkable: the
    events table replayed through ``F.window('ts', '6 hours')`` in complete
    mode. Exercises the engine's real window-assignment machinery (the
    rollup twin buckets by integer division; this one must agree with
    DuckDB computing the same epoch-aligned 6-hour windows). TIMESTAMP_NTZ
    keeps window boundaries timezone-free."""
    import tempfile
    import uuid

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    stage_dir = tempfile.mkdtemp(prefix="stream_winev_")
    os.symlink(src, os.path.join(stage_dir, "events.parquet"))
    stream = spark.readStream.schema(batch_schema).format("parquet").load(stage_dir)
    agg = (
        stream.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
                "CAST(w.start AS TIMESTAMP_NTZ))"
            ).alias("window_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    name = "stream_winev_" + uuid.uuid4().hex[:12]
    try:
        with scoped_conf(
            spark, {"spark.sql.shuffle.partitions": _stream_agg_partitions(spark)}
        ):
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
        # availableNow complete-mode aggregations self-terminate when input
        # is exhausted, but a stalled one must fail loudly, not hang the
        # driver gate forever (ADVICE r3) — awaitTermination(N) returns
        # False on timeout
        if not q.awaitTermination(STREAM_TIMEOUT_SEC):
            q.stop()
            # drop the sink view on THIS path too: a caller catching the
            # timeout and retrying must not accumulate session-lifetime
            # sink tables (the ADVICE r2 leak, review r4)
            spark.catalog.dropTempView(name)
            raise TimeoutError(
                f"streaming_window_counts did not finish in {STREAM_TIMEOUT_SEC}s"
            )
    finally:
        import shutil

        shutil.rmtree(stage_dir, ignore_errors=True)
    result = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    return result.orderBy("window_start_us", "event_type")


def streaming_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-equivalent streaming aggregation, runnable under the driver's
    oracle gate: the events table is replayed through the streaming engine
    (parquet file source, availableNow trigger), aggregated per
    (day-bucket, event_type) in complete mode into a memory sink, and the
    finished result is returned as a plain DataFrame.

    Day buckets are integer floors of epoch MICROseconds (timestampdiff on
    the TIMESTAMP_NTZ column) so no timezone ever enters — the DuckDB twin
    buckets epoch_us(ts) identically. Watermarked append-mode streaming
    (where results finalize incrementally) is exercised in
    tests/test_streaming.py; this entry proves the streaming engine computes
    the same aggregate the batch engine (and DuckDB) does."""
    import tempfile
    import uuid

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file stream source requires a DIRECTORY; testdata is a read-only
    # single file, so stage a symlink (no copy) in a temp dir. abspath: a
    # relative sf_dir would otherwise be stored relative to the temp dir
    # and dangle.
    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    stage_dir = tempfile.mkdtemp(prefix="stream_events_")
    os.symlink(src, os.path.join(stage_dir, "events.parquet"))
    stream = (
        spark.readStream.schema(batch_schema)
        .format("parquet")
        .load(stage_dir)
    )
    micros = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    agg = (
        stream.withColumn("day_bucket", F.floor(micros / F.lit(86_400_000_000)))
        .groupBy("day_bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    name = "stream_rollup_" + uuid.uuid4().hex[:12]
    try:
        # see streaming_window_counts: loud timeout instead of a silent hang
        with scoped_conf(
            spark, {"spark.sql.shuffle.partitions": _stream_agg_partitions(spark)}
        ):
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
        if not q.awaitTermination(STREAM_TIMEOUT_SEC):
            q.stop()
            spark.catalog.dropTempView(name)
            raise TimeoutError(
                f"streaming_event_rollup did not finish in {STREAM_TIMEOUT_SEC}s"
            )
    finally:
        # the returned frame reads the in-memory sink, not the staged files
        import shutil

        shutil.rmtree(stage_dir, ignore_errors=True)
    # copy the sink's rows (localCheckpoint materializes them), then drop the
    # uuid-named memory-sink table — repeated invocations in one session
    # (bench runs 3 trials) must not accumulate sink tables for the session
    # lifetime (ADVICE r2)
    result = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    return result.orderBy("day_bucket", "event_type")
