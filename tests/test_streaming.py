"""Streaming ingestion tests: incremental arrival produces the same triples
as the batch path; duplicate arrivals are dropped; restarts are exactly-once."""

import os

import pytest
from pyspark.sql import functions as F

from jsonld_rs_spark.pipeline.synth import latest_pages, synthesize_pages
from jsonld_rs_spark.pipeline.triples import extract_records, split_records
from jsonld_rs_spark.streaming.ingest import (
    start_streaming_extraction,
    stream_pages,
    windowed_page_counts,
)


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    return latest_pages(synthesize_pages(spark, sf_dir)).cache()


def _triples_at(spark, out_dir):
    records = spark.read.parquet(os.path.join(out_dir, "records"))
    triples, _ = split_records(records)
    return triples


def test_streaming_matches_batch(spark, pages, tmp_path_factory):
    in_dir = str(tmp_path_factory.mktemp("stream_in"))
    out_dir = str(tmp_path_factory.mktemp("stream_out"))

    # pages arrive in two chunks (files dropped into the source dir)
    chunk1 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    chunk2 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    chunk1.write.mode("append").parquet(in_dir)

    q = start_streaming_extraction(stream_pages(spark, in_dir), out_dir)
    q.awaitTermination(120)

    n_after_first = _triples_at(spark, out_dir).count()
    assert n_after_first > 0

    chunk2.write.mode("append").parquet(in_dir)
    q = start_streaming_extraction(stream_pages(spark, in_dir), out_dir)
    q.awaitTermination(120)

    # stream total == batch total (set equality on triple rows)
    batch_triples, _ = split_records(extract_records(pages))
    got = {tuple(r) for r in _triples_at(spark, out_dir).collect()}
    want = {tuple(r) for r in batch_triples.collect()}
    assert got == want


def test_streaming_restart_is_exactly_once(spark, pages, tmp_path_factory):
    in_dir = str(tmp_path_factory.mktemp("stream_in2"))
    out_dir = str(tmp_path_factory.mktemp("stream_out2"))
    pages.limit(50).write.mode("append").parquet(in_dir)

    for _ in range(2):  # second run must be a no-op (checkpointed source)
        q = start_streaming_extraction(stream_pages(spark, in_dir), out_dir)
        q.awaitTermination(120)

    triples = _triples_at(spark, out_dir)
    dup = (
        triples.groupBy(triples.columns)
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_windowed_counts_with_watermark(spark, pages, tmp_path_factory):
    in_dir = str(tmp_path_factory.mktemp("stream_in3"))
    pages.write.mode("append").parquet(in_dir)
    stream = stream_pages(spark, in_dir)
    agg = windowed_page_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only windows sealed by the watermark; with a bounded
    # source the final watermark seals all but the trailing window(s)
    rows = spark.sql("select * from win_counts").collect()
    total = sum(r["n_pages"] for r in rows)
    assert total > 0
    assert all(r["n_pages"] > 0 for r in rows)


def test_dedup_late_crawls_drops_duplicate_arrivals(spark, pages, tmp_path_factory):
    from jsonld_rs_spark.streaming.ingest import dedup_late_crawls

    in_dir = str(tmp_path_factory.mktemp("stream_in4"))
    some = pages.limit(20)
    some.write.mode("append").parquet(in_dir)
    some.write.mode("append").parquet(in_dir)  # same (url, warc_ts) again

    deduped = dedup_late_crawls(stream_pages(spark, in_dir), watermark="365 days")
    q = (
        deduped.select("url", "warc_ts")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select url, warc_ts, count(*) c from dedup_out group by 1,2 having count(*) > 1").collect()
    assert rows == []
    assert spark.sql("select count(*) c from dedup_out").collect()[0]["c"] == 20


def test_streaming_dedup_extracts_each_page_once(spark, pages, tmp_path_factory):
    """The stateful (url, warc_ts) dedup in front of extraction: a page
    written twice yields its triples once, and the dedup state has at most
    one shard per core (the session's 8 would run the micro-batch's Python
    stage in two waves on local[4])."""
    from collections import Counter

    in_dir = str(tmp_path_factory.mktemp("stream_in5"))
    out_dir = str(tmp_path_factory.mktemp("stream_out5"))
    some = pages.limit(20).localCheckpoint()
    some.write.mode("append").parquet(in_dir)
    some.write.mode("append").parquet(in_dir)  # same (url, warc_ts) again

    q = start_streaming_extraction(
        stream_pages(spark, in_dir), out_dir, dedup_watermark="3650 days"
    )
    q.awaitTermination(120)

    want = Counter(tuple(r) for r in split_records(extract_records(some))[0].collect())
    got = Counter(tuple(r) for r in _triples_at(spark, out_dir).collect())
    assert got == want and len(want) > 0
    shards = [p.stateOperators[0].numShufflePartitions for p in q.recentProgress]
    assert shards and max(shards) <= spark.sparkContext.defaultParallelism


def test_streaming_extraction_broadcasts_store_once(spark, pages, tmp_path_factory):
    """One context-store broadcast per query, not per micro-batch: every
    broadcast keeps a temp file on the driver for the session's lifetime."""
    in_dir = str(tmp_path_factory.mktemp("stream_in6"))
    out_dir = str(tmp_path_factory.mktemp("stream_out6"))
    # 12 files at stream_pages' 4 files per trigger: 3 micro-batches
    pages.limit(24).repartition(12).write.mode("append").parquet(in_dir)

    temp_dir = spark.sparkContext._temp_dir
    before = set(os.listdir(temp_dir))
    q = start_streaming_extraction(stream_pages(spark, in_dir), out_dir)
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 3
    assert len(set(os.listdir(temp_dir)) - before) <= 1


def test_streaming_event_rollup_matches_batch(spark, sf_dir):
    """The streaming replay (availableNow, complete mode) must produce the
    exact batch aggregate."""
    from jsonld_rs_spark.streaming.ingest import streaming_event_rollup

    got = {
        (r["day_bucket"], r["event_type"]): (r["n"], r["sum_value"])
        for r in streaming_event_rollup(spark, sf_dir).collect()
    }
    micros = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .withColumn("day_bucket", F.floor(micros / F.lit(86_400_000_000)))
        .groupBy("day_bucket", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    want = {
        (r["day_bucket"], r["event_type"]): (r["n"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.parametrize(
    "replay",
    [
        "streaming_event_rollup",
        "streaming_window_counts",
        "sessionize_replay",
        "start_streaming_extraction",
    ],
)
def test_replay_restores_shuffle_partitions_when_start_fails(
    spark, sf_dir, monkeypatch, tmp_path, replay
):
    """Every stream started under scoped_conf overrides
    spark.sql.shuffle.partitions for its state shards; a stream that fails
    to start must leave the session's value as it found it."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from jsonld_rs_spark.streaming import ingest, sessionize

    def fail_start(self, *args, **kwargs):
        raise RuntimeError("stream failed to start")

    def run():
        if replay == "sessionize_replay":
            events = spark.read.parquet(f"{sf_dir}/events.parquet")
            sessionize.sessionize_replay(spark, events)
        elif replay == "start_streaming_extraction":
            in_dir = tmp_path / "in"
            in_dir.mkdir()
            ingest.start_streaming_extraction(
                ingest.stream_pages(spark, str(in_dir)),
                str(tmp_path / "out"),
                dedup_watermark="1 hour",
            )
        else:
            getattr(ingest, replay)(spark, sf_dir)

    monkeypatch.setattr(DataStreamWriter, "start", fail_start)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    # a value no stream's own shard count (8, 8 and min(5, 4) here) can
    # coincide with
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        with pytest.raises(RuntimeError, match="failed to start"):
            run()
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
