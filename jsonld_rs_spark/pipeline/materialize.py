"""Materialization, lineage metrics, and resumable stage checkpoints.

* Triples land in a parquet table **bucketed by subject hash**
  (``bucket = pmod(xxhash64(subj), B)``, SURVEY.md §2.2 'Sinks') so
  downstream per-entity readers prune to one bucket. On a real cluster this
  is ``df.writeTo(...).partitionedBy(bucket(B, "subj"))`` into Iceberg; the
  sandbox fallback is directory-partitioned parquet with the same layout.
* The extraction pass emits triples and per-batch metrics in ONE job
  (triples.extract_records); ``write_records`` persists the combined stream
  once, then splits it into the triples and metrics tables without
  recomputing the extraction.
* Resumability is at url granularity: a restarted run anti-joins the input
  against urls already present in the output and appends only the remainder
  (north rule: "resumable from checkpoint with per-partition lineage +
  metrics").
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .triples import (
    RECORDS_SCHEMA,
    TRIPLE_COLUMNS,
    TRIPLES_DDL,
    extract_records,
    split_records,
)

DEFAULT_BUCKETS = 32


def bucketed(triples_df: DataFrame, buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return triples_df.withColumn(
        "bucket", F.pmod(F.xxhash64("subj"), F.lit(buckets)).cast("int")
    )


def iceberg_catalog(spark: SparkSession) -> Optional[str]:
    """Name of a configured Iceberg catalog, or None. The sandbox has no
    Iceberg runtime, so this returns None there; on a real cluster any
    ``spark.sql.catalog.<name> = org.apache...SparkCatalog`` config enables
    the native writeTo path."""
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:
        return None
    for k, v in confs:
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3 and "iceberg" in v.lower():
            return k.rsplit(".", 1)[1]
    return None


def write_triples(
    triples_df: DataFrame,
    path: str,
    buckets: int = DEFAULT_BUCKETS,
    mode: str = "overwrite",
    table: Optional[str] = None,
) -> str:
    """Sink with subject-hash bucketing.

    Path-based writes (the default, and what the pipeline's resume flow /
    ``read_triples`` / ``tools/submit_job.py`` consume) ALWAYS land as
    directory-partitioned parquet at ``path`` — an Iceberg catalog being
    configured must not silently reroute data away from the location other
    stages read (review r2 finding #1).

    The native Iceberg path is opt-in: pass ``table`` (a fully-qualified
    ``catalog.namespace.name``) on a cluster with that catalog configured,
    and the write becomes ``writeTo(table).partitionedBy(bucket(B, subj))``
    — hidden partitioning, readers prune on ``subj`` predicates without
    knowing the bucket column. The namespace must exist (Iceberg catalogs
    don't auto-create); append-to-missing-table falls back to create.
    Returns which sink was used ('iceberg' | 'parquet')."""
    spark = triples_df.sparkSession
    if table is not None and iceberg_catalog(spark) is not None:
        # the writeTo API has no notion of Spark save modes beyond these two;
        # 'ignore'/'error' must raise, not silently become append (ADVICE r2)
        if mode not in ("overwrite", "append"):
            raise ValueError(
                f"Iceberg sink supports mode 'overwrite' or 'append', got {mode!r}"
            )
        writer = triples_df.writeTo(table).partitionedBy(
            F.bucket(buckets, F.col("subj"))
        )
        if mode == "overwrite":
            writer.createOrReplace()
        elif spark.catalog.tableExists(table):
            writer.append()  # real append failures propagate undisturbed
        else:
            writer.create()
        return "iceberg"
    # Cluster on the bucket key before the partitioned write: without it
    # every input task writes a sliver into every bucket directory — P×B
    # files (measured locally: 1024 files, 2.52 s for the sf0.1 table; at
    # crawl scale P≈200k tasks × B buckets is a small-files catastrophe).
    # One shuffle keyed on bucket gives one file per bucket (measured: 32
    # files, 1.23 s — the shuffle pays for itself even single-node). At
    # 100 TB choose ``buckets`` so a bucket ≈ one target-sized file: the
    # bucket count doubles as the write parallelism, exactly how the
    # Iceberg branch's bucket(B, subj) hidden partitioning behaves.
    b = bucketed(triples_df, buckets).repartition(buckets, "bucket")
    b.write.mode(mode).partitionBy("bucket").parquet(path)
    return "parquet"


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def write_manifest(spark: SparkSession, out_dir: str, stage: str, run_id: str, status: str,
                   extra: Optional[Dict] = None) -> None:
    """Append one manifest row as a directly-written parquet file.

    r8: this was a 1-row Spark job (createDataFrame → parquet append) that
    cost 0.4-2.5 s of pure job/commit overhead per call — the sink path
    pays it twice per run. A manifest row is driver-side metadata, not
    data: pyarrow writes the same one-row file into the same append-only
    directory in ~10 ms, and ``read_manifest``'s ``spark.read.parquet``
    reads a mixed Spark/pyarrow directory transparently (schema
    identical). The driver is not doing data work here (guide §5) — it is
    stamping its own run record.

    A scheme-qualified ``out_dir`` (``file://``, ``hdfs://``, ``s3a://``)
    is written through ``pyarrow.fs.FileSystem.from_uri``; Hadoop's
    ``s3a``/``s3n`` name the bucket pyarrow reaches as ``s3``. Plain paths
    keep the local write."""
    import uuid as _uuid
    from urllib.parse import urlparse

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _manifest_path(out_dir)
    fs = None
    # one-letter schemes are Windows drive letters, not URIs
    if len(urlparse(out_dir).scheme) > 1:
        import pyarrow.fs as pafs

        fs, path = pafs.FileSystem.from_uri(re.sub(r"^s3[an]://", "s3://", path))
        fs.create_dir(path, recursive=True)
    else:
        os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "stage": pa.array([stage], pa.string()),
            "run_id": pa.array([run_id], pa.string()),
            "status": pa.array([status], pa.string()),
            "ts": pa.array([time.time()], pa.float64()),
            "extra": pa.array([json.dumps(extra or {})], pa.string()),
        }
    )
    pq.write_table(
        table, f"{path}/part-{_uuid.uuid4().hex}.snappy.parquet", filesystem=fs
    )


def read_manifest(spark: SparkSession, out_dir: str) -> Optional[DataFrame]:
    try:
        return spark.read.parquet(_manifest_path(out_dir))
    except Exception:
        return None


def extract_and_materialize(
    pages_df: DataFrame,
    out_dir: str,
    buckets: int = DEFAULT_BUCKETS,
    resume: bool = True,
    run_id: Optional[str] = None,
) -> Dict[str, str]:
    """pages → {records, triples, metrics} tables under ``out_dir``.

    Single extraction pass; resumable: reruns skip urls whose records are
    already written (left_anti join — SURVEY.md §2.2 'Semi/anti join').
    Returns the table paths.
    """
    spark = pages_df.sparkSession
    run_id = run_id or uuid.uuid4().hex[:12]
    records_path = os.path.join(out_dir, "records")
    triples_path = os.path.join(out_dir, "triples")
    metrics_path = os.path.join(out_dir, "metrics")

    todo = pages_df
    existing = os.path.exists(records_path)
    if resume and existing:
        # read errors must FAIL here — swallowing them would re-append a
        # full copy of every record (duplicated triples + metrics)
        done_urls = _read_records(spark, records_path).select("url").distinct()
        todo = pages_df.join(done_urls, "url", "left_anti")
    elif not resume and existing:
        import shutil

        shutil.rmtree(records_path)  # fresh run replaces prior records

    # run_id travels inside the records so lineage survives resumed runs:
    # each metrics row stays attributed to the run that produced its batch.
    # run_ts (driver-stamped) orders runs so quarantined() can scope resolved
    # markers by recency (ADVICE r6) — append-only tables have no other order.
    records = extract_records(todo, stage="extract").withColumn(
        "run_id", F.lit(run_id)
    ).withColumn("run_ts", F.lit(float(time.time())))
    records.write.mode("append").parquet(records_path)
    write_manifest(spark, out_dir, "extract", run_id, "records_done")

    _rebuild_outputs(spark, out_dir, buckets)
    write_manifest(spark, out_dir, "extract", run_id, "done")

    return {"records": records_path, "triples": triples_path, "metrics": metrics_path}


def _read_records(spark: SparkSession, records_path: str) -> DataFrame:
    """Read the append-only records table with its full known schema: files
    written before a column existed (e.g. run_ts, added r7) must still
    surface the column (as NULL) rather than letting one old footer's
    schema win and silently drop it — quarantined()'s recency scoping
    depends on seeing run_ts whenever ANY file carries it (an r7
    finding). A parquet file that lacks a requested column reads it as
    NULL, so the explicit schema (the extraction's records plus the run
    lineage columns both writers add) keeps that guarantee without a
    parallel footer-merge job on every read."""
    return spark.read.schema(
        RECORDS_SCHEMA + ", run_id string, run_ts double"
    ).parquet(records_path)


def _rebuild_outputs(spark: SparkSession, out_dir: str, buckets: int) -> None:
    """Regenerate the triples and metrics tables from the (append-only)
    records table — shared by the extraction and quarantine-replay flows.
    Metrics keep each stored row's run_id so lineage stays attributed to
    the run that produced its batch."""
    from .triples import METRICS_DDL

    all_records = _read_records(spark, os.path.join(out_dir, "records"))
    triples, _ = split_records(all_records)
    write_triples(triples, os.path.join(out_dir, "triples"), buckets)
    m_rows = all_records.filter(F.col("rec_kind") == "m").select(
        F.from_json("metrics", METRICS_DDL).alias("m"),
        "run_id",
    ).select("m.*", "run_id")
    m_rows.write.mode("overwrite").parquet(os.path.join(out_dir, "metrics"))


def replay_quarantined(
    spark: SparkSession,
    out_dir: str,
    pages_df: DataFrame,
    store: Optional[Dict] = None,
    buckets: int = DEFAULT_BUCKETS,
    run_id: Optional[str] = None,
) -> Dict[str, int]:
    """Re-drive the quarantined (url, block_index) blocks after a fix and
    merge the results (VERDICT r5 #6 — the poison table existed but nothing
    re-drove it). Flow:

    1. the unresolved poison set comes from ``quarantined`` over the records
       table (resolved markers from earlier replays are already excluded —
       replaying twice is a no-op, the second pass sees an empty todo);
    2. pages semi-join the poison urls (inner join on url with the per-url
       failed-block array — only poisoned pages are re-read, and only their
       failed block indices are re-extracted, so good blocks never emit
       duplicate triples);
    3. the replay records append to the (append-only) records table with
       their own run_id; triples and metrics tables are rebuilt, so healed
       triples appear downstream and the metrics attribute the replay run.

    Returns {'replayed_blocks', 'healed_blocks', 'still_quarantined'}."""
    from .triples import extract_replay_records, quarantined

    records_path = os.path.join(out_dir, "records")
    run_id = run_id or uuid.uuid4().hex[:12]
    # counts are over distinct (url, block_index) — quarantined() may list
    # one block under two error codes when a replay re-failed it with a
    # different error, and counting rows would inflate replayed/still and
    # could push healed below zero (review r6)
    before = quarantined(_read_records(spark, records_path)).select(
        "url", "block_index"
    ).distinct()
    todo = before.groupBy("url").agg(
        F.collect_set("block_index").alias("replay_blocks")
    )
    n_todo = before.count()
    if n_todo == 0:
        write_manifest(spark, out_dir, "replay", run_id, "noop")
        return {"replayed_blocks": 0, "healed_blocks": 0, "still_quarantined": 0}

    replay_pages = pages_df.select("url", "html").join(todo, "url")
    records = extract_replay_records(replay_pages, store).withColumn(
        "run_id", F.lit(run_id)
    ).withColumn("run_ts", F.lit(float(time.time())))
    records.write.mode("append").parquet(records_path)
    write_manifest(spark, out_dir, "replay", run_id, "records_done")

    _rebuild_outputs(spark, out_dir, buckets)
    still = (
        quarantined(_read_records(spark, records_path))
        .select("url", "block_index")
        .distinct()
        .count()
    )
    write_manifest(
        spark, out_dir, "replay", run_id, "done",
        {"replayed": n_todo, "still_quarantined": still},
    )
    return {
        "replayed_blocks": n_todo,
        "healed_blocks": n_todo - still,
        "still_quarantined": still,
    }


def read_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """The triples table written by ``write_triples``, read with its known
    schema (``bucket`` is the directory partition column) instead of a
    schema-inference job over the footers."""
    return spark.read.schema(TRIPLES_DDL + ", bucket int").parquet(
        os.path.join(out_dir, "triples")
    ).select(*TRIPLE_COLUMNS)
