"""Custom stateful streaming operator: gap-based sessionization.

Demonstrates the ``applyInPandasWithState`` pattern the engine uses for any
custom stateful operator Spark lacks (SURVEY.md §2.2 'Streaming'): state is
keyed (bounded per key), timeouts seal sessions, and the operator emits
rows only when a session closes — so state size is O(active keys), never
O(stream length).

Semantics: events for a user belong to one session while consecutive events
are ≤ ``gap`` apart (event time). A session row is emitted when a later
event breaks the gap, or when the key has been idle for the processing-time
timeout (a continuous stream flushes stale sessions that way). Out-of-order
events that land within ``gap`` of the open session extend it on either
side. Caveats, by construction of the state model:

* under ``trigger(availableNow=True)`` no processing-time timeout fires
  within any reasonable window — worse, the query never self-terminates:
  after the data batches (~seconds) the engine schedules empty
  "cleaning up state" batches indefinitely while timeouts are pending
  (observed: 170+ empty batches in two minutes at sf0.01). Use
  ``await_drained`` to stop the query once input is exhausted; each
  user's trailing open session stays in state and is NOT emitted —
  recover it with ``flush_open_sessions``;
* an event older than the open session by more than ``gap`` starts a new
  session and closes the old one — late data beyond the gap horizon is not
  stitched retroactively (that would require keeping all sessions in state).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..conf import scoped_conf

SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events int"
)
STATE_SCHEMA = "start long, end long, n int"

GAP_US_DEFAULT = 30 * 60 * 1_000_000  # 30 minutes


def _sessionize_group(
    key: Tuple[Any, ...],
    pdfs: Iterator["object"],
    state: GroupState,
    gap_us: int = GAP_US_DEFAULT,
):
    import pandas as pd

    (user_id,) = key
    ts_list = []
    for pdf in pdfs:
        ts_list.extend(int(t.value) // 1000 for t in pd.to_datetime(pdf["ts"]))
    ts_list.sort()

    if state.exists:
        start, end, n = state.get
    else:
        start = end = None
        n = 0

    closed = []
    for t in ts_list:
        if start is None:
            start, end, n = t, t, 1
        elif start - gap_us <= t <= end + gap_us:
            # merge, extending the session on either side (cross-batch
            # late events must never move `end` backwards)
            start, end, n = min(start, t), max(end, t), n + 1
        else:
            closed.append((start, end, n))
            start, end, n = t, t, 1

    if state.hasTimedOut:
        if start is not None:
            closed.append((start, end, n))
        state.remove()
    else:
        state.update((start, end, n))
        # flush horizon = the event-time gap expressed in processing time:
        # a key idle that long on the wall clock has its session sealed
        state.setTimeoutDuration(max(gap_us // 1000, 1000))

    if closed:
        yield pd.DataFrame(
            [
                (
                    user_id,
                    pd.Timestamp(s * 1000, unit="ns"),
                    pd.Timestamp(e * 1000, unit="ns"),
                    c,
                )
                for s, e, c in closed
            ],
            columns=["user_id", "session_start", "session_end", "n_events"],
        )


def sessionize(events_stream: DataFrame, gap_us: int = GAP_US_DEFAULT) -> DataFrame:
    """events stream (user_id, ts, ...) → closed sessions per user."""

    def fn(key, pdfs, state):
        yield from _sessionize_group(key, pdfs, state, gap_us)

    return (
        events_stream.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def await_drained(query, timeout_sec: float = None, poll_sec: float = 0.15) -> None:
    """Wait until an ``availableNow`` stateful query has processed all
    available input, then stop it.

    With ProcessingTimeTimeout the query never self-terminates (module
    docstring caveat #1): after the data batches it loops empty
    state-cleanup batches until the 30-minute timeout horizon. Results are
    complete and committed as soon as a no-data batch has run, so this
    polls for (a) a progress record with zero input rows and (b) no data
    available, then stops the query. Raises on timeout — a silent partial
    drain must not masquerade as completion. ``timeout_sec`` defaults to
    ``SPARK_GRAFT_STREAM_TIMEOUT`` (300 s) so contended windows on this VM
    can widen it without editing source (ADVICE r4)."""
    import time as _t

    if timeout_sec is None:
        from .ingest import STREAM_TIMEOUT_SEC

        timeout_sec = float(STREAM_TIMEOUT_SEC)

    t0 = _t.monotonic()
    while _t.monotonic() - t0 < timeout_sec:
        lp = query.lastProgress
        if (
            lp is not None
            and lp.get("numInputRows", -1) == 0
            and not query.status.get("isDataAvailable", True)
        ):
            query.stop()
            # awaitTermination(N) returns False on timeout — a stop() that
            # hasn't completed means the state store may not be quiescent
            # yet, and flush_open_sessions must not read it (ADVICE r3)
            if not query.awaitTermination(60):
                raise TimeoutError("query.stop() did not terminate within 60s")
            return
        _t.sleep(poll_sec)
    query.stop()
    raise TimeoutError(f"stream did not drain within {timeout_sec}s")


def flush_open_sessions(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """End-of-stream flush (VERDICT r2 #7): the trailing open session per
    user that an ``availableNow`` replay leaves in state — the query stops
    when input is exhausted, BEFORE any processing-time timeout can fire
    (module docstring caveat #1) — read back from the terminated query's
    state store via the State Data Source (statestore format, a public
    batch reader over streaming state). Union the result with the stream's
    emitted output to recover exactly the batch golden semantics:

        emitted ∪ flush_open_sessions(...)  ==  sessionize_batch_golden(...)

    Distributed by construction: the state files are read as a normal batch
    source, one partition per state-store shard — no driver-side state walk.
    Call only after the query terminates (the state store must be quiescent).
    """
    state = spark.read.format("statestore").load(checkpoint_dir)
    gs = F.col("value.groupState")
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.timestamp_micros(gs["start"]).alias("session_start"),
        F.timestamp_micros(gs["end"]).alias("session_end"),
        gs["n"].alias("n_events"),
    ).filter(F.col("session_start").isNotNull())


def sessionize_replay(
    spark: SparkSession,
    events_df: DataFrame,
    gap_us: int = GAP_US_DEFAULT,
    n_stage_files: int = 8,
    n_state_partitions: int = None,
) -> DataFrame:
    """Batch-complete sessionization THROUGH the streaming engine: stage the
    events as a file-source replay, run the applyInPandasWithState operator
    under availableNow, drain + stop (await_drained), and union the emitted
    closed sessions with the flushed trailing state. The result equals the
    batch gap-sessionization exactly — which makes this custom stateful
    streaming operator ORACLE-VERIFIABLE (the driver checks it against a
    DuckDB lag/cumsum sessionization) instead of rows-only.

    Staging is PARTITIONED production-shape (VERDICT r3 #7): the input is
    hash-repartitioned on ``user_id`` into ``n_stage_files`` files, so the
    file source starts with N parallel partitions instead of one writer /
    one reader. Hash staging also pins each user's full history to exactly
    one file — so however the engine groups files into micro-batches, a
    user's events always arrive in a single batch and the cross-batch
    out-of-order caveat (module docstring) can never change the result.

    ``n_state_partitions`` sizes the stateful operator's state-store shard
    count (the streaming twin of spark.sql.shuffle.partitions, frozen into
    the checkpoint at batch 0). Every shard pays a fixed commit + delta-file
    + cleanup cost PER MICRO-BATCH — including the empty state-cleanup
    batches an availableNow replay always schedules — so shards far beyond
    the useful parallelism only multiply fixed costs (measured at
    sf0.1/local[32]: 64 shards → 1.9 s per empty batch + 2.2-3.7 s data
    batch; 8 shards → 0.5 s + 1.6 s; 16 → 0.7 s + 2.1 s; identical output —
    partitioning only distributes keys). Default:
    max(n_stage_files, cores/2) — scale-adaptive, derived from the cluster
    rather than a constant, so a bigger input on a bigger cluster gets more
    shards while the local replay stops paying 64 shards of per-batch fixed
    cost for 1 500 users."""
    import shutil
    import tempfile
    import uuid

    if n_state_partitions is None:
        n_state_partitions = max(
            n_stage_files, spark.sparkContext.defaultParallelism // 2
        )
    stage = tempfile.mkdtemp(prefix="sess_replay_in_")
    ckpt = tempfile.mkdtemp(prefix="sess_replay_ck_")
    name = "sessions_" + uuid.uuid4().hex[:12]
    try:
        events_df.select("user_id", "ts").repartition(
            n_stage_files, "user_id"
        ).write.mode("overwrite").parquet(stage)
        stream = spark.readStream.schema("user_id long, ts timestamp").parquet(stage)
        # the query keeps the shard count it starts under (start() clones
        # the session conf); the session gets its own value back at once
        with scoped_conf(
            spark, {"spark.sql.shuffle.partitions": n_state_partitions}
        ):
            q = (
                sessionize(stream, gap_us)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        await_drained(q)
        # materialize both sides BEFORE the staging dirs are removed (the
        # flush side reads state files under ckpt) and drop the sink table
        emitted = spark.table(name).localCheckpoint()
        spark.catalog.dropTempView(name)
        flushed = flush_open_sessions(spark, ckpt).localCheckpoint()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return emitted.unionByName(flushed)


def sessionize_batch_golden(rows, gap_us: int = GAP_US_DEFAULT):
    """Pure-Python golden: (user_id, ts_us) rows → closed+open sessions."""
    by_user = {}
    for user_id, ts_us in rows:
        by_user.setdefault(user_id, []).append(ts_us)
    out = []
    for user_id, ts_list in by_user.items():
        ts_list.sort()
        start = end = None
        n = 0
        for t in ts_list:
            if start is None:
                start, end, n = t, t, 1
            elif t - end <= gap_us:
                end, n = t, n + 1
            else:
                out.append((user_id, start, end, n))
                start, end, n = t, t, 1
        if start is not None:
            out.append((user_id, start, end, n))
    return sorted(out)
