"""Benchmark of the KG pipeline: four seeded workloads, end-to-end metrics
with tracing off, per-layer metrics from a separate traced run.

    python3 perfbench/run.py --workload crawl_build --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 0

Run it from the repository root. Each run builds its own Spark session at
``local[<cores>]``, generates (or reuses) the inputs for its seed, sets up
and does one untimed warm pass, then times passes for ``--seconds`` seconds
(stream_ingest: one open-loop pass that long). Every pass is one sample;
figures are medians over the run's passes. The last line of standard output
is one JSON object: ``correct``, ``attempted`` and ``failed`` (output checks)
and ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones). Any failed output check makes the exit code 1. Working
files go under ``.bench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_START = time.monotonic() - _process_age()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ["crawl_build", "entity_resolve", "stream_ingest", "corpus_dedup"]

END_TO_END = {
    "wall_s": "s",
    "freshness_p50_s": "s",
    "peak_rss_nonheap_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "extract.scan_s": "s",
    "jsonldpy.expand_s": "s",
    "context_store.loader_calls": "count",
    "context_store.cache_hit_ratio": "ratio",
    "jsonldpy.to_rdf_s": "s",
    "jsonldpy.urdna_s": "s",
    "jsonldpy.urdna_bnodes": "count",
    "jsonldpy.urdna_failures": "count",
    "triples.parse_s": "s",
    "triples.row_build_s": "s",
    "triples.extract_s": "s",
    "triples.boundary_s": "s",
    "triples.python_bytes_in": "B",
    "triples.python_bytes_out": "B",
    "triples.task_skew": "ratio",
    "triples.dedup_s": "s",
    "sources.read_s": "s",
    "sources.stale_dropped": "count",
    "materialize.write_s": "s",
    "materialize.manifest_s": "s",
    "materialize.bytes": "B",
    "materialize.files": "count",
    "linking.detect_s": "s",
    "linking.score_s": "s",
    "linking.sameas_s": "s",
    "linking.mentions": "count",
    "linking.links": "count",
    "components.cc_s": "s",
    "components.rounds": "count",
    "components.jobs": "count",
    "components.edges": "count",
    "components.canonicalize_s": "s",
    "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.generator_lag_s": "s",
    "dedup.minhash_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verify_s": "s",
    "dedup.verified_ratio": "ratio",
    "dedup.clusters_s": "s",
    "corpus.filter_s": "s",
    "corpus.kept_ratio": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.task_skew_max": "ratio",
    "jvm.heap_peak_mb": "MB",
    "freshness_p90_s": "s",
    "docs_per_s": "docs/s",
    "peak_rss_mb": "MB",
    "triples_per_s": "triples/s",
    "quarantine_ratio": "ratio",
    "sink_bytes_per_triple": "B/triple",
    "trace.coverage": "ratio",
    "trace.overhead": "ratio",
}

# Spans whose self time is reported as a per-layer metric.
SPAN_METRICS = {
    "extract.scan": "extract.scan_s",
    "jsonldpy.expand": "jsonldpy.expand_s",
    "jsonldpy.to_rdf": "jsonldpy.to_rdf_s",
    "jsonldpy.urdna": "jsonldpy.urdna_s",
    "triples.parse": "triples.parse_s",
    "triples.doc_to_quad_rows": "triples.row_build_s",
    "triples.extract": "triples.extract_s",
    "triples.boundary": "triples.boundary_s",
    "triples.dedup": "triples.dedup_s",
    "sources.read": "sources.read_s",
    "materialize.write": "materialize.write_s",
    "materialize.sync": "materialize.write_s",
    "materialize.manifest": "materialize.manifest_s",
    "linking.detect": "linking.detect_s",
    "linking.score": "linking.score_s",
    "linking.sameas": "linking.sameas_s",
    "components.cc": "components.cc_s",
    "components.canonicalize": "components.canonicalize_s",
    "dedup.minhash": "dedup.minhash_s",
    "dedup.verify": "dedup.verify_s",
    "dedup.clusters": "dedup.clusters_s",
    "corpus.filter": "corpus.filter_s",
}

MIN_BATCH_PASSES = 2
# drops per second: a data batch and the watermark's no-data cleanup batch
# take ~2.1 s together on 4 cores, so each drop lands on an idle stream even
# when the host runs the batches 1.8 times slower than that
STREAM_RATE = 1 / 4
STREAM_WARM_DROPS = 8


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """An eighth of physical memory, between 1 and 4 GiB (from
    /proc/meminfo, so it is the same on every run on one machine)."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // 8))


def make_session(run_dir: str, cores: int):
    from jsonld_rs_spark.conf import session_builder

    mem = driver_memory_mb()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the variable overrides spark.local.dir; keep shuffle files in the run
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = (
        session_builder(f"local[{cores}]", "perfbench")
        .config("spark.driver.memory", f"{mem}m")
        # a fixed, pre-touched heap: the JVM's share of peak RSS then does
        # not depend on when the collector last grew the heap
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms{mem}m -XX:+AlwaysPreTouch")
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until it and its Python workers
    have exited."""
    from pyspark import SparkContext

    from probes import children_map

    kids = children_map()
    started, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        started.append(pid)
        todo.extend(kids.get(pid, []))
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.05)


def percentile(samples, q: float) -> float:
    """Weighted ``q``-quantile (nearest rank) of (value, weight) samples.
    Where the rank falls exactly between two samples, as the median of two
    equal-weight passes does, it is their midpoint."""
    ordered = sorted(samples)
    total = sum(w for _, w in ordered)
    acc = 0.0
    for k, (value, w) in enumerate(ordered):
        acc += w
        if acc == q * total and k + 1 < len(ordered):
            return (value + ordered[k + 1][0]) / 2
        if acc >= q * total:
            return value
    return ordered[-1][0]


def end_to_end(passes, setup_s: float, rss_peak: int) -> dict:
    """The gated metrics. The JVM heap is fixed and pre-touched, so it is
    taken out of the peak RSS: what is left (off-heap JVM memory and the
    Python workers) is the part a change can move."""
    fresh = [s for p in passes for s in p["freshness"]]
    return {
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "freshness_p50_s": percentile(fresh, 0.5),
        "peak_rss_nonheap_mb": rss_peak / 2**20 - driver_memory_mb(),
        "setup_s": setup_s,
    }


def result_metrics(values: dict, table: dict) -> dict:
    """The result line's ``metrics``: every metric of ``table``, in order."""
    return {k: {"value": values[k], "unit": unit} for k, unit in table.items()}


def workload_figures(passes, rss_peak: int, heap_peak: int) -> dict:
    """End-to-end figures that are not gated: the workload-specific ones,
    where they apply; the freshness p90, which has fewer than ten samples
    beyond it in a run; docs_per_s, which is documents over wall_s; and the
    whole peak RSS beside the JVM heap's peak use."""
    out = {"freshness_p90_s": percentile([s for p in passes for s in p["freshness"]], 0.9),
           "docs_per_s": statistics.median(p["docs"] / p["wall_s"] for p in passes),
           "peak_rss_mb": rss_peak / 2**20,
           "jvm.heap_peak_mb": heap_peak / 2**20}
    if all("triples" in p for p in passes):
        out["triples_per_s"] = statistics.median(p["triples"] / p["wall_s"] for p in passes)
    if all("quarantine_ratio" in p for p in passes):
        out["quarantine_ratio"] = statistics.median(p["quarantine_ratio"] for p in passes)
    if all("sink_bytes" in p for p in passes):
        out["sink_bytes_per_triple"] = statistics.median(
            p["sink_bytes"] / p["triples"] for p in passes)
    return out


def traced_metrics(wl, untraced_wall: float, spans_path: str, run_id: str) -> dict:
    """One traced pass, the traced per-document chain and the boundary
    probe; returns every per-layer metric (0 where the layer is idle) and
    writes the spans to ``spans_path``."""
    import glob

    from probes import latest_exec_id, spark_stats_since, trace_doc_chain
    from spans import Tracer

    m = {name: 0.0 for name in PER_LAYER}
    spark = wl.spark
    tracer = Tracer(run_id)
    prev = latest_exec_id(spark)
    traced = wl.run_pass(os.path.join(wl.work, "traced"), tracer)  # root span 0: "pass"
    stats = spark_stats_since(spark, prev)
    with tracer.span("chain"):
        counts = trace_doc_chain(tracer, wl.chain_groups(), wl.store)
    with tracer.span("probe"):
        wl.probe_boundary(tracer)
    for span, own in tracer.self_times().items():
        if span in SPAN_METRICS:
            m[SPAN_METRICS[span]] += own
    layer_self = sum(tracer.self_times(root=0).values())
    traced_wall = tracer.spans[0].end - tracer.spans[0].start
    m["trace.coverage"] = layer_self / untraced_wall
    m["trace.overhead"] = traced_wall / untraced_wall - 1.0
    lookups = counts["cache_hits"] + counts["cache_misses"]
    m["context_store.loader_calls"] = counts["loader_calls"]
    m["context_store.cache_hit_ratio"] = counts["cache_hits"] / lookups if lookups else 0.0
    m["jsonldpy.urdna_bnodes"] = counts["urdna_bnodes"]
    m["jsonldpy.urdna_failures"] = counts["urdna_failures"]
    m["triples.python_bytes_in"] = stats["python_bytes_in"]
    m["triples.python_bytes_out"] = stats["python_bytes_out"]
    m["triples.task_skew"] = stats["python_task_skew"] if stats["python_bytes_in"] else 0.0
    m["spark.jobs"] = stats["jobs"]
    m["spark.tasks"] = stats["tasks"]
    m["spark.shuffle_write_bytes"] = stats["shuffle_write_bytes"]
    m["spark.spill_bytes"] = stats["spill_bytes"]
    m["spark.task_skew_max"] = stats["task_skew_max"]
    for key, name in (("cc_rounds", "components.rounds"), ("cc_jobs", "components.jobs"),
                      ("cc_edges", "components.edges"), ("stale_dropped", "sources.stale_dropped"),
                      ("mentions", "linking.mentions"), ("links", "linking.links")):
        m[name] = wl.counts.get(key, 0)
    if "out" in traced and os.path.isdir(os.path.join(traced["out"], "triples")):
        files = glob.glob(os.path.join(traced["out"], "triples", "*", "*.parquet"))
        m["materialize.files"] = len(files)
        m["materialize.bytes"] = sum(os.path.getsize(f) for f in files)
    if "candidates" in wl.counts:
        m["dedup.candidate_pairs"] = wl.counts["candidates"]
        m["dedup.verified_ratio"] = wl.counts["verified"] / max(1, wl.counts["candidates"])
        m["corpus.kept_ratio"] = len(traced["kept"]) / traced["docs"]
    progress = getattr(wl, "progress", None)
    if progress:
        def med(key):
            return statistics.median(p.durationMs.get(key, 0) for p in progress)

        m["streaming.batches"] = wl.batches
        m["streaming.batch_ms_p50"] = med("triggerExecution")
        m["streaming.add_batch_ms"] = med("addBatch")
        m["streaming.commit_ms"] = statistics.median(
            p.durationMs.get("walCommit", 0) + p.durationMs.get("commitOffsets", 0)
            for p in progress)
        m["streaming.state_rows"] = max(
            (op.numRowsTotal for p in progress for op in p.stateOperators), default=0)
        m["streaming.generator_lag_s"] = max(wl.lag)
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    with open(spans_path, "w") as f:
        tracer.write(f)
    return m


def run_one(args) -> int:
    try:
        sys.path[:0] = [ROOT, HERE]
        import jsonld_rs_spark  # noqa: F401
        import tools.skew_probe  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import gen
    import workloads as W
    from probes import RssSampler, heap_peak_bytes, reset_heap_peak

    cores = nproc()
    work = os.path.join(ROOT, ".bench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    stream = args.workload == "stream_ingest"
    window = args.seconds / 2 if args.trace else args.seconds
    # at least two drops, so that one re-crawl is planted
    kw = {"n_drops": max(2, int(STREAM_RATE * window))} if stream else {}
    t_gen = time.monotonic()
    inputs, props = gen.generate(args.workload, args.seed, os.path.join(work, "cache"), **kw)
    gen_s = time.monotonic() - t_gen
    print(f"workload {args.workload} seed {args.seed} cores {cores} "
          f"driver_memory_mb {driver_memory_mb()}", flush=True)
    print("input " + json.dumps(props, sort_keys=True), flush=True)
    spark = make_session(run_dir, cores)
    phases = {"session_s": time.monotonic() - T_START - gen_s}
    try:
        extra = {"rate": STREAM_RATE, "warm_drops": STREAM_WARM_DROPS} if stream else {}
        wl = W.WORKLOADS[args.workload](spark, inputs, props, run_dir, cores, **extra)
        wl.load()
        wl.warm()
        setup_s = time.monotonic() - T_START - gen_s
        phases["warm_s"] = setup_s - phases["session_s"]
        # the pass count is fixed before timing starts, from the last warm
        # pass, so that it does not flip between runs of the same speed
        if stream:
            n_passes = 1
        else:
            n_passes = max(1 if args.trace else MIN_BATCH_PASSES,
                           int(window // wl.last_warm_s))
        passes = []
        reset_heap_peak(spark)
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            t0 = time.monotonic()
            for k in range(n_passes):
                W.settle(spark)
                passes.append(wl.run_pass(os.path.join(run_dir, f"pass{k}")))
        phases["timed_s"] = time.monotonic() - t0
        heap_peak = heap_peak_bytes(spark)
        checks = W.Checks()
        wl.check(checks, passes)
        phases["check_s"] = time.monotonic() - t0 - phases["timed_s"]
        e2e = end_to_end(passes, setup_s, rss.peak)
        figures = workload_figures(passes, rss.peak, heap_peak)
        fresh_n = sum(len(p["freshness"]) for p in passes) if stream else \
            sum(p["docs"] for p in passes)
        print(f"passes {len(passes)} walls_s "
              + " ".join(f"{p['wall_s']:.3f}" for p in passes), flush=True)
        print(f"freshness samples {fresh_n} ({'drops' if stream else 'documents'})"
              + (" s " + " ".join(f"{f:.3f}" for p in passes for f, _ in p["freshness"])
                 if stream else ""), flush=True)
        print("phases " + " ".join(f"{k} {v:.2f}" for k, v in phases.items())
              + f" generate_s {gen_s:.2f}", flush=True)
        for name, value in list(e2e.items()) + list(figures.items()):
            unit = END_TO_END.get(name) or PER_LAYER[name]
            print(f"metric {name} {value:.6g} {unit}", flush=True)
        print(f"metric check_failures {checks.failed} count", flush=True)
        if args.trace:
            spans_path = os.path.join(work, "spans", f"{args.workload}-seed{args.seed}.jsonl")
            layer = traced_metrics(wl, e2e["wall_s"], spans_path, f"{args.workload}-{args.seed}")
            layer.update(figures)
            metrics = result_metrics(layer, PER_LAYER)
        else:
            metrics = result_metrics(e2e, END_TO_END)
    finally:
        stop_session(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": checks.failed == 0, "attempted": checks.attempted,
                      "failed": checks.failed, "metrics": metrics}), flush=True)
    return 0 if checks.failed == 0 else 1


def run_all(args) -> int:
    """Every workload in its own process, one after the other."""
    codes = []
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        codes.append(subprocess.run(cmd).returncode)
    print(json.dumps(dict(zip(WORKLOADS, codes))))
    return max(codes)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
