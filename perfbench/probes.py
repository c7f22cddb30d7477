"""Measurement probes that sit outside the pipeline: Spark's status store,
the RSS of the engine's process tree, and the traced per-document chain.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import threading
import types
from typing import Dict, Iterable, List, Optional, Tuple

from tools.skew_probe import _UNIT, _drain_listener_bus, latest_exec_id, shuffle_bytes_since

__all__ = ["children_map", "heap_peak_bytes", "latest_exec_id", "patched",
           "reset_heap_peak", "spanned", "spark_stats_since", "RssSampler",
           "trace_doc_chain"]


@contextlib.contextmanager
def patched(module, replacements: Dict[str, object]):
    """Temporarily replace attributes of ``module`` (the benchmark wraps a
    layer's public callees to record spans around them)."""
    saved = {name: getattr(module, name) for name in replacements}
    try:
        for name, value in replacements.items():
            setattr(module, name, value)
        yield
    finally:
        for name, value in saved.items():
            setattr(module, name, value)


def spanned(tracer, name: str, fn):
    """``fn`` wrapped in a span called ``name``."""
    def call(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)
    return call


_SIZE_RE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)")


def _size(text: str) -> int:
    """First size token of a status-store metric string (the total)."""
    m = _SIZE_RE.search(text)
    return int(float(m.group(1)) * _UNIT[m.group(2)]) if m else 0


def _scala_iter(it):
    while it.hasNext():
        yield it.next()


def spark_stats_since(spark, prev_id: int) -> Dict[str, float]:
    """Engine counters of every SQL execution newer than ``prev_id``.

    Race-free in the way tools/skew_probe.py is: the listener bus is drained
    before the status store is read, and executions are scoped by an
    execution-id watermark taken before the measured actions. Task skew is
    max/median executor run time over the tasks of one stage; the Python
    skew counts only stages of executions that moved bytes to Python
    workers."""
    _drain_listener_bus(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    app = spark.sparkContext._jsc.sc().statusStore()
    out = {"jobs": 0, "tasks": 0, "spill_bytes": 0, "python_bytes_in": 0,
           "python_bytes_out": 0, "task_skew_max": 1.0, "python_task_skew": 1.0,
           "shuffle_write_bytes": 0}
    execs = store.executionsList()
    newest = -1
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() <= prev_id:
            continue
        newest = max(newest, e.executionId())
        names = {m.accumulatorId(): m.name() for m in _scala_iter(e.metrics().iterator())}
        py_in = 0
        for kv in _scala_iter(store.executionMetrics(e.executionId()).iterator()):
            name = names.get(kv._1())
            if name == "spill size":
                out["spill_bytes"] += _size(kv._2())
            elif name == "data sent to Python workers":
                py_in += _size(kv._2())
            elif name == "data returned from Python workers":
                out["python_bytes_out"] += _size(kv._2())
        out["python_bytes_in"] += py_in
        for job_id in _scala_iter(e.jobs().keys().iterator()):
            out["jobs"] += 1
            job = app.job(job_id)
            for stage_id in _scala_iter(job.stageIds().iterator()):
                tasks = app.taskList(stage_id, 0, 1_000_000)
                times = [tasks.apply(k).taskMetrics().get().executorRunTime()
                         for k in range(tasks.size())]
                out["tasks"] += len(times)
                med = statistics.median(times) if len(times) > 1 else 0
                if med > 0:
                    skew = max(times) / med
                    out["task_skew_max"] = max(out["task_skew_max"], skew)
                    if py_in:
                        out["python_task_skew"] = max(out["python_task_skew"], skew)
    if newest > prev_id:
        out["shuffle_write_bytes"] = shuffle_bytes_since(spark, prev_id)
    return out


def children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def engine_rss_bytes(jvm_pid: int) -> int:
    """RSS of the JVM plus every Python process under it (the workers and
    their daemon). Other children of the JVM are skipped: a helper it forks
    reports the JVM's own RSS until it execs."""
    kids = children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    todo = [jvm_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            if pid != jvm_pid:
                with open(f"/proc/{pid}/comm") as f:
                    if not f.read().startswith("python"):
                        continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


def _heap_pools(spark):
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mx.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]


def reset_heap_peak(spark) -> None:
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()


def heap_peak_bytes(spark) -> int:
    """Sum of the JVM heap pools' peak use since ``reset_heap_peak``. The
    pools peak at different times, so this bounds the heap's peak from
    above."""
    return sum(pool.getPeakUsage().getUsed() for pool in _heap_pools(spark))


class RssSampler:
    """Samples the engine's RSS every ``interval`` seconds while active;
    ``peak`` is the largest sample."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, engine_rss_bytes(self.jvm_pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class _CountingCache(dict):
    """The per-worker context cache, counting lookups that hit."""

    hits = 0
    misses = 0

    def get(self, key, default=None):
        value = super().get(key, default)
        if value is None:
            self.misses += 1
        else:
            self.hits += 1
        return value


def _blank_labels(dataset) -> int:
    labels = set()
    for graph, quads in dataset.items():
        if graph.startswith("_:"):
            labels.add(graph)
        for q in quads:
            for term in (q.subj, q.obj_value if q.obj_kind == "id" else ""):
                if term.startswith("_:"):
                    labels.add(term)
    return len(labels)


def trace_doc_chain(tracer, groups: Iterable[List[Tuple[str, bytes]]], store) -> Dict[str, float]:
    """Run ``triples.doc_to_quad_rows`` over ``groups`` of (url, html) pages
    in this process, with a span around every call it makes into the
    extract, jsonldpy and context-store layers. Each group gets a fresh
    context cache, as each Spark task does. The wrappers are installed on
    the triples module for the duration of the call only. Returns the
    counts recorded at those boundaries."""
    import json as _json

    from jsonld_rs_spark.jsonldpy import errors as E
    from jsonld_rs_spark.pipeline import triples as T

    counts = {"loader_calls": 0, "cache_hits": 0, "cache_misses": 0,
              "urdna_bnodes": 0, "urdna_failures": 0, "docs": 0, "triples": 0}

    canonicalize = T.canonicalize_dataset

    def traced_canonicalize(dataset, *args, **kwargs):
        counts["urdna_bnodes"] += _blank_labels(dataset)
        with tracer.span("jsonldpy.urdna"):
            try:
                return canonicalize(dataset, *args, **kwargs)
            except E.CanonicalizationError:
                counts["urdna_failures"] += 1
                raise

    make_loader = T.make_loader

    def counting_make_loader(s):
        loader = make_loader(s)

        def counted(url):
            counts["loader_calls"] += 1
            return loader(url)
        return counted

    patches = {
        "extract_jsonld_blocks": spanned(tracer, "extract.scan", T.extract_jsonld_blocks),
        "json": types.SimpleNamespace(loads=spanned(tracer, "triples.parse", _json.loads),
                                      dumps=_json.dumps),
        "expand_core": spanned(tracer, "jsonldpy.expand", T.expand_core),
        "jsonld_to_rdf": spanned(tracer, "jsonldpy.to_rdf", T.jsonld_to_rdf),
        "canonicalize_dataset": traced_canonicalize,
        "make_loader": counting_make_loader,
    }
    with patched(T, patches):
        for group in groups:
            cache = _CountingCache()
            for url, html in group:
                with tracer.span("triples.doc_to_quad_rows"):
                    rows = T.doc_to_quad_rows(url, html, store, None, cache, [])
                counts["docs"] += 1
                counts["triples"] += len(rows)
            counts["cache_hits"] += cache.hits
            counts["cache_misses"] += cache.misses
    return counts
