"""The four benchmark workloads.

Each workload drives the pipeline only through public functions of
``jsonld_rs_spark.pipeline``, ``.streaming``, ``.ops`` and ``.jsonldpy``.
A pass runs the workload's path once, from input files on disk to outputs
committed (written and synced to disk, or reduced to an order-independent
digest where the workload writes nothing). In a traced pass each layer's input is
materialized first and the layer's own action runs inside a span; the
untraced pass runs the same calls without the cuts.

Output checks compare against references computed in this process from the
generator's files: triple digests from ``triples.doc_to_quad_rows``,
connected-component labels from a union-find, mention counts from
``linking.count_mentions_python`` and the planted quarantine and
near-duplicate counts.
"""

from __future__ import annotations

import gc
import glob
import hashlib
import json
import os
import random
import shutil
import threading
import time
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

import pyarrow.parquet as pq

from jsonld_rs_spark.pipeline import materialize as M
from jsonld_rs_spark.pipeline.components import canonicalize_subjects, connected_components
from jsonld_rs_spark.pipeline.context_store import BUILTIN_CONTEXTS
from jsonld_rs_spark.pipeline.linking import (
    count_mentions_python,
    detect_mentions,
    dictionary_df,
    sameas_edges,
    score_links,
)
from jsonld_rs_spark.pipeline.sources import read_pages
from jsonld_rs_spark.pipeline.synth import latest_pages
from jsonld_rs_spark.pipeline.triples import TRIPLE_COLUMNS, dedup_triples, doc_to_quad_rows

from probes import patched, spanned
from spans import Tracer

SAMEAS = "http://schema.org/sameAs"
MENTION_SAMPLE = 25
CHAIN_SAMPLE = 240


# --------------------------------------------------------------------------- #
# references and digests
# --------------------------------------------------------------------------- #


def _row_hash(values: Sequence) -> int:
    s = "\x1f".join("\x00" if v is None else str(v) for v in values)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def py_digest(rows: Iterable[Sequence]) -> Tuple[int, int]:
    """(count, sum of 60-bit row hashes): an order-independent multiset
    digest that ``spark_digest`` reproduces exactly."""
    n = h = 0
    for r in rows:
        n += 1
        h += _row_hash(r)
    return n, h


def spark_digest(df, cols: Sequence[str]) -> Tuple[int, int]:
    from pyspark.sql import functions as F

    s = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    )
    h = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("decimal(38,0)")
    row = df.select(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(h), F.lit(0)).alias("h")
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def parquet_rows(path: str, cols: Sequence[str]) -> List[tuple]:
    """Rows of a parquet file, or of every parquet file under a directory."""
    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    out: List[tuple] = []
    for f in files:
        t = pq.read_table(f, columns=list(cols))
        out.extend(zip(*[t.column(c).to_pylist() for c in cols]))
    return out


def parquet_count(path: str) -> int:
    return sum(pq.read_metadata(f).num_rows for f in
               glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def latest_rows(rows: List[dict]) -> List[dict]:
    """Latest crawl per url (the contract of ``synth.latest_pages``)."""
    best: Dict[str, dict] = {}
    for r in rows:
        cur = best.get(r["url"])
        if cur is None or r["warc_ts"] > cur["warc_ts"]:
            best[r["url"]] = r
    return sorted(best.values(), key=lambda r: r["url"])


def reference_triples(pages: List[dict], store=BUILTIN_CONTEXTS) -> Tuple[List[tuple], int]:
    """Triple rows of ``pages`` from doc_to_quad_rows, and the count of
    blocks it quarantined."""
    rows: List[tuple] = []
    quarantine: List[tuple] = []
    cache: dict = {}
    for p in pages:
        rows.extend(doc_to_quad_rows(p["url"], p["html"], store, None, cache, quarantine))
    return rows, len(quarantine)


def union_find(edges: Iterable[Tuple[str, str]]) -> Dict[str, str]:
    """node -> min node id of its component."""
    parent: Dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in list(parent)}


def sameas_pairs(triples: Iterable[tuple]) -> List[Tuple[str, str]]:
    i_pred, i_kind = TRIPLE_COLUMNS.index("pred"), TRIPLE_COLUMNS.index("obj_kind")
    i_s, i_o = TRIPLE_COLUMNS.index("subj"), TRIPLE_COLUMNS.index("obj_value")
    return [(t[i_s], t[i_o]) for t in triples if t[i_pred] == SAMEAS and t[i_kind] == "id"]


def canonical_rows(triples: Iterable[tuple], comp: Dict[str, str]) -> List[tuple]:
    """subj, graph and id objects rewritten to their component label."""
    out = []
    for url, graph, subj, pred, kind, value, dt, lang in triples:
        out.append((url, comp.get(graph, graph), comp.get(subj, subj), pred, kind,
                    comp.get(value, value) if kind == "id" else value, dt, lang))
    return out


class Checks:
    """Output checks; ``failed`` gives check_failures its meaning."""

    def __init__(self):
        self.results: List[Tuple[str, bool, str]] = []

    def add(self, name: str, ok: bool, detail: str = "") -> None:
        self.results.append((name, bool(ok), detail))
        print(f"check {name}: {'ok' if ok else 'FAILED'} {detail}".rstrip(), flush=True)

    @property
    def attempted(self) -> int:
        return len(self.results)

    @property
    def failed(self) -> int:
        return sum(1 for _, ok, _ in self.results if not ok)


NO_TRACE = Tracer("", enabled=False)


# --------------------------------------------------------------------------- #
# workloads
# --------------------------------------------------------------------------- #


class Workload:
    """One workload over generated inputs. ``run_pass`` returns a dict with
    ``wall_s``, ``docs``, ``triples`` and ``freshness`` (a list of
    (seconds, weight) samples: for a batch pass every document waits the
    whole pass)."""

    name = ""
    store = BUILTIN_CONTEXTS
    warm_passes = 1

    def __init__(self, spark, inputs: str, props: dict, work: str, nproc: int):
        self.spark = spark
        self.inputs = inputs
        self.props = props
        self.work = work
        self.nproc = nproc
        self.counts: Dict[str, float] = {}

    def cut(self, df):
        return df.localCheckpoint(eager=True)

    def run_pass(self, out: str, tracer=NO_TRACE) -> dict:
        raise NotImplementedError

    def warm(self) -> None:
        for k in range(self.warm_passes):
            settle(self.spark)
            self.last_warm_s = self.run_pass(os.path.join(self.work, f"warm{k}"))["wall_s"]

    def check(self, checks: Checks, passes: List[dict]) -> None:
        raise NotImplementedError

    def chain_groups(self) -> List[List[Tuple[str, bytes]]]:
        """Page groups for the traced per-document chain (none by default)."""
        return []

    def probe_boundary(self, tracer) -> None:
        """Extra traced probes that are not part of the pass."""


def settle(spark) -> None:
    """Before each pass, outside the timed region: drop the finished pass's
    DataFrames and collect garbage in the JVM, so that Spark's context
    cleaner frees their checkpoints, shuffle files and broadcasts now rather
    than during the next pass. Every pass then starts with the same
    backlog."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)


def sync_tree(root: str) -> None:
    """fsync every file and directory under ``root``, so that written
    outputs count as committed only once they are on disk."""
    for d, _, files in os.walk(root):
        for path in [os.path.join(d, f) for f in files] + [d]:
            fd = os.open(path, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)


def _batch_pass(docs: int, wall: float, **extra) -> dict:
    return dict(wall_s=wall, docs=docs, freshness=[(wall, docs)], **extra)


class CrawlBuild(Workload):
    name = "crawl_build"
    # The first extraction job starts the Python workers; measured on 4
    # cores, the extraction took 14.3, 3.0 and 1.6 s in its first three
    # jobs, so set-up runs two passes before timing starts.
    warm_passes = 2

    def load(self) -> None:
        self.pages_path = os.path.join(self.inputs, "pages")
        # one sink bucket per shuffle partition: the generated crawl is a
        # few MB, so the default 32 buckets would write slivers
        self.buckets = 2 * self.nproc

    def run_pass(self, out: str, tracer=NO_TRACE) -> dict:
        spark = self.spark
        cut = self.cut if tracer.enabled else (lambda df: df)
        shutil.rmtree(out, ignore_errors=True)
        stats: dict = {}
        patches = {}
        if tracer.enabled:
            patches = {"write_triples": spanned(tracer, "materialize.write", M.write_triples),
                       "write_manifest": spanned(tracer, "materialize.manifest",
                                                 M.write_manifest)}
        t0 = time.perf_counter()
        with tracer.span("pass"), patched(M, patches):
            with tracer.span("sources.read"):
                pages = cut(latest_pages(read_pages(spark, self.pages_path)))
            with tracer.span("triples.extract"):
                M.extract_and_materialize(pages, out, buckets=self.buckets, resume=False)
            triples = M.read_triples(spark, out)
            with tracer.span("linking.sameas"):
                edges = cut(sameas_edges(triples))
            with tracer.span("components.cc"):
                comps = connected_components(edges, stats=stats)
                comps.write.mode("overwrite").parquet(os.path.join(out, "components"))
            with tracer.span("components.canonicalize"):
                canonical = cut(canonicalize_subjects(triples, comps))
            M.write_triples(canonical, os.path.join(out, "canonical"), self.buckets)
            with tracer.span("linking.detect"):
                mentions = cut(detect_mentions(pages))
            with tracer.span("linking.score"):
                score_links(mentions, dictionary_df(spark)).write.mode("overwrite").parquet(
                    os.path.join(out, "links"))
            with tracer.span("materialize.sync"):
                sync_tree(out)
        wall = time.perf_counter() - t0
        if tracer.enabled:
            self.counts.update(stale_dropped=self.props["crawl_rows"] - pages.count(),
                               mentions=mentions.count(),
                               links=parquet_count(os.path.join(out, "links")))
        triples_n = parquet_count(os.path.join(out, "triples"))
        self.counts.update(cc_rounds=stats.get("rounds", 0), cc_jobs=stats.get("jobs", 0),
                           cc_edges=stats.get("local_edges", 0))
        return _batch_pass(self.props["pages"], wall, triples=triples_n, out=out)

    def _reference(self):
        if not hasattr(self, "_ref"):
            rows = [dict(zip(("url", "warc_ts", "html", "text"), r))
                    for r in parquet_rows(self.pages_path, ("url", "warc_ts", "html", "text"))]
            latest = latest_rows(rows)
            triples, quarantined = reference_triples(latest)
            comp = union_find(sameas_pairs(triples))
            self._ref = {
                "crawl_rows": len(rows),
                "latest": latest,
                "triples": py_digest(triples),
                "quarantined": quarantined,
                "components": py_digest(sorted(comp.items())),
                "canonical": py_digest(canonical_rows(triples, comp)),
            }
        return self._ref

    def check(self, checks: Checks, passes: List[dict]) -> None:
        ref = self._reference()
        planted = self.props["malformed_blocks"]
        checks.add("generator_quarantine", ref["quarantined"] == planted,
                   f"reference={ref['quarantined']} planted={planted}")
        checks.add("generator_recrawls",
                   ref["crawl_rows"] - len(ref["latest"]) == self.props["crawl_rows"] - self.props["pages"])
        sample = random.Random(len(ref["latest"])).sample(ref["latest"], MENTION_SAMPLE)
        for k, p in enumerate(passes):
            out = p["out"]
            got = py_digest(parquet_rows(os.path.join(out, "triples"), TRIPLE_COLUMNS))
            checks.add(f"pass{k}.triples_digest", got == ref["triples"],
                       f"rows={got[0]} expected={ref['triples'][0]}")
            q, blocks = quarantine_counts(os.path.join(out, "records"))
            p["quarantine_ratio"] = q / blocks if blocks else 0.0
            checks.add(f"pass{k}.quarantined_blocks",
                       q == planted and blocks == self.props["blocks"],
                       f"quarantined={q}/{blocks} planted={planted}/{self.props['blocks']}")
            comps = py_digest(parquet_rows(os.path.join(out, "components"),
                                           ("node", "component")))
            checks.add(f"pass{k}.cc_labels", comps == ref["components"])
            canon = py_digest(parquet_rows(os.path.join(out, "canonical"), TRIPLE_COLUMNS))
            checks.add(f"pass{k}.canonical_digest", canon == ref["canonical"])
            links = parquet_rows(os.path.join(out, "links"), ("url", "surface_form", "tf"))
            checks.add(f"pass{k}.mention_counts", mentions_match(links, sample, None))
            p["sink_bytes"] = sum(os.path.getsize(f) for f in glob.glob(
                os.path.join(out, "triples", "*", "*.parquet")))

    def chain_groups(self):
        latest = self._reference()["latest"]
        sample = random.Random(7).sample(latest, min(CHAIN_SAMPLE, len(latest)))
        per = -(-len(sample) // self.nproc)
        return [[(p["url"], p["html"]) for p in sample[i:i + per]]
                for i in range(0, len(sample), per)]

    def probe_boundary(self, tracer) -> None:
        """The Arrow/pandas boundary alone: an identity mapInPandas over the
        same (url, html) batches the extraction UDF receives."""
        pages = self.cut(latest_pages(read_pages(self.spark, self.pages_path))
                         .select("url", "html"))

        def identity(batches):
            for pdf in batches:
                yield pdf

        with tracer.span("triples.boundary"):
            pages.mapInPandas(identity, pages.schema).write.format("noop").mode(
                "overwrite").save()


def quarantine_counts(records: str) -> Tuple[int, int]:
    """(quarantined blocks, blocks attempted) from a records table."""
    rows = parquet_rows(records, ("rec_kind", "metrics"))
    q = sum(1 for kind, _ in rows if kind == "q")
    blocks = sum(json.loads(m)["blocks"] for kind, m in rows if kind == "m")
    return q, blocks


def mentions_match(links: List[tuple], sample: List[dict], forms: Optional[List[str]]) -> bool:
    """Per-url (form -> tf) of the linked mentions equals the Python twin
    on every sampled page (every mention links: priors clear the score
    threshold)."""
    urls = {p["url"] for p in sample}
    got: Dict[str, Dict[str, int]] = {u: {} for u in urls}
    for url, form, tf in links:
        if url in urls:
            got[url][form] = tf
    return all(got[p["url"]] == count_mentions_python(p["text"], forms) for p in sample)


class EntityResolve(Workload):
    name = "entity_resolve"

    def load(self) -> None:
        self.triples_path = os.path.join(self.inputs, "triples")
        self.pages_path = os.path.join(self.inputs, "pages")
        with open(os.path.join(self.inputs, "forms.json")) as f:
            self.forms = json.load(f)
        self.dictionary = self.spark.read.parquet(os.path.join(self.inputs, "dictionary"))

    def run_pass(self, out: str, tracer=NO_TRACE) -> dict:
        spark = self.spark
        cut = self.cut if tracer.enabled else (lambda df: df)
        stats: dict = {}
        t0 = time.perf_counter()
        with tracer.span("pass"):
            with tracer.span("triples.dedup"):
                triples = cut(dedup_triples(spark.read.parquet(self.triples_path)))
            with tracer.span("linking.sameas"):
                edges = cut(sameas_edges(triples))
            with tracer.span("components.cc"):
                comps = connected_components(edges, stats=stats)
                comp_digest = spark_digest(comps, ("node", "component"))
            with tracer.span("components.canonicalize"):
                canon = spark_digest(canonicalize_subjects(triples, comps), TRIPLE_COLUMNS)
            pages = spark.read.parquet(self.pages_path)
            with tracer.span("linking.detect"):
                mentions = cut(detect_mentions(pages, self.forms))
            with tracer.span("linking.score"):
                links = score_links(mentions, self.dictionary)
                link_digest = spark_digest(links, ("url", "surface_form", "entity_id", "tf"))
        wall = time.perf_counter() - t0
        self.counts.update(cc_rounds=stats.get("rounds", 0), cc_jobs=stats.get("jobs", 0),
                           cc_edges=self.props["sameas_edges"], links=link_digest[0])
        if tracer.enabled:
            self.counts["mentions"] = mentions.count()
        self._last = (pages, mentions)
        return _batch_pass(self.props["pages"], wall, triples=canon[0], comps=comp_digest,
                           canonical=canon, links=link_digest[0])

    def check(self, checks: Checks, passes: List[dict]) -> None:
        rows = parquet_rows(self.triples_path, TRIPLE_COLUMNS)
        best: Dict[tuple, str] = {}
        for r in rows:
            key = r[1:]
            if key not in best or r[0] < best[key]:
                best[key] = r[0]
        deduped = [(url,) + key for key, url in best.items()]
        comp = union_find(sameas_pairs(deduped))
        ref_comps = py_digest(sorted(comp.items()))
        ref_canon = py_digest(canonical_rows(deduped, comp))
        checks.add("generator_sameas_edges",
                   len({tuple(e) for e in sameas_pairs(deduped)}) == self.props["sameas_edges"])
        for k, p in enumerate(passes):
            checks.add(f"pass{k}.cc_labels", p["comps"] == ref_comps,
                       f"nodes={p['comps'][0]} expected={ref_comps[0]}")
            checks.add(f"pass{k}.canonical_digest", p["canonical"] == ref_canon,
                       f"rows={p['canonical'][0]} expected={ref_canon[0]}")
        pages, _ = self._last
        sample_rows = pages.select("url", "text").orderBy("url").collect()
        sample = [r.asDict() for r in random.Random(3).sample(sample_rows, MENTION_SAMPLE)]
        urls = [p["url"] for p in sample]
        from pyspark.sql import functions as F

        links = (score_links(detect_mentions(pages.filter(F.col("url").isin(urls)), self.forms),
                             self.dictionary)
                 .select("url", "surface_form", "tf").collect())
        checks.add("mention_counts", mentions_match([tuple(r) for r in links], sample, self.forms))


class StreamIngest(Workload):
    """Open loop: one generator thread links pre-generated drop files into
    the watched directory at ``rate`` drops per second, regardless of how
    far the stream has got."""

    name = "stream_ingest"
    WATERMARK = "10 minutes"

    def __init__(self, *args, rate: float, warm_drops: int, **kw):
        super().__init__(*args, **kw)
        self.rate = rate
        self.warm_drops = warm_drops

    def load(self) -> None:
        self.drops = sorted(glob.glob(os.path.join(self.inputs, "drops", "*.parquet")))
        with open(os.path.join(self.inputs, "drop_urls.json")) as f:
            self.drop_urls = json.load(f)

    def warm(self) -> None:
        """A short stream whose drops all land at once: it starts the
        Python workers and compiles the batch plans."""
        self._stream(os.path.join(self.work, "warm"), self.drops[: self.warm_drops],
                     rate=1000.0)

    def run_pass(self, out: str, tracer=NO_TRACE) -> dict:
        with tracer.span("pass"), tracer.span("streaming.query"):
            return self._stream(out, self.drops, self.rate)

    def _stream(self, out: str, drops: List[str], rate: float) -> dict:
        from jsonld_rs_spark.streaming.ingest import start_streaming_extraction, stream_pages

        shutil.rmtree(out, ignore_errors=True)
        watched = os.path.join(out, "in")
        os.makedirs(watched)
        query = start_streaming_extraction(
            stream_pages(self.spark, watched), os.path.join(out, "sink"), store=self.store,
            trigger_available_now=False, dedup_watermark=self.WATERMARK)
        rows_expected = sum(pq.ParquetFile(f).metadata.num_rows for f in drops)
        due: List[float] = []
        sent: List[float] = []

        def generator():
            start = time.time() + 0.5
            for i, f in enumerate(drops):
                t = start + i / rate
                time.sleep(max(0.0, t - time.time()))
                os.link(f, os.path.join(watched, os.path.basename(f)))
                due.append(t)
                sent.append(time.time())

        gen = threading.Thread(target=generator, name="drop-generator")
        gen.start()
        try:
            deadline = time.time() + 60 + len(drops) / rate
            while True:
                progress = query.recentProgress
                seen = sum(p.numInputRows for p in progress)
                if seen >= rows_expected and not gen.is_alive():
                    break
                if query.exception() is not None or time.time() > deadline:
                    raise RuntimeError(f"stream stalled at {seen}/{rows_expected} rows: "
                                       f"{query.exception()}")
                time.sleep(0.05)
            # let the trailing no-data (state cleanup) batch finish: stopping
            # a query mid-batch interrupts it
            idle_by = time.time() + 10
            while query.status["isTriggerActive"] and time.time() < idle_by:
                time.sleep(0.05)
        finally:
            gen.join()
            query.stop()
        # the batches do not sync what they write; the sync is timed here
        # and added to the wall
        t_sync = time.perf_counter()
        sync_tree(os.path.join(out, "sink"))
        sync_s = time.perf_counter() - t_sync
        self.batches = len(query.recentProgress)  # no-data (state cleanup) batches too
        progress = [p for p in query.recentProgress if p.numInputRows > 0]
        batch_end = {}
        for p in progress:
            start = _iso_ts(p.timestamp)
            batch_end[p.batchId] = start + p.durationMs["triggerExecution"] / 1000.0
        url_batch = {}
        for f in glob.glob(os.path.join(out, "sink", "records", "batch=*", "*.parquet")):
            b = int(f.split("batch=")[1].split(os.sep)[0])
            for url in pq.read_table(f, columns=["url"]).column("url").to_pylist():
                if url is not None:
                    url_batch[url] = max(url_batch.get(url, -1), b)
        idx = {os.path.basename(f): k for k, f in enumerate(self.drops)}
        freshness = []
        for f, t_due in zip(drops, due):
            urls = self.drop_urls[idx[os.path.basename(f)]]
            b = max(url_batch.get(u, -1) for u in urls)
            freshness.append((batch_end[b] - t_due, len(urls)) if b in batch_end
                             else (float("inf"), len(urls)))
        last = max(batch_end.values())
        self.progress = progress
        self.lag = [s - d for s, d in zip(sent, due)]
        docs = sum(len(self.drop_urls[idx[os.path.basename(f)]]) for f in drops)
        return dict(wall_s=last - due[0] + sync_s, sync_s=sync_s, docs=docs,
                    freshness=freshness, out=out, drops=len(drops))

    def _reference(self):
        if not hasattr(self, "_ref"):
            pages = []
            for f in self.drops:
                pages.extend(dict(zip(("url", "warc_ts", "html", "text"), r))
                             for r in parquet_rows(f, ("url", "warc_ts", "html", "text")))
            latest = latest_rows(pages)
            triples, quarantined = reference_triples(latest, self.store)
            self._ref = {"latest": latest, "triples": py_digest(triples),
                         "quarantined": quarantined}
        return self._ref

    def check(self, checks: Checks, passes: List[dict]) -> None:
        ref = self._reference()
        planted = self.props["malformed_blocks"]
        checks.add("generator_quarantine", ref["quarantined"] == planted,
                   f"reference={ref['quarantined']} planted={planted}")
        for k, p in enumerate(passes):
            records = os.path.join(p["out"], "sink", "records")
            rows = [r[1:] for r in parquet_rows(records, ["rec_kind"] + TRIPLE_COLUMNS)
                    if r[0] == "t"]
            got = py_digest(rows)
            checks.add(f"pass{k}.triples_digest", got == ref["triples"],
                       f"rows={got[0]} expected={ref['triples'][0]}")
            q, blocks = quarantine_counts(records)
            p["quarantine_ratio"] = q / blocks if blocks else 0.0
            checks.add(f"pass{k}.quarantined_blocks",
                       q == planted and blocks == self.props["blocks"],
                       f"quarantined={q}/{blocks} planted={planted}/{self.props['blocks']}")
            checks.add(f"pass{k}.every_drop_committed",
                       all(f != float("inf") for f, _ in p["freshness"]))
            p["sink_bytes"] = sum(os.path.getsize(f) for f in glob.glob(
                os.path.join(records, "*", "*.parquet")))
            p["triples"] = got[0]

    def chain_groups(self):
        """One group per drop: each micro-batch task starts a cold cache."""
        by_url = {p["url"]: p for p in self._reference()["latest"]}
        picks = random.Random(7).sample(range(len(self.drop_urls)),
                                        min(len(self.drop_urls), CHAIN_SAMPLE // 6))
        return [[(u, by_url[u]["html"]) for u in self.drop_urls[d]] for d in picks]


def _iso_ts(text: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(text.replace("Z", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


class CorpusDedup(Workload):
    """A pass is ``corpus_filter``, the endpoint that composes the scalar
    filters with MinHash candidates, n-gram Jaccard verification and
    duplicate clustering. The traced pass records a span (and materializes
    the result) around each of those calls inside it."""

    name = "corpus_dedup"

    def load(self) -> None:
        self.docs_path = os.path.join(self.inputs, "docs")
        with open(os.path.join(self.inputs, "clusters.json")) as f:
            self.clusters = json.load(f)

    def run_pass(self, out: str, tracer=NO_TRACE) -> dict:
        from jsonld_rs_spark.ops import corpus as C
        from jsonld_rs_spark.ops import dedup as D

        patches_c, patches_d = {}, {}
        if tracer.enabled:
            def counted(name, key, fn):
                def call(*args, **kwargs):
                    with tracer.span(name):
                        df = self.cut(fn(*args, **kwargs))
                    self.counts[key] = df.count()
                    return df
                return call

            patches_d = {"minhash_dup_pairs": counted("dedup.minhash", "candidates",
                                                      D.minhash_dup_pairs)}
            patches_c = {"ngram_jaccard_pairs": counted("dedup.verify", "verified",
                                                        C.ngram_jaccard_pairs),
                         "dup_clusters": counted("dedup.clusters", "clustered",
                                                 C.dup_clusters)}
        t0 = time.perf_counter()
        with tracer.span("pass"), patched(C, patches_c), patched(D, patches_d):
            with tracer.span("corpus.filter"):
                kept = [r[0] for r in C.corpus_filter(
                    self.spark.read.parquet(self.docs_path)).select("doc_id").collect()]
        wall = time.perf_counter() - t0
        return _batch_pass(self.props["docs"], wall, kept=kept)

    def check(self, checks: Checks, passes: List[dict]) -> None:
        from jsonld_rs_spark.ops.text import LANG_MARKERS

        rows = parquet_rows(self.docs_path, ("doc_id", "text", "lang"))
        # the marker-word language guess (ops.text.lang_guess_col) must
        # agree with the declared language; every generated document is
        # long enough to clear the quality floor
        passing = {d for d, text, lang in rows
                   if lang in LANG_MARKERS and LANG_MARKERS[lang] in f" {text} "}
        expected = set(passing)
        for members in self.clusters:
            alive = sorted(m for m in members if m in passing)
            expected -= set(alive[1:])
        for k, p in enumerate(passes):
            kept = set(p["kept"])
            recovered = sum(1 for c in self.clusters
                            if len(kept & set(c)) == (1 if passing & set(c) else 0))
            checks.add(f"pass{k}.dup_clusters_recovered", recovered == len(self.clusters),
                       f"{recovered}/{len(self.clusters)}")
            checks.add(f"pass{k}.corpus_filter_kept", kept == expected,
                       f"kept={len(kept)} expected={len(expected)}")


WORKLOADS = {w.name: w for w in (CrawlBuild, EntityResolve, StreamIngest, CorpusDedup)}

