"""Triple extraction: web pages → canonical RDF triple rows.

The pipeline's heart (SURVEY.md §3.3): one vectorized ``mapInPandas`` stage
runs, per page, the reference-semantics chain
``extract ld+json blocks → expand (broadcast context store) → node map →
toRDF quads → URDNA2015 canonical relabel → doc-namespaced blank labels``
and explodes the result into triple rows. All cross-document work
(dedup, joins, CC) stays in DataFrame land — every shuffle is visible in
the plan, none hidden inside the UDF.

Blank-node labels: URDNA2015 makes labels content-derived *within* a
document; prefixing them with an 8-hex url hash makes them globally unique
*across* documents with zero coordination (``_:<urlhash>_c14nN``), so the
stage stays embarrassingly parallel at any cluster size.

Per-partition lineage: the same pass emits one metrics row per Arrow batch
(rec_kind='m') carrying docs/blocks/triples/error counters and wall time —
the write path splits them into the triples table and the metrics table
without recomputation (see materialize.py).
"""

from __future__ import annotations

import hashlib
import json
import time
from typing import Any, Dict, Iterator, List, Optional

from ..extract import extract_jsonld_blocks
from ..jsonldpy import errors as E
from ..jsonldpy.expand import expand_core
from ..jsonldpy.context import Context
from ..jsonldpy.nodemap import DefaultNodeGenerator
from ..jsonldpy.rdf import jsonld_to_rdf
from ..jsonldpy.urdna2015 import canonicalize_dataset, is_blank
from ..jsonldpy import iri as iri_mod
from .context_store import BUILTIN_CONTEXTS, make_loader

TRIPLE_COLUMNS = [
    "url",
    "graph",
    "subj",
    "pred",
    "obj_kind",
    "obj_value",
    "obj_datatype",
    "obj_lang",
]

# combined single-pass schema: triple rows (rec_kind='t') + metric rows ('m')
RECORDS_SCHEMA = (
    "rec_kind string, url string, graph string, subj string, pred string, "
    "obj_kind string, obj_value string, obj_datatype string, obj_lang string, "
    "metrics string"
)

TRIPLES_DDL = (
    "url string, graph string, subj string, pred string, obj_kind string, "
    "obj_value string, obj_datatype string, obj_lang string"
)

METRICS_DDL = (
    "stage string, partition_id int, docs long, blocks long, triples long, "
    "err_json long, err_jsonld long, err_canon long, wall_ms long"
)


def url_ns(url: str) -> str:
    # 96-bit namespace: birthday bound ~2^48 docs before a collision is
    # expected — safe at the 10^12-doc design scale (32 bits would collide
    # from ~10^5 urls and dedup_triples would then silently merge distinct
    # blank nodes).
    return hashlib.blake2b(url.encode("utf-8"), digest_size=12).hexdigest()


def _namespace(term: str, ns: str) -> str:
    return f"_:{ns}_{term[2:]}" if is_blank(term) else term


def doc_to_quad_rows(
    url: str,
    html: bytes,
    store: Dict[str, Any],
    counters: Optional[Dict[str, int]] = None,
    context_cache: Optional[Dict[str, Any]] = None,
    quarantine: Optional[List[tuple]] = None,
    allowed_blocks: Optional[set] = None,
) -> List[tuple]:
    """Pure per-document algorithm; returns triple rows for one page.

    ``context_cache`` memoizes processed @context values across documents
    within a worker (millions of pages share a handful of contexts).
    ``quarantine`` (optional list) collects (url, block_index, error_code)
    for every failed block so bad inputs are replayable, not just counted.
    ``allowed_blocks`` (optional set of block indices) restricts the pass to
    those blocks — the quarantine-replay path re-drives exactly the failed
    blocks without re-emitting the page's already-extracted good blocks.
    """
    loader = make_loader(store)
    rows: List[tuple] = []
    blocks = extract_jsonld_blocks(html)
    if counters is not None:
        counters["docs"] += 1
        counters["blocks"] += (
            len(blocks)
            if allowed_blocks is None
            else sum(1 for i in range(len(blocks)) if i in allowed_blocks)
        )
    ns = url_ns(url)
    for block_index, block in enumerate(blocks):
        if allowed_blocks is not None and block_index not in allowed_blocks:
            continue
        try:
            # RecursionError: adversarially nested JSON blows the C parser's
            # stack long before expand's MAX_DEPTH guard can see the doc.
            doc = json.loads(block)
        except (ValueError, RecursionError):
            if counters is not None:
                counters["err_json"] += 1
            if quarantine is not None:
                quarantine.append((url, block_index, E.JSON_PARSE_ERROR))
            continue
        try:
            ctx = Context(base_iri=iri_mod.parse_base(url))
            expanded = expand_core(ctx, doc, loader, context_cache)
            dataset = jsonld_to_rdf(expanded, DefaultNodeGenerator())
            # sort=False: rows land in a DataFrame; every consumer sorts or
            # aggregates itself, so the per-graph N-Quads-line sort is waste
            dataset = canonicalize_dataset(dataset, sort=False)
        except E.CanonicalizationError as exc:
            if counters is not None:
                counters["err_canon"] += 1
            if quarantine is not None:
                quarantine.append((url, block_index, exc.code))
            continue
        except E.JsonLdError as exc:
            if counters is not None:
                counters["err_jsonld"] += 1
            if quarantine is not None:
                quarantine.append((url, block_index, exc.code))
            continue
        except (ValueError, RecursionError) as exc:
            # scheme-less page url (parse_base), non-finite doubles
            # (json.loads accepts NaN/Infinity), pathological nesting past
            # json.loads but inside expansion helpers: per-document errors,
            # never task kills.
            if counters is not None:
                counters["err_jsonld"] += 1
            if quarantine is not None:
                quarantine.append((url, block_index, f"value_error:{type(exc).__name__}"))
            continue
        for graph, quads in dataset.items():
            g = _namespace(graph, ns)
            for q in quads:
                rows.append(
                    (
                        url,
                        g,
                        _namespace(q.subj, ns),
                        _namespace(q.pred, ns),  # blank predicates: generalized RDF
                        q.obj_kind,
                        _namespace(q.obj_value, ns) if q.obj_kind == "id" else q.obj_value,
                        q.obj_datatype,
                        q.obj_lang,
                    )
                )
    if counters is not None:
        counters["triples"] += len(rows)
    return rows


def extract_records(pages_df, store: Optional[Dict[str, Any]] = None, stage: str = "extract"):
    """pages → combined (triples + per-batch metrics) records DataFrame.

    Reads only (url, html) — column pruning reaches the parquet/page scan.
    The context store is broadcast once per call.
    """
    spark = pages_df.sparkSession
    store_b = spark.sparkContext.broadcast(store or BUILTIN_CONTEXTS)
    return _extract_records(pages_df, store_b, stage)


def _extract_records(pages_df, store_b, stage: str):
    """``extract_records`` over an already broadcast context store. A
    stream reuses one broadcast for all its micro-batches: a broadcast per
    call keeps one more temp file per batch alive on the driver."""
    import pandas as pd

    # Column pruning: only (url, html) reach the scan. Partitioning is
    # inherited from the input (synthesize_pages spreads the scan to cluster
    # parallelism; latest_pages preserves it via broadcast join) — probing
    # getNumPartitions here would trigger AQE execution of the upstream plan.
    src = pages_df.select("url", "html")

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        local_store = store_b.value
        context_cache: Dict[str, Any] = {}
        for pdf in batches:
            t0 = time.monotonic()
            counters = {
                "docs": 0,
                "blocks": 0,
                "triples": 0,
                "err_json": 0,
                "err_jsonld": 0,
                "err_canon": 0,
            }
            out: List[tuple] = []
            quarantine: List[tuple] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                q_before = len(quarantine)
                doc_rows = doc_to_quad_rows(
                    url, bytes(html), local_store, counters, context_cache, quarantine
                )
                for row in doc_rows:
                    out.append(("t",) + row + (None,))
                if not doc_rows and len(quarantine) == q_before:
                    # blockless page: emit a done-marker so resume's
                    # processed-url set is complete (otherwise such pages
                    # are re-extracted on every restart)
                    out.append(("d", url, None, None, None, None, None, None, None, None))
            for q_url, block_index, code in quarantine:
                out.append(
                    (
                        "q",
                        q_url,
                        None,
                        None,
                        None,
                        None,
                        None,
                        None,
                        None,
                        json.dumps({"block_index": block_index, "error": code}),
                    )
                )
            counters["wall_ms"] = int((time.monotonic() - t0) * 1000)
            counters["partition_id"] = pid
            counters["stage"] = stage
            out.append(
                ("m", None, None, None, None, None, None, None, None, json.dumps(counters))
            )
            yield pd.DataFrame(out, columns=["rec_kind"] + TRIPLE_COLUMNS + ["metrics"])

    return src.mapInPandas(run, schema=RECORDS_SCHEMA)


def split_records(records_df):
    """records → (triples_df, metrics_df). Call after persisting records (or
    let materialize.py write/reload) to avoid recomputing the extraction."""
    from pyspark.sql import functions as F

    triples = records_df.filter(F.col("rec_kind") == "t").select(*TRIPLE_COLUMNS)
    metrics = (
        records_df.filter(F.col("rec_kind") == "m")
        .select(F.from_json("metrics", METRICS_DDL).alias("m"))
        .select("m.*")
    )
    return triples, metrics


def quarantined(records_df):
    """records → (url, block_index, error) rows for failed blocks that have
    NOT been healed by a replay — the replayable poison-document table.

    The records table is append-only (at crawl scale a rewrite of the full
    records table to clear one poison row is absurd), so a successful replay
    appends a resolved marker (rec_kind='r', VERDICT r5 #6) instead of
    deleting the 'q' row; this view joins the markers out. A block that
    failed again on replay has a fresh 'q' row and no marker — it stays
    listed (distinct collapses the repeated identical rows).

    Masking is RECENCY-SCOPED (ADVICE r6): a resolved marker only clears 'q'
    rows stamped at-or-before it. Without this, healing a block once would
    permanently mask any FUTURE 'q' for the same (url, block_index) — e.g. a
    re-crawled page whose same-index block now fails could never be
    replayed. Ordering comes from the driver-stamped ``run_ts`` column
    (materialize.py appends it per run); records without the column (raw
    ``extract_records`` output within one run) degenerate to the unscoped
    behavior, which is correct there because a single run never re-fails a
    block it also resolved.

    LEGACY rows need the same degeneration: a records dir whose older parquet
    files pre-date the run_ts column reads those rows as NULL (r7 review
    finding) — max(NULL)=NULL would then RESURRECT every long-healed block
    through the isNull branch. Coalescing NULL to the epoch floor 0.0 pins
    legacy q/r pairs to the unscoped semantics (marker masks), while any
    post-column 'q' (real ts > 0) still beats a legacy marker and stays
    replayable."""
    from pyspark.sql import functions as F

    ts = (
        F.coalesce(F.col("run_ts"), F.lit(0.0))
        if "run_ts" in records_df.columns
        else F.lit(0.0)
    )
    q = (
        records_df.filter(F.col("rec_kind") == "q")
        .select(
            "url",
            F.from_json("metrics", "block_index int, error string").alias("q"),
            ts.alias("q_ts"),
        )
        .select("url", "q.block_index", "q.error", "q_ts")
    )
    resolved = (
        records_df.filter(F.col("rec_kind") == "r")
        .select(
            "url",
            F.from_json("metrics", "block_index int").alias("r"),
            ts.alias("r_ts"),
        )
        .groupBy("url", F.col("r.block_index").alias("block_index"))
        .agg(F.max("r_ts").alias("r_ts"))
    )
    return (
        q.join(resolved, ["url", "block_index"], "left")
        .filter(F.col("r_ts").isNull() | (F.col("r_ts") < F.col("q_ts")))
        .select("url", "block_index", "error")
        .distinct()
    )


def extract_replay_records(pages_with_blocks_df, store: Optional[Dict[str, Any]] = None,
                           stage: str = "replay"):
    """(url, html, replay_blocks array<int>) → records for the quarantine
    replay (VERDICT r5 #6). Per block (the replay unit):

    * success → its 't' triple rows plus one resolved marker
      (rec_kind='r', metrics={block_index}) — ``quarantined`` anti-joins the
      marker so the block leaves the poison table; a block that succeeds
      with zero triples still resolves;
    * failure → a fresh 'q' row (same containment as the main pass — the
      store fix may not cover every poisoned block, and one still-bad block
      must never kill the replay task).

    One 'm' metrics row per Arrow batch, stage-tagged ``replay`` so lineage
    attributes the healed triples to the replay run."""
    import pandas as pd

    spark = pages_with_blocks_df.sparkSession
    store_b = spark.sparkContext.broadcast(store or BUILTIN_CONTEXTS)
    src = pages_with_blocks_df.select("url", "html", "replay_blocks")

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        local_store = store_b.value
        context_cache: Dict[str, Any] = {}
        for pdf in batches:
            t0 = time.monotonic()
            counters = {
                "docs": 0,
                "blocks": 0,
                "triples": 0,
                "err_json": 0,
                "err_jsonld": 0,
                "err_canon": 0,
            }
            out: List[tuple] = []
            for url, html, blocks in zip(pdf["url"], pdf["html"], pdf["replay_blocks"]):
                quarantine: List[tuple] = []
                n_calls = 0
                for bi in sorted(int(b) for b in blocks):
                    n_calls += 1
                    q_before = len(quarantine)
                    blocks_before = counters["blocks"]
                    doc_rows = doc_to_quad_rows(
                        url, bytes(html), local_store, counters, context_cache,
                        quarantine, allowed_blocks={bi},
                    )
                    for row in doc_rows:
                        out.append(("t",) + row + (None,))
                    # a block index past the page's current block count was
                    # never ATTEMPTED (the html may have been re-fetched
                    # shorter) — counters['blocks'] only counts attempted
                    # blocks, so a zero delta means no extraction happened
                    # and the poison row must NOT be marked resolved
                    # (review r6): emitting 'r' here would silently clear a
                    # row that was never re-driven.
                    attempted = counters["blocks"] - blocks_before
                    if attempted > 0 and len(quarantine) == q_before:
                        out.append(
                            ("r", url, None, None, None, None, None, None, None,
                             json.dumps({"block_index": bi}))
                        )
                for q_url, block_index, code in quarantine:
                    out.append(
                        ("q", q_url, None, None, None, None, None, None, None,
                         json.dumps({"block_index": block_index, "error": code}))
                    )
                if n_calls > 1:
                    # doc_to_quad_rows counts docs per call = per block here;
                    # a page is one doc however many blocks it replays
                    counters["docs"] -= n_calls - 1
            counters["wall_ms"] = int((time.monotonic() - t0) * 1000)
            counters["partition_id"] = pid
            counters["stage"] = stage
            out.append(
                ("m", None, None, None, None, None, None, None, None,
                 json.dumps(counters))
            )
            yield pd.DataFrame(out, columns=["rec_kind"] + TRIPLE_COLUMNS + ["metrics"])

    return src.mapInPandas(run, schema=RECORDS_SCHEMA)


def extract_triples(pages_df, store: Optional[Dict[str, Any]] = None):
    """pages → triple rows only (no metrics channel)."""
    triples, _ = split_records(extract_records(pages_df, store))
    return triples


def dedup_triples(triples_df):
    """Global triple dedup on triple identity (provenance url excluded);
    SURVEY.md §2.2 'Distinct / dedup'. One shuffle on the full identity.

    The surviving provenance url is the MIN url of the group, not an
    arbitrary partition-order winner: identical triples are emitted from
    many pages (entity sameAs blocks), and downstream assembly groups by
    url — a run-order-dependent representative would make assembled
    documents vary across runs. Same single shuffle as dropDuplicates
    (hash agg on the identity key), just with a deterministic reducer."""
    from pyspark.sql import functions as F

    identity = [
        "graph", "subj", "pred", "obj_kind", "obj_value", "obj_datatype", "obj_lang",
    ]
    return (
        triples_df.groupBy(*identity)
        .agg(F.min("url").alias("url"))
        .select(*TRIPLE_COLUMNS)
    )
