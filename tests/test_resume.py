"""Resumability: a killed-and-restarted extraction must converge to the same
triple table as a clean run (north rule: resumable from checkpoint with
per-partition lineage + metrics)."""

import pytest
from pyspark.sql import functions as F

from jsonld_rs_spark.pipeline.materialize import (
    extract_and_materialize,
    read_manifest,
    read_triples,
    write_manifest,
)
from jsonld_rs_spark.pipeline.synth import latest_pages, synthesize_pages


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    return latest_pages(synthesize_pages(spark, sf_dir)).cache()


def _triple_set(spark, out_dir):
    return {tuple(r) for r in read_triples(spark, out_dir).collect()}


def test_resume_equals_clean_run(spark, pages, tmp_path_factory):
    clean_dir = str(tmp_path_factory.mktemp("clean"))
    resumed_dir = str(tmp_path_factory.mktemp("resumed"))

    # clean run
    extract_and_materialize(pages, clean_dir, run_id="clean")

    # "crashed" run: only 40% of urls got written before the kill
    partial = pages.filter(F.pmod(F.xxhash64("url"), F.lit(10)) < 4)
    extract_and_materialize(partial, resumed_dir, run_id="partial")
    partial_n = read_triples(spark, resumed_dir).count()

    # restart with the full input: anti-join skips completed urls
    extract_and_materialize(pages, resumed_dir, run_id="resume")

    assert _triple_set(spark, clean_dir) == _triple_set(spark, resumed_dir)
    assert read_triples(spark, resumed_dir).count() > partial_n

    manifest = read_manifest(spark, resumed_dir)
    statuses = {(r["run_id"], r["status"]) for r in manifest.collect()}
    assert ("partial", "done") in statuses and ("resume", "done") in statuses


def test_bucketed_layout(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bucketed"))
    extract_and_materialize(pages, out, buckets=8, run_id="b")
    df = spark.read.parquet(f"{out}/triples")
    buckets = {r["bucket"] for r in df.select("bucket").distinct().collect()}
    assert buckets <= set(range(8)) and len(buckets) == 8
    # bucket assignment is a pure function of subj
    from pyspark.sql.functions import col, lit, pmod, xxhash64

    bad = df.filter(pmod(xxhash64("subj"), lit(8)).cast("int") != col("bucket")).count()
    assert bad == 0


def test_metrics_keep_run_attribution_across_resume(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("attrib"))
    partial = pages.filter(F.pmod(F.xxhash64("url"), F.lit(10)) < 4)
    extract_and_materialize(partial, out, run_id="runA")
    extract_and_materialize(pages, out, run_id="runB")
    metrics = spark.read.parquet(f"{out}/metrics")
    by_run = {
        r["run_id"]: r["docs"]
        for r in metrics.groupBy("run_id").sum("docs").withColumnRenamed("sum(docs)", "docs").collect()
    }
    assert set(by_run) == {"runA", "runB"}
    assert by_run["runA"] + by_run["runB"] == pages.count()


def test_bucket_partition_pruning(spark, pages, tmp_path_factory):
    """Reading one subject-hash bucket must touch only that bucket's files —
    the point of the bucketed layout (SURVEY.md §2.2 'Sinks')."""
    out = str(tmp_path_factory.mktemp("prune"))
    extract_and_materialize(pages, out, buckets=8, run_id="p")
    df = spark.read.parquet(f"{out}/triples")
    pruned = df.filter(F.col("bucket") == 3)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters", 1)[1][:200]
    # and the pruned read returns exactly that bucket's rows
    assert pruned.count() == df.filter(F.col("bucket") == 3).count() > 0
    assert pruned.select("bucket").distinct().collect() == [
        spark.createDataFrame([(3,)], "bucket int").collect()[0]
    ]


def test_write_triples_capability_fallback(spark, tmp_path):
    """No Iceberg catalog in the sandbox → parquet fallback is chosen and
    carries the same bucket layout; the detector must not misfire on
    ordinary spark confs."""
    from jsonld_rs_spark.pipeline.materialize import iceberg_catalog, write_triples

    assert iceberg_catalog(spark) is None
    df = spark.createDataFrame(
        [("u", None, "http://s/1", "http://p", "iri", "http://o", None, None)],
        "url string, graph string, subj string, pred string, obj_kind string,"
        " obj_value string, obj_datatype string, obj_lang string",
    )
    out = str(tmp_path / "triples")
    assert write_triples(df, out, buckets=4) == "parquet"
    # even with an explicit table name, no catalog -> parquet at path
    assert write_triples(df, out, buckets=4, table="ice.kg.triples") == "parquet"
    back = spark.read.parquet(out)
    assert back.select("bucket").distinct().count() == 1  # layout present


def test_read_pages_resolution(spark, sf_dir, tmp_path):
    """One source argument resolves to synth (sf dir), parquet (path), or a
    catalog table (only with an Iceberg catalog — absent here, so it must
    refuse loudly rather than misread a path)."""
    import pytest as _pytest

    from jsonld_rs_spark.pipeline.sources import PAGES_COLUMNS, read_pages

    synth = read_pages(spark, sf_dir)
    assert synth.columns[:5] == PAGES_COLUMNS and synth.count() > 0

    out = str(tmp_path / "pages")
    synth.limit(20).write.parquet(out)
    back = read_pages(spark, out)
    assert back.count() == 20 and back.columns == PAGES_COLUMNS

    # without a catalog, a dotted identifier routes to the file reader and
    # surfaces as a path error (never a misleading catalog error)
    with _pytest.raises(Exception, match="PATH_NOT_FOUND|Path does not exist|ice.crawl.pages"):
        read_pages(spark, "ice.crawl.pages").count()
    # replicate is synthesis-only
    with _pytest.raises(ValueError, match="replicate"):
        read_pages(spark, out, replicate=4)

    # explicit 'table:' prefix routes to the session catalog regardless of
    # Iceberg config (ADVICE r2: non-Iceberg catalogs need a spelled route)
    spark.read.parquet(out).createOrReplaceTempView("pages_view_t")
    try:
        via_table = read_pages(spark, "table:pages_view_t")
        assert via_table.count() == 20 and via_table.columns == PAGES_COLUMNS
    finally:
        spark.catalog.dropTempView("pages_view_t")


def test_write_triples_iceberg_rejects_unknown_modes(spark, monkeypatch):
    """The Iceberg branch only knows overwrite/append; any other save mode
    must raise instead of silently becoming append (ADVICE r2). The catalog
    probe is monkeypatched — the sandbox has no Iceberg runtime, but the
    mode guard sits before any writeTo call, so it is reachable."""
    import pytest as _pytest

    from jsonld_rs_spark.pipeline import materialize

    monkeypatch.setattr(materialize, "iceberg_catalog", lambda s: "ice")
    df = spark.createDataFrame(
        [("u", None, "http://s/1", "http://p", "iri", "http://o", None, None)],
        "url string, graph string, subj string, pred string, obj_kind string,"
        " obj_value string, obj_datatype string, obj_lang string",
    )
    for bad in ("ignore", "error", "errorifexists"):
        with _pytest.raises(ValueError, match="overwrite.*append"):
            materialize.write_triples(df, "/tmp/unused", table="ice.kg.t", mode=bad)


def test_quarantine_replay_heals_poisoned_blocks(spark, tmp_path_factory):
    """VERDICT r5 #6: poison a block (context missing from the offline
    store), run, fix the store, replay — the healed triples appear, the
    poison table empties, metrics attribute the replay run_id, and a second
    replay is a no-op (no duplicate triples)."""
    import json as _json

    from jsonld_rs_spark.pipeline.context_store import BUILTIN_CONTEXTS
    from jsonld_rs_spark.pipeline.materialize import replay_quarantined
    from jsonld_rs_spark.pipeline.triples import quarantined

    good = {"@context": {"@vocab": "http://s.example/"},
            "@id": "http://e/ok", "name": "fine"}
    poisoned = {"@context": "https://missing.example/ctx",
                "@id": "http://e/poisoned", "name": "was broken"}

    def page(url, *docs):
        html = "".join(
            f'<script type="application/ld+json">{_json.dumps(d)}</script>'
            for d in docs
        )
        return (url, html.encode())

    pages = spark.createDataFrame(
        [page("http://pg.example/1", good, poisoned),
         page("http://pg.example/2", good)],
        "url string, html binary",
    )
    out = str(tmp_path_factory.mktemp("replay"))
    extract_and_materialize(pages, out, run_id="main")

    q = quarantined(spark.read.parquet(f"{out}/records")).collect()
    assert len(q) == 1
    assert (q[0]["url"], q[0]["block_index"]) == ("http://pg.example/1", 1)
    n_before = read_triples(spark, out).count()
    assert read_triples(spark, out).filter(
        F.col("subj") == "http://e/poisoned").count() == 0

    fixed = dict(BUILTIN_CONTEXTS)
    fixed["https://missing.example/ctx"] = {"@context": {"@vocab": "http://s.example/"}}
    res = replay_quarantined(spark, out, pages, store=fixed, run_id="heal")
    assert res == {"replayed_blocks": 1, "healed_blocks": 1, "still_quarantined": 0}

    assert quarantined(spark.read.parquet(f"{out}/records")).count() == 0
    triples = read_triples(spark, out)
    assert triples.filter(F.col("subj") == "http://e/poisoned").count() > 0

    metrics = spark.read.parquet(f"{out}/metrics")
    rep = metrics.filter(F.col("run_id") == "heal").collect()
    assert rep and all(r["stage"] == "replay" for r in rep)
    healed_triples = sum(r["triples"] for r in rep)
    assert healed_triples > 0
    # only the poisoned block re-extracted: good blocks emit no duplicates
    assert triples.count() == n_before + healed_triples

    res2 = replay_quarantined(spark, out, pages, store=fixed, run_id="heal2")
    assert res2 == {"replayed_blocks": 0, "healed_blocks": 0, "still_quarantined": 0}
    assert read_triples(spark, out).count() == n_before + healed_triples


def test_quarantine_replay_contains_still_bad_blocks(spark, tmp_path_factory):
    """A replay whose fix does NOT cover a block must re-quarantine it (with
    containment, not a task kill) while healing the ones it does cover."""
    import json as _json

    from jsonld_rs_spark.pipeline.context_store import BUILTIN_CONTEXTS
    from jsonld_rs_spark.pipeline.materialize import replay_quarantined
    from jsonld_rs_spark.pipeline.triples import quarantined

    fixable = {"@context": "https://missing.example/a", "@id": "http://e/a"}
    unfixable = {"@context": "https://missing.example/b", "@id": "http://e/b"}

    def page(url, *docs):
        html = "".join(
            f'<script type="application/ld+json">{_json.dumps(d)}</script>'
            for d in docs
        )
        return (url, html.encode())

    pages = spark.createDataFrame(
        [page("http://pg.example/1", fixable), page("http://pg.example/2", unfixable)],
        "url string, html binary",
    )
    out = str(tmp_path_factory.mktemp("replay_part"))
    extract_and_materialize(pages, out, run_id="main")
    assert quarantined(spark.read.parquet(f"{out}/records")).count() == 2

    fixed = dict(BUILTIN_CONTEXTS)
    fixed["https://missing.example/a"] = {"@context": {"@vocab": "http://s.example/"}}
    res = replay_quarantined(spark, out, pages, store=fixed, run_id="partial")
    assert res == {"replayed_blocks": 2, "healed_blocks": 1, "still_quarantined": 1}
    left = quarantined(spark.read.parquet(f"{out}/records")).collect()
    assert len(left) == 1 and left[0]["url"] == "http://pg.example/2"


def test_quarantine_replay_shortened_page_stays_quarantined(spark, tmp_path_factory):
    """Review r6: a poison row whose block index no longer exists in the
    (re-fetched, shorter) page was marked resolved without being re-driven.
    It must stay quarantined — only an ATTEMPTED clean extraction heals."""
    import json as _json

    from jsonld_rs_spark.pipeline.materialize import replay_quarantined
    from jsonld_rs_spark.pipeline.triples import quarantined

    good = {"@context": {"@vocab": "http://s.example/"}, "@id": "http://e/ok", "name": "fine"}
    poisoned = {"@context": "https://missing.example/ctx", "@id": "http://e/p2"}

    def page(url, *docs):
        html = "".join(
            f'<script type="application/ld+json">{_json.dumps(d)}</script>'
            for d in docs
        )
        return (url, html.encode())

    out = str(tmp_path_factory.mktemp("replay_short"))
    extract_and_materialize(
        spark.createDataFrame([page("http://pg.example/1", good, poisoned)],
                              "url string, html binary"),
        out, run_id="main",
    )
    assert quarantined(spark.read.parquet(f"{out}/records")).count() == 1

    # the re-fetched page now has only the good block: index 1 is gone
    shorter = spark.createDataFrame([page("http://pg.example/1", good)],
                                    "url string, html binary")
    res = replay_quarantined(spark, out, shorter, run_id="short")
    assert res == {"replayed_blocks": 1, "healed_blocks": 0, "still_quarantined": 1}
    assert quarantined(spark.read.parquet(f"{out}/records")).count() == 1

def test_resolved_marker_does_not_mask_future_failures(spark, tmp_path_factory):
    """ADVICE r6 (medium): masking is recency-scoped. Heal a block, then a
    LATER append-only run re-extracts the re-crawled page and the same
    (url, block_index) fails again — the fresh 'q' row must surface in
    quarantined() (the old unscoped anti-join masked it forever), and a
    replay driven at the new failure must heal it."""
    import json as _json
    import time as _time

    from jsonld_rs_spark.pipeline.context_store import BUILTIN_CONTEXTS
    from jsonld_rs_spark.pipeline.materialize import replay_quarantined
    from jsonld_rs_spark.pipeline.triples import extract_records, quarantined

    good = {"@context": {"@vocab": "http://s.example/"}, "@id": "http://e/ok", "name": "fine"}
    poisoned = {"@context": "https://missing.example/ctx", "@id": "http://e/p3"}

    def page(url, *docs):
        html = "".join(
            f'<script type="application/ld+json">{_json.dumps(d)}</script>'
            for d in docs
        )
        return (url, html.encode())

    url = "http://pg.example/recrawl"
    pages = spark.createDataFrame([page(url, good, poisoned)], "url string, html binary")
    out = str(tmp_path_factory.mktemp("replay_recency"))
    extract_and_materialize(pages, out, run_id="main")
    assert quarantined(spark.read.parquet(f"{out}/records")).count() == 1

    fixed = dict(BUILTIN_CONTEXTS)
    fixed["https://missing.example/ctx"] = {"@context": {"@vocab": "http://s.example/"}}
    res = replay_quarantined(spark, out, pages, store=fixed, run_id="heal")
    assert res["healed_blocks"] == 1
    assert quarantined(spark.read.parquet(f"{out}/records")).count() == 0

    # later append-only run: the re-crawled page's block 1 now references a
    # context the store doesn't have → same (url, block_index) fails anew
    refail = {"@context": "https://missing.example/ctx2", "@id": "http://e/p3"}
    recrawl = spark.createDataFrame([page(url, good, refail)], "url string, html binary")
    rec2 = extract_records(recrawl, stage="extract").withColumn(
        "run_id", F.lit("recrawl")
    ).withColumn("run_ts", F.lit(float(_time.time())))
    rec2.write.mode("append").parquet(f"{out}/records")

    q = quarantined(spark.read.parquet(f"{out}/records")).collect()
    assert len(q) == 1
    assert (q[0]["url"], q[0]["block_index"]) == (url, 1)

    # and the fresh failure is replayable: fix ctx2, replay heals it again
    fixed2 = dict(fixed)
    fixed2["https://missing.example/ctx2"] = {"@context": {"@vocab": "http://s.example/"}}
    res2 = replay_quarantined(spark, out, recrawl, store=fixed2, run_id="heal2")
    assert res2["replayed_blocks"] == 1 and res2["healed_blocks"] == 1
    assert quarantined(spark.read.parquet(f"{out}/records")).count() == 0


def test_legacy_records_without_run_ts_stay_healed(spark, tmp_path_factory):
    """Review r7: a records dir whose OLDER parquet files pre-date the
    run_ts column must not resurrect long-healed blocks. mergeSchema reads
    those legacy rows as run_ts=NULL; without the coalesce-to-epoch-floor,
    max(NULL)=NULL flowed into the isNull branch and every healed 'q' row
    came back. And without mergeSchema one old footer could win schema
    inference and silently DROP run_ts for the whole table."""
    import json as _json
    import time as _time

    from jsonld_rs_spark.pipeline.context_store import BUILTIN_CONTEXTS
    from jsonld_rs_spark.pipeline.materialize import _read_records, replay_quarantined
    from jsonld_rs_spark.pipeline.triples import quarantined

    good = {"@context": {"@vocab": "http://s.example/"}, "@id": "http://e/ok", "name": "fine"}
    poisoned = {"@context": "https://missing.example/ctx", "@id": "http://e/p4"}

    def page(url, *docs):
        html = "".join(
            f'<script type="application/ld+json">{_json.dumps(d)}</script>'
            for d in docs
        )
        return (url, html.encode())

    url = "http://pg.example/legacy"
    pages = spark.createDataFrame([page(url, good, poisoned)], "url string, html binary")

    # build a healed history with run_ts, then strip the column to simulate
    # files written before run_ts existed
    staging = str(tmp_path_factory.mktemp("legacy_staging"))
    extract_and_materialize(pages, staging, run_id="old-main")
    fixed = dict(BUILTIN_CONTEXTS)
    fixed["https://missing.example/ctx"] = {"@context": {"@vocab": "http://s.example/"}}
    res = replay_quarantined(spark, staging, pages, store=fixed, run_id="old-heal")
    assert res["healed_blocks"] == 1

    out = str(tmp_path_factory.mktemp("legacy_records"))
    legacy = spark.read.parquet(f"{staging}/records").drop("run_ts")
    legacy.write.mode("overwrite").parquet(f"{out}/records")
    assert quarantined(_read_records(spark, f"{out}/records")).count() == 0

    # a NEW-format run appends a 'q' for a different page, run_ts present
    poisoned2 = {"@context": "https://missing.example/ctx2", "@id": "http://e/p5"}
    pages2 = spark.createDataFrame(
        [page("http://pg.example/legacy2", good, poisoned2)], "url string, html binary"
    )
    from jsonld_rs_spark.pipeline.triples import extract_records

    rec2 = extract_records(pages2, stage="extract").withColumn(
        "run_id", F.lit("new-run")
    ).withColumn("run_ts", F.lit(float(_time.time())))
    rec2.write.mode("append").parquet(f"{out}/records")

    q = quarantined(_read_records(spark, f"{out}/records")).collect()
    # the legacy heal holds (marker coalesced to the same epoch floor as its
    # q row → masks); only the genuinely new failure is listed
    assert [(r["url"], r["block_index"]) for r in q] == [("http://pg.example/legacy2", 1)]

    # a post-column 'q' RE-FAILING the legacy-healed block beats the legacy
    # marker (real ts > 0.0) and surfaces for replay
    refail = {"@context": "https://missing.example/ctx3", "@id": "http://e/p4"}
    recrawl = spark.createDataFrame([page(url, good, refail)], "url string, html binary")
    rec3 = extract_records(recrawl, stage="extract").withColumn(
        "run_id", F.lit("recrawl")
    ).withColumn("run_ts", F.lit(float(_time.time())))
    rec3.write.mode("append").parquet(f"{out}/records")
    q2 = {(r["url"], r["block_index"])
          for r in quarantined(_read_records(spark, f"{out}/records")).collect()}
    assert (url, 1) in q2 and ("http://pg.example/legacy2", 1) in q2


def test_manifest_on_file_uri(spark, tmp_path, monkeypatch):
    """A scheme-qualified out_dir goes through pyarrow's URI filesystem:
    the row lands under the URI's path (not a relative 'file:' directory)
    and read_manifest reads it back."""
    monkeypatch.chdir(tmp_path)
    out_dir = (tmp_path / "sink").as_uri()
    assert out_dir.startswith("file://")
    write_manifest(spark, out_dir, "extract", "run-uri", "done", {"n": 1})
    assert not (tmp_path / "file:").exists()
    rows = read_manifest(spark, out_dir).collect()
    assert [(r["stage"], r["run_id"], r["status"], r["extra"]) for r in rows] == [
        ("extract", "run-uri", "done", '{"n": 1}')
    ]
