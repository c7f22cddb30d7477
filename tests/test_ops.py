"""Training-data operator tests: dedup family, similarity, text ops,
multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from jsonld_rs_spark.ops.dedup import (
    embedding_near_dup,
    exact_dedup,
    minhash_dup_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from jsonld_rs_spark.ops.multimodal import decode_stub, extract_features, synthesize_media
from jsonld_rs_spark.ops.similarity import brute_force_topk, lsh_topk
from jsonld_rs_spark.ops.text import lang_id, quality_score, token_count


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_exact_dedup_finds_planted_duplicates(spark, docs):
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    with_dups = docs.unionByName(dup)
    groups = exact_dedup(with_dups, min_copies=2).collect()
    assert len(groups) == 5
    for g in groups:
        assert g["n_copies"] == 2
        assert g["representative"] < 100000  # min doc_id wins


def test_minhash_finds_planted_near_duplicates(spark, docs):
    # copy 3 docs with one word changed → near-dups share most shingles
    base = docs.limit(3).collect()
    edited = [
        (int(r["doc_id"]) + 100000, r["text"].replace("the", "teh", 1), r["lang"], r["source"], 0)
        for r in base
    ]
    extra = spark.createDataFrame(
        edited, "doc_id long, text string, lang string, source string, n_chars long"
    )
    pairs = minhash_dup_pairs(docs.unionByName(extra)).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    hits = sum(
        1 for r in base if (int(r["doc_id"]), int(r["doc_id"]) + 100000) in found
    )
    assert hits >= 2  # banding is probabilistic; near-identical docs must mostly hit


def test_ngram_jaccard_scores_planted_pairs(spark, docs):
    base = docs.limit(2).collect()
    edited = [
        (int(r["doc_id"]) + 100000, r["text"] + " tail", r["lang"], r["source"], 0)
        for r in base
    ]
    extra = spark.createDataFrame(
        edited, "doc_id long, text string, lang string, source string, n_chars long"
    )
    pairs = ngram_jaccard_pairs(docs.unionByName(extra), threshold=0.8).collect()
    found = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    for r in base:
        key = (int(r["doc_id"]), int(r["doc_id"]) + 100000)
        assert key in found and found[key] > 0.9


def test_simhash_close_for_near_duplicates(spark, docs):
    r = docs.limit(1).collect()[0]
    near = r["text"].replace(r["text"].split()[-1], "zzz")
    df = spark.createDataFrame(
        [(1, r["text"], "en", "s", 0), (2, near, "en", "s", 0), (3, "totally different words entirely", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sh = {x["doc_id"]: x["simhash"] for x in simhash(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[1], sh[2]) <= ham(sh[1], sh[3])


def test_brute_force_topk_shape_and_order(embeddings):
    rows = brute_force_topk(embeddings, n_queries=3, k=5).collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r["vec_id"] != q for r in rs)


def test_lsh_topk_subset_of_bucket_and_sane(embeddings):
    approx = lsh_topk(embeddings, n_queries=3, k=5).collect()
    exact = brute_force_topk(embeddings, n_queries=3, k=50).collect()
    exact_map = {(r["query_id"], r["vec_id"]): r["cosine"] for r in exact}
    # every approximate hit must carry the exact cosine value
    for r in approx:
        key = (r["query_id"], r["vec_id"])
        if key in exact_map:
            assert abs(exact_map[key] - r["cosine"]) < 1e-9


def test_embedding_near_dup_with_planted_twin(spark, embeddings):
    """Default (LSH, unrestricted corpus) must find a planted twin — an
    identical vector shares every bucket in every table."""
    twin = (
        embeddings.filter(F.col("vec_id") == 0)
        .select((F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
    )
    out = embedding_near_dup(embeddings.unionByName(twin), threshold=0.9999)
    pairs = {(r["vec_a"], r["vec_b"]) for r in out.collect()}
    assert (0, 100000) in pairs


def test_embedding_near_dup_brute_lsh_agree_on_twins(spark, embeddings):
    """On high-threshold twins the approximate tier must equal the exact
    tier (the LSH miss probability at cosine≥0.999 with 4 tables is ~1e-4)."""
    noisy = embeddings.select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
        "label",
    )
    corpus = embeddings.unionByName(noisy)
    brute = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup(corpus, threshold=0.999, method="brute").collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup(corpus, threshold=0.999, method="lsh").collect()
    }
    assert brute, "planted scaled twins must be near-dups"
    assert lsh == brute


def test_lsh_topk_recall_floor_on_clustered_corpus(spark):
    """recall@10 vs brute force on a corpus with real cluster structure
    (the regime LSH targets; VERDICT r1 #3 — sane bucketing must beat 0.6,
    a 1-candidate-per-query bug cannot)."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(10, 64))
    rows = []
    vid = 0
    for c in range(10):
        for _ in range(30):
            v = centers[c] + rng.normal(scale=0.15, size=64)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    exact = brute_force_topk(emb, n_queries=5, k=10).collect()
    approx = lsh_topk(emb, n_queries=5, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(approx_sets.get(q, set()) & hits) / len(hits)
        for q, hits in exact_sets.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_text_ops_shapes(docs):
    n = docs.count()
    assert token_count(docs).count() == n
    li = lang_id(docs)
    assert li.filter(F.col("lang_guess") == "en").count() > 0
    q = quality_score(docs).collect()
    assert all(0.0 <= r["quality"] <= 1.0 for r in q)


def test_tfidf_top_terms_hand_computed(spark):
    """Tiny corpus with hand-computed TF-IDF values (natural log)."""
    import math

    from jsonld_rs_spark.ops.text import tfidf_top_terms

    corpus = spark.createDataFrame(
        [
            (1, "apple banana apple", "en", "s", 0),
            (2, "banana cherry", "en", "s", 0),
            (3, "cherry cherry date", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {
        (r["doc_id"], r["word"]): (r["tfidf"], r["rank"])
        for r in tfidf_top_terms(corpus, k=2).collect()
    }
    ln3, ln15 = math.log(3.0), math.log(1.5)
    assert rows[(1, "apple")] == (round(2 * ln3, 6), 1)
    assert rows[(1, "banana")] == (round(ln15, 6), 2)
    assert rows[(3, "date")] == (round(ln3, 6), 1)  # rare beats frequent
    assert rows[(3, "cherry")] == (round(2 * ln15, 6), 2)
    assert len(rows) == 6  # k=2 per doc


def test_stage_breakdown_matches_pipeline_chain(sf_dir):
    """bench.stage_breakdown hand-inlines doc_to_quad_rows' stage sequence
    to time the seams; pin the two together by triple count over a shared
    sample so a pipeline-stage change the copy misses fails here instead
    of silently skewing the published stage shares."""
    import sys

    sys.path.insert(0, ".")
    import bench
    from jsonld_rs_spark.pipeline.context_store import BUILTIN_CONTEXTS
    from jsonld_rs_spark.pipeline.synth import synthesize_rows
    from jsonld_rs_spark.pipeline.triples import doc_to_quad_rows

    import pandas as pd

    n = 50
    bd = bench.stage_breakdown(sf_dir, n_docs=n)
    assert abs(sum(bd[k] for k in ("parse_blocks", "expand", "to_rdf", "canonicalize")) - 1.0) < 0.01

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet").head(n)
    want = 0
    for d in docs.itertuples():
        crawls = list(synthesize_rows(int(d.doc_id), d.text, d.lang, d.source))
        latest = max(crawls, key=lambda r: r["warc_ts"])
        want += len(doc_to_quad_rows(latest["url"], latest["html"], BUILTIN_CONTEXTS))
    assert bd["n_triples"] == want


def test_multimodal_plumbing(docs):
    media = synthesize_media(docs)
    feats = extract_features(media).collect()
    assert len(feats) == docs.count()
    for f in feats[:20]:
        assert f["width"] > 0 and f["height"] > 0
        assert (f["n_frames"] == 1) == (f["kind"] == "image")
        assert len(f["sha256"]) == 64


def test_decode_stub_strict_raises():
    with pytest.raises(NotImplementedError):
        decode_stub(b"bytes", "image", strict=True)


def test_decode_media_probe_selects_stub_here():
    """Capability probe: without Pillow decode_media must select the
    deterministic stub (and equal it bit-for-bit). On a Pillow-equipped
    environment the real-dimension contract is asserted instead (see
    test_decode_media_real_branch_on_handcrafted_png)."""
    from jsonld_rs_spark.ops.multimodal import _pil_module, decode_media

    if _pil_module() is not None:
        pytest.skip("Pillow present: real-decode branch covered by PNG test")
    for kind in ("image", "audio", "video"):
        assert decode_media(b"payload bytes", kind) == decode_stub(
            b"payload bytes", kind
        )


def _make_png(width: int, height: int, rgb=(200, 30, 30)) -> bytes:
    """Hand-crafted minimal valid PNG (8-bit RGB, no interlace), authored
    with stdlib zlib only — no imaging library needed to construct it
    (VERDICT r3 #6). Layout per the public PNG spec: signature, IHDR,
    one IDAT of filter-0 scanlines, IEND, each chunk CRC32-stamped."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(rgb) * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_handcrafted_png_is_wellformed():
    """Structural self-check of the PNG author: signature, IHDR dims, chunk
    CRCs, and a decompressible IDAT of exactly height·(1+3·width) bytes."""
    import struct
    import zlib

    png = _make_png(5, 3)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    assert png[12:16] == b"IHDR"
    w, h = struct.unpack(">II", png[16:24])
    assert (w, h) == (5, 3)
    # walk chunks, verifying every CRC
    off = 8
    kinds = []
    while off < len(png):
        (length,) = struct.unpack(">I", png[off : off + 4])
        typ = png[off + 4 : off + 8]
        data = png[off + 8 : off + 8 + length]
        (crc,) = struct.unpack(">I", png[off + 8 + length : off + 12 + length])
        assert crc == zlib.crc32(typ + data) & 0xFFFFFFFF
        kinds.append(typ)
        if typ == b"IDAT":
            assert len(zlib.decompress(data)) == 3 * (1 + 3 * 5)
        off += 12 + length
    assert kinds == [b"IHDR", b"IDAT", b"IEND"]


def test_decode_media_real_branch_on_handcrafted_png():
    """The probe's TRUE branch, runnable anywhere (VERDICT r3 #6): with real
    Pillow, decode_media must return the PNG's actual dimensions; without
    it, a minimal PIL-shaped codec (open → context manager with
    width/height, parsing the hand-crafted PNG's IHDR) is injected through
    the probe seam so the Pillow code path — BytesIO, context manager,
    attribute access, per-item fallback on an undecodable payload —
    executes in this container too."""
    from jsonld_rs_spark.ops import multimodal as mm

    png = _make_png(7, 4)
    if mm._pil_module() is not None:
        # Pillow-equipped environment: the real codec must agree with IHDR
        assert mm.decode_media(png, "image") == (7, 4, 1)
        return

    import struct

    class _FakeImageModule:
        @staticmethod
        def open(fp):
            data = fp.read()
            if data[:8] != b"\x89PNG\r\n\x1a\n" or data[12:16] != b"IHDR":
                raise ValueError("not a PNG")
            w, h = struct.unpack(">II", data[16:24])

            class _Im:
                width, height = w, h

                def __enter__(self):
                    return self

                def __exit__(self, *exc):
                    return False

            return _Im()

    orig = mm._pil_module
    mm._pil_module = lambda: _FakeImageModule
    try:
        assert mm.decode_media(png, "image") == (7, 4, 1)
        # undecodable payload under a working codec → per-item stub
        # fallback, never a partition failure
        junk = b"definitely not an image"
        assert mm.decode_media(junk, "image") == decode_stub(junk, "image")
        # r6 semantics: decoding is CONTENT-sniffed, so a real PNG payload
        # decodes to its true dimensions whatever the declared kind says
        # (before r6 the declared kind gated the codec and this fell back
        # to the stub)
        assert mm.decode_media(png, "audio") == (7, 4, 1)
        # a PNG the stdlib decoder rejects (corrupted CRC) still reaches
        # the Pillow-seam codec — the capability probe keeps covering
        # formats/shapes the stdlib decoder cannot handle
        broken = bytearray(png)
        broken[20] ^= 0xFF  # inside the IHDR body: CRC check now fails
        fake_dims = mm.decode_media(bytes(broken), "image")
        assert fake_dims[2] == 1 and fake_dims[0] == struct.unpack(
            ">I", bytes(broken)[16:20]
        )[0]
    finally:
        mm._pil_module = orig


def test_minhash_bucket_cap_prunes_degenerate_buckets(spark, docs):
    from jsonld_rs_spark.ops.dedup import minhash_dup_pairs

    uncapped = minhash_dup_pairs(docs).count()
    capped = minhash_dup_pairs(docs, max_bucket=20).count()
    assert capped < uncapped  # hot buckets dominate this corpus
    # capped pairs are a subset of uncapped pairs
    extra = minhash_dup_pairs(docs, max_bucket=20).exceptAll(
        minhash_dup_pairs(docs)
    )
    assert extra.count() == 0


def test_shingles_survive_short_docs(spark):
    short = spark.createDataFrame(
        [(1, "hello", "en", "s", 0), (2, "", "en", "s", 0), (3, "two words", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from jsonld_rs_spark.ops.dedup import minhash_signatures

    rows = {r["doc_id"]: r for r in minhash_signatures(short).collect()}
    assert len(rows) == 3  # no ANSI element_at crash
    assert rows[1]["sig0"] is not None


def _py_shingles(text, k):
    """Reference k-window: split on " ", join k consecutive words; fewer
    than k words (null text counts as "") gives one shingle of them all."""
    words = (text or "").split(" ")
    if len(words) <= k:
        return [" ".join(words)]
    return [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]


@pytest.mark.parametrize("k", [1, 2, 3, 5, 8])
def test_shingles_match_python_windows(spark, k):
    import random

    from jsonld_rs_spark.ops.dedup import _shingles

    rng = random.Random(k)
    vocab = ["a", "bb", "ccc", "the", "dataé", "", "x\ty", "數據"]
    texts = [None, "", " ", "  ", "one", "two words", "a  b", " lead",
             "trail ", " both  ends ", " ".join(f"w{i}" for i in range(12))]
    texts += [" ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25)))
              for _ in range(200)]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    got = {r["id"]: r["sh"] for r in df.select("id", _shingles(k=k).alias("sh")).collect()}
    assert got == {i: _py_shingles(t, k) for i, t in enumerate(texts)}


def test_shingle_lambda_does_not_resplit_text(spark):
    """The shingle lambda must only join its own struct fields: a split()
    inside the lambda body re-splits the document once per shingle
    (Spark does no subexpression elimination across the lambda boundary),
    which made shingling O(k·n²) per document."""
    from jsonld_rs_spark.ops.dedup import _shingles

    df = spark.createDataFrame([(1, "a b c")], "id long, text string")
    plan = df.select(_shingles(k=3).alias("sh"))._jdf.queryExecution().optimizedPlan().toString()
    # the expression has one lambda; what follows its start is the lambda
    # body, its arguments and the plan's child (a scan)
    _, found, body_and_rest = plan.partition("lambdafunction(")
    assert found and "split(" not in body_and_rest, plan


def test_ngram_jaccard_verify_runs_in_parallel(spark, docs):
    """The verify stage (token joins + array_intersect) runs in more than
    one task — the two-long candidate-pair table used to be coalesced to
    one partition by AQE — and its pairs and scores equal the exact
    Jaccard over the MinHash candidates recomputed in Python."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    base = docs.limit(3).collect()
    edited = [
        (int(r["doc_id"]) + 100000, r["text"] + " tail", r["lang"], r["source"], 0)
        for r in base
    ]
    corpus = docs.unionByName(spark.createDataFrame(
        edited, "doc_id long, text string, lang string, source string, n_chars long"))
    sc = spark.sparkContext
    sc.setJobGroup("ngram_verify_tasks", "ngram_jaccard_pairs verify")
    try:
        got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
               for r in ngram_jaccard_pairs(corpus, threshold=0.0).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    last_job = max(tracker.getJobIdsForGroup("ngram_verify_tasks"))
    verify_stage = tracker.getStageInfo(max(tracker.getJobInfo(last_job).stageIds))
    assert verify_stage.numTasks > 1

    def tokens(text):
        return {int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                for s in _py_shingles(text, 2)}

    toks = {int(r["doc_id"]): tokens(r["text"])
            for r in corpus.select("doc_id", "text").collect()}
    want = {}
    for r in minhash_dup_pairs(corpus).collect():
        a, b = toks[r["doc_a"]], toks[r["doc_b"]]
        # Spark rounds the double's shortest decimal form HALF_UP
        raw = Decimal(repr(len(a & b) / len(a | b)))
        want[(r["doc_a"], r["doc_b"])] = float(raw.quantize(Decimal("1e-6"), ROUND_HALF_UP))
    assert got == want and len(got) > 3


def test_spread_refuses_unprobed_wide_plans(spark):
    """Regression for the AQE probe trap (VERDICT r1 #9): spread() must not
    probe partition counts above a shuffle; persisted or explicitly-sized
    inputs are the two sanctioned paths."""
    import pytest as _pytest

    from jsonld_rs_spark.util import spread

    scan = spark.range(100).toDF("doc_id")
    assert spread(scan) is not None  # scan-rooted: probe allowed

    wide = scan.groupBy("doc_id").count()
    with _pytest.raises(ValueError, match="shuffle-introducing"):
        spread(wide)

    # explicit count: no probe, no raise
    assert spread(wide, expected_partitions=8) is not None

    # materialized inputs are safe to probe
    ck = wide.localCheckpoint()
    assert spread(ck) is not None
    cached = wide.cache()
    try:
        cached.count()
        assert spread(cached.select("doc_id")) is not None
    finally:
        cached.unpersist()


def test_minhash_degenerate_corpus_bounded(spark):
    """1k identical docs: the production default must NOT emit the O(n²)
    pair explosion; the excluded buckets land in the side table instead."""
    from jsonld_rs_spark.ops.dedup import minhash_degenerate_buckets, minhash_dup_pairs

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit("same boilerplate text here").alias("text")
    )
    pairs = minhash_dup_pairs(docs, max_bucket=100)  # all 4 buckets degenerate
    assert pairs.count() == 0
    side = minhash_degenerate_buckets(docs, max_bucket=100).collect()
    assert len(side) == 4 and all(r["n_docs"] == 1000 for r in side)
    # uncapped twin (oracle semantics) would have been ~500k pairs — prove
    # the cap is what bounds it, on a slice small enough to run
    small = docs.filter(F.col("doc_id") < 60)
    assert minhash_dup_pairs(small, max_bucket=0).count() == 60 * 59 // 2


def test_embedding_lsh_degenerate_cluster_bounded(spark):
    """1k-member near-identical embedding cluster — the LSH tier's own
    target workload (VERDICT r2 #1): the production cap must keep the pair
    count bounded (the cluster's buckets are excluded, not exploded into
    O(10⁶) pairs in one task) and the excluded buckets must land in the
    side table. Normal twins outside the cluster still match."""
    import numpy as np

    from jsonld_rs_spark.ops.dedup import (
        embedding_degenerate_buckets,
        embedding_near_dup,
    )

    rng = np.random.default_rng(3)
    base = rng.normal(size=64)
    rows = [(i, [float(x) for x in base], 0) for i in range(1000)]
    # a distinct twin pair far from the cluster
    other = rng.normal(size=64)
    rows.append((100000, [float(x) for x in other], 1))
    rows.append((100001, [float(x) for x in other * 1.001], 1))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    pairs = embedding_near_dup(emb, threshold=0.999, max_bucket=100).collect()
    found = {(r["vec_a"], r["vec_b"]) for r in pairs}
    # cluster pairs excluded (≤ cross pairs possible), twin pair survives
    assert (100000, 100001) in found
    assert len(found) < 1000  # not the ~500k uncapped explosion
    side = embedding_degenerate_buckets(emb, max_bucket=100).collect()
    assert len(side) >= 4  # the cluster saturates one bucket per table
    assert all(r["n_vecs"] >= 1000 for r in side)


def test_minhash_uncapped_selfjoin_matches_capped(spark, docs):
    """max_bucket=0 (memory-safe self-join formulation) and a never-binding
    cap (collect_list formulation) must produce the identical pair set."""
    # filter, not limit: GlobalLimit is a wide node spread() refuses to probe
    small = docs.filter(F.col("doc_id") < 80)
    a = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_dup_pairs(small, max_bucket=0).collect()
    }
    b = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_dup_pairs(small, max_bucket=10**9).collect()
    }
    assert a == b


def test_dup_clusters_matches_union_find(spark):
    """dup_clusters (pairs → connected components → min-id representative)
    vs a driver-side union-find golden on planted duplicate groups."""
    from jsonld_rs_spark.ops.dedup import dup_clusters, minhash_dup_pairs

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine ten",
        "lorem ipsum dolor sit amet consectetur adipiscing elit",
    ]
    rows = []
    for g, t in enumerate(texts):
        for i in range(5):  # 5 identical copies per group
            rows.append((g * 100 + i, t, "en", "s", 0))
    rows.append((900, "a completely unrelated singleton document body", "en", "s", 0))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )

    got = {
        r["doc_id"]: r["representative"] for r in dup_clusters(docs).collect()
    }

    # union-find golden over the same candidate pairs
    parent = {r[0]: r[0] for r in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for p in minhash_dup_pairs(docs).collect():
        ra, rb = find(p["doc_a"]), find(p["doc_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    golden = {d: find(d) for d in parent}
    assert got == golden
    assert got[900] == 900  # singleton is its own representative
    assert got[104] == 100  # min-id representative within a group


def test_corpus_filter_keeps_representatives_only(spark, docs):
    """The corpus endpoint: planted verified near-dup loses to its
    representative; kept docs are language-consistent and quality-floored."""
    from jsonld_rs_spark.ops.corpus import corpus_filter
    from jsonld_rs_spark.ops.text import lang_id, quality_score

    base = docs.limit(1).collect()[0]
    dup = spark.createDataFrame(
        [(int(base["doc_id"]) + 100000, base["text"] + " tail", base["lang"],
          base["source"], 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    corpus = docs.unionByName(dup)
    kept = {r["doc_id"] for r in corpus_filter(corpus).collect()}
    # the planted near-dup (higher id, jaccard ~1) must lose to the original
    assert int(base["doc_id"]) + 100000 not in kept
    # every kept doc satisfies both scalar filters
    li = {r["doc_id"]: r["lang_guess"] for r in lang_id(corpus).collect()}
    ql = {r["doc_id"]: r["quality"] for r in quality_score(corpus).collect()}
    langs = {r["doc_id"]: r["lang"] for r in corpus.select("doc_id", "lang").collect()}
    for d in kept:
        assert li[d] == langs[d] and ql[d] >= 0.3
    assert kept  # non-trivial kept set on the sandbox corpus


def test_redact_pii_planted(spark):
    """Planted PII: emails and phone runs masked with counts; an email's
    digits never double-count as a phone (emails redact first)."""
    from jsonld_rs_spark.ops.text import redact_pii

    rows = [
        (1, "contact a.b+spam@mail.example or c@d.co today", "en", "s", 0),
        (2, "call +1 (201) 555-0123 or 0044 20 7946 0958 now", "en", "s", 0),
        (3, "user12345@digits.example has no phone", "en", "s", 0),
        (4, "nothing sensitive here", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert got[1]["n_emails"] == 2 and got[1]["n_phones"] == 0
    assert "[EMAIL]" in got[1]["redacted"] and "@" not in got[1]["redacted"]
    assert got[2]["n_phones"] == 2 and got[2]["n_emails"] == 0
    assert "555" not in got[2]["redacted"]
    # the digits inside the email must not be counted as a phone
    assert got[3]["n_emails"] == 1 and got[3]["n_phones"] == 0
    assert got[4]["redacted"] == rows[3][1]
    assert got[4]["n_emails"] == 0 and got[4]["n_phones"] == 0


def test_contamination_pairs_planted(spark, docs):
    """A planted eval doc copying a train doc's text must be flagged; a
    vocabulary-disjoint eval doc must not; the hot-gram cap removes
    ubiquitous grams from evidence."""
    from jsonld_rs_spark.ops.decontaminate import contamination_pairs

    train = docs.limit(20)
    base = train.limit(1).collect()[0]
    eval_rows = [
        (900001, base["text"] + " trailing extra words here", base["lang"],
         "evalset", 0),
        (900002, "zqx wvu tsr qpo nml kji hgf edc ba", "en", "evalset", 0),
    ]
    ev = spark.createDataFrame(
        eval_rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        (r["train_id"], r["eval_id"]): r["n_shared"]
        for r in contamination_pairs(train, ev).collect()
    }
    assert (int(base["doc_id"]), 900001) in got
    assert got[(int(base["doc_id"]), 900001)] >= 2
    assert not any(e == 900002 for _, e in got)

    # df_cap=1: every gram in >1 train docs is excluded — the planted copy
    # still matches via grams unique to its source doc
    capped = contamination_pairs(train, ev, df_cap=1).collect()
    assert all(r["eval_id"] == 900001 for r in capped)


def test_stratified_sample_invariants(spark, docs):
    """Deterministic k-per-stratum sample: ≤k rows per (lang, source),
    ranks dense from 1, identical across two runs (no RNG state), and the
    selected ids are exactly the k smallest md5 hashes per stratum."""
    import hashlib

    from jsonld_rs_spark.ops.sampling import stratified_sample

    k = 3
    rows = stratified_sample(docs, k_per_stratum=k).collect()
    rows2 = stratified_sample(docs, k_per_stratum=k).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))

    by_stratum = {}
    for r in rows:
        by_stratum.setdefault((r["lang"], r["source"]), []).append(r)
    universe = {}
    for r in docs.select("doc_id", "lang", "source").collect():
        universe.setdefault((r["lang"], r["source"]), []).append(int(r["doc_id"]))
    for stratum, members in by_stratum.items():
        ranks = sorted(m["sample_rank"] for m in members)
        assert ranks == list(range(1, len(members) + 1))
        assert len(members) == min(k, len(universe[stratum]))
        want = sorted(
            universe[stratum],
            key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d),
        )[: len(members)]
        assert sorted(m["doc_id"] for m in members) == sorted(want)


def test_token_shards_packing_rule(spark, docs):
    """shard_id must equal floor(exclusive-prefix-tokens / budget) within
    each source in doc_id order — recomputed independently in Python."""
    from jsonld_rs_spark.ops.sampling import shard_by_token_budget

    budget = 500
    rows = shard_by_token_budget(docs, budget_tokens=budget).collect()
    by_source = {}
    for r in sorted(rows, key=lambda r: (r["source"], r["doc_id"])):
        by_source.setdefault(r["source"], []).append(r)
    assert sum(len(v) for v in by_source.values()) == docs.count()
    for source, members in by_source.items():
        running = 0
        prev_shard = 0
        for m in members:
            assert m["shard_id"] == running // budget, (source, m["doc_id"])
            # shards are contiguous and non-decreasing in pack order
            assert prev_shard <= m["shard_id"] <= prev_shard + max(
                1, m["n_tokens"] // budget + 1
            )
            prev_shard = m["shard_id"]
            running += m["n_tokens"]


def test_dup_clusters_invariants(spark, docs):
    """Structural invariants on the real corpus: representative is the
    component min (rep ≤ doc_id), the map is idempotent (rep of a rep is
    itself), and it is total (one row per doc)."""
    from jsonld_rs_spark.ops.dedup import dup_clusters

    rows = dup_clusters(docs).collect()
    rep = {r["doc_id"]: r["representative"] for r in rows}
    assert len(rep) == docs.count()
    assert all(v <= k for k, v in rep.items())
    assert all(rep[v] == v for v in rep.values())


def test_ivf_topk_recall_floor_on_clustered_corpus(spark):
    """IVF with derived defaults (⌈√n⌉ centroids, ⌈√n_centroids⌉ probed —
    320 vectors → 18 cells, 5 probed) on clustered data: recall@10 must be
    high (the probed cells contain the query's cluster)."""
    import numpy as np

    from jsonld_rs_spark.ops.similarity import ivf_topk

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 64))
    rows = []
    vid = 0
    for c in range(8):
        for _ in range(40):
            v = centers[c] + rng.normal(scale=0.15, size=64)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    exact = brute_force_topk(emb, n_queries=5, k=10).collect()
    approx = ivf_topk(emb, n_queries=5, k=10).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(approx_sets.get(q, set()) & hits) / len(hits)
        for q, hits in exact_sets.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_ivf_recall_holds_across_corpus_sizes(spark):
    """The encoded scale rules (n_centroids ≈ √n, probe ≈ √centroids) must
    hold recall as the corpus grows — default parameters, two sizes, no
    sandbox constants touched (VERDICT r2 #6)."""
    import numpy as np

    from jsonld_rs_spark.ops.similarity import ivf_topk

    for n_total, n_clusters, seed in ((500, 10, 13), (5000, 10, 17)):
        rng = np.random.default_rng(seed)
        centers = rng.normal(size=(n_clusters, 64))
        per = n_total // n_clusters
        rows = []
        vid = 0
        for c in range(n_clusters):
            for _ in range(per):
                v = centers[c] + rng.normal(scale=0.15, size=64)
                rows.append((vid, [float(x) for x in v], c))
                vid += 1
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        exact = brute_force_topk(emb, n_queries=5, k=10).collect()
        approx = ivf_topk(emb, n_queries=5, k=10).collect()
        exact_sets, approx_sets = {}, {}
        for r in exact:
            exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
        for r in approx:
            approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
        recalls = [
            len(approx_sets.get(q, set()) & hits) / len(hits)
            for q, hits in exact_sets.items()
        ]
        assert sum(recalls) / len(recalls) >= 0.6, (n_total, recalls)


def test_frame_sample_and_resize_plumbing(docs):
    """Fan-out matches the decoded n_frames; resize never exceeds max_dim
    and payloads shrink proportionally."""
    from jsonld_rs_spark.ops.multimodal import (
        decode_stub,
        frame_sample,
        resize_media,
        synthesize_media,
    )

    media = synthesize_media(docs.filter(F.col("doc_id") < 30))
    frames = frame_sample(media, every_n=8).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    src = {r["media_id"]: (r["kind"], bytes(r["payload"])) for r in media.collect()}
    for mid, idxs in by_media.items():
        kind, payload = src[mid]
        _w, _h, n = decode_stub(payload, kind)
        assert sorted(idxs) == list(range(0, n, 8))
    resized = resize_media(media, max_dim=128).collect()
    assert len(resized) == 30
    for r in resized:
        assert max(r["width"], r["height"]) <= 128
        assert 0 < len(bytes(r["payload"])) <= len(src[r["media_id"]][1])


def test_repetition_signals_hand_computed(spark):
    """Gopher-style repetition columns (r6): expected values hand-derived.
    doc 1: 'a b a a c' -> top word 'a' 3/5; 2-grams [a b, b a, a a, a c]
    all distinct -> 1/4; single line -> dup_line_frac 0.
    doc 2: two identical lines + one distinct -> 1 - 2/3; its words
    'x y\\nx y\\nz' split on ' ' -> ['x', 'y\\nx', 'y\\nz'] all distinct.
    doc 3: 'w' alone -> 1-word shingle rule gives ['w'] -> 1/1."""
    from jsonld_rs_spark.ops.text import lang_quality

    docs = spark.createDataFrame(
        [(1, "en", "a b a a c"), (2, "en", "x y\nx y\nz"), (3, "en", "w")],
        "doc_id long, lang string, text string",
    )
    rows = {r["doc_id"]: r for r in lang_quality(docs).collect()}
    assert rows[1]["top_word_frac"] == 0.6
    assert rows[1]["top_2gram_frac"] == 0.25
    assert rows[1]["dup_line_frac"] == 0.0
    assert rows[2]["dup_line_frac"] == round(1 - 2 / 3, 6)
    assert rows[3]["top_word_frac"] == 1.0
    assert rows[3]["top_2gram_frac"] == 1.0


def test_repetition_signals_match_python_recount(spark, sf_dir):
    """Cross-check the fold-based most-frequent-count against a plain
    Python Counter over the real corpus slice."""
    from collections import Counter

    from jsonld_rs_spark.ops.text import lang_quality

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {r["doc_id"]: r for r in lang_quality(docs).collect()}
    for d in docs.limit(50).collect():
        words = d["text"].split(" ")
        grams = (
            [" ".join(words[i:i + 2]) for i in range(len(words) - 1)]
            if len(words) > 1 else [words[0]]
        )
        r = got[d["doc_id"]]
        assert r["top_word_frac"] == round(
            Counter(words).most_common(1)[0][1] / len(words), 6
        ), d["doc_id"]
        assert r["top_2gram_frac"] == round(
            Counter(grams).most_common(1)[0][1] / len(grams), 6
        ), d["doc_id"]


def test_minhash_incremental_matches_full_recompute(spark, sf_dir):
    """Incremental dedup (r6): new-batch-vs-corpus candidate pairs from the
    stored signature table must equal the cross-partition slice of a full
    recompute over the union — signatures are a pure per-document function,
    so the incremental join loses nothing."""
    from jsonld_rs_spark.ops.dedup import (
        minhash_dup_pairs,
        minhash_incremental_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    corpus_sigs = minhash_signatures(corpus).localCheckpoint()
    got = {
        (r["new_doc_id"], r["corpus_doc_id"])
        for r in minhash_incremental_pairs(batch, corpus_sigs).collect()
    }

    full = minhash_dup_pairs(docs, max_bucket=0).collect()
    want = set()
    for r in full:
        a, b = r["doc_a"], r["doc_b"]
        if (a % 5 == 0) != (b % 5 == 0):  # exactly one side in the batch
            new_id, corp_id = (a, b) if a % 5 == 0 else (b, a)
            want.add((new_id, corp_id))
    assert got == want and len(got) > 0


def test_minhash_incremental_caps_corpus_buckets(spark):
    """A boilerplate signature shared by an over-cap corpus slice must be
    excluded (same guardrail as minhash_dup_pairs), not fan out."""
    from jsonld_rs_spark.ops.dedup import (
        minhash_incremental_pairs,
        minhash_signatures,
    )

    boiler = [(i, "exact same boilerplate text") for i in range(12)]
    uniq = [(100 + i, f"unique doc number {i} talks about topic {i}") for i in range(3)]
    corpus = spark.createDataFrame(boiler + uniq, "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1000, "exact same boilerplate text"),
         (1001, "unique doc number 1 talks about topic 1")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(corpus).localCheckpoint()
    pairs = {
        (r["new_doc_id"], r["corpus_doc_id"])
        for r in minhash_incremental_pairs(batch, sigs, max_bucket=10).collect()
    }
    # the boilerplate bucket (12 > 10) is capped out; the unique match stays
    assert (1001, 101) in pairs
    assert not any(c < 100 for _, c in pairs)
    uncapped = {
        (r["new_doc_id"], r["corpus_doc_id"])
        for r in minhash_incremental_pairs(batch, sigs, max_bucket=0).collect()
    }
    assert sum(1 for _, c in uncapped if c < 100) == 12


def test_minhash_incremental_never_self_pairs(spark):
    """Review r6: a re-crawled doc keeping its stable id exists on both
    sides; its bands trivially match its own stored signatures and must not
    emit an (X, X) pair that a keep-one policy would treat as a dup."""
    from jsonld_rs_spark.ops.dedup import minhash_incremental_pairs, minhash_signatures

    docs = spark.createDataFrame(
        [(1, "stable doc kept across crawls"), (2, "another unrelated text")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs).localCheckpoint()
    pairs = minhash_incremental_pairs(docs, sigs).collect()
    assert all(r["new_doc_id"] != r["corpus_doc_id"] for r in pairs)


def test_repetition_signals_randomized_recount(spark):
    """Randomized cross-check of the fold-based repetition columns against
    plain Python Counters — adversarial shapes (heavy repeats, single
    words, newlines, empty-ish tokens) in ONE batched job."""
    import random
    from collections import Counter

    from jsonld_rs_spark.ops.text import lang_quality

    rng = random.Random(23)
    vocab = ["a", "bb", "ccc", "the", "x", "zz"]
    rows = []
    for i in range(60):
        n = rng.randint(1, 40)
        words = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.3:  # inject newline-joined lines
            text = "\n".join(
                " ".join(words[j:j + 5]) for j in range(0, len(words), 5)
            )
        else:
            text = " ".join(words)
        rows.append((i, "en", text))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: r for r in lang_quality(docs).collect()}
    for doc_id, _, text in rows:
        words = text.split(" ")
        grams = (
            [" ".join(words[j:j + 2]) for j in range(len(words) - 1)]
            if len(words) > 1 else [words[0]]
        )
        lines = text.split("\n")
        r = got[doc_id]
        assert r["top_word_frac"] == round(
            Counter(words).most_common(1)[0][1] / len(words), 6), (doc_id, text)
        assert r["top_2gram_frac"] == round(
            Counter(grams).most_common(1)[0][1] / len(grams), 6), (doc_id, text)
        assert r["dup_line_frac"] == round(
            1 - len(set(lines)) / len(lines), 6), (doc_id, text)


# --------------------------------------------------------------------- #
# r6: REAL stdlib codecs (PNG via zlib, WAV via wave/audioop)
# --------------------------------------------------------------------- #


def _test_pixels(w, h, ch, seed=5):
    rows = []
    for y in range(h):
        line = bytearray()
        for x in range(w):
            for c in range(ch):
                line.append((seed + 31 * x + 17 * y + 7 * c) % 256)
        rows.append(line)
    return rows


def _png_paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)


def _png_forward_filter(rows, w, ch, ftypes):
    """Apply the PNG spec's forward filters (one type per scanline) to raw
    pixel rows — the reference implementation both filter-coverage tests
    assert the decoder against (review r6: previously duplicated inline)."""
    stride = w * ch
    raw = b""
    prev = bytearray(stride)
    for y, line in enumerate(rows):
        ftype = ftypes[y]
        filt = bytearray()
        for i in range(stride):
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            v = line[i]
            if ftype == 1:
                v = (v - a) & 0xFF
            elif ftype == 2:
                v = (v - b) & 0xFF
            elif ftype == 3:
                v = (v - (a + b) // 2) & 0xFF
            elif ftype == 4:
                v = (v - _png_paeth(a, b, c)) & 0xFF
            filt.append(v)
        raw += bytes([ftype]) + bytes(filt)
        prev = line
    return raw


def _png_chunk(ctype, body):
    import zlib

    return (len(body).to_bytes(4, "big") + ctype + body
            + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big"))


def _build_png(w, h, ch, raw):
    import zlib

    from jsonld_rs_spark.ops.multimodal import _PNG_MAGIC

    color = {1: 0, 3: 2, 4: 6}[ch]
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, color, 0, 0, 0])
    return (_PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b""))


def test_png_roundtrip_all_color_types():
    from jsonld_rs_spark.ops.multimodal import decode_png, encode_png

    for w, h, ch in ((9, 7, 3), (5, 4, 4), (3, 3, 1), (1, 1, 3)):
        rows = _test_pixels(w, h, ch)
        data = encode_png(w, h, ch, rows)
        w2, h2, ch2, rows2 = decode_png(data)
        assert (w2, h2, ch2) == (w, h, ch)
        assert [bytes(r) for r in rows2] == [bytes(r) for r in rows]


def test_png_decoder_all_filter_types():
    """The encoder writes filter 0 only; the decoder must unfilter every
    spec filter (Sub/Up/Average/Paeth). Build each filtered stream via the
    shared forward-filter reference and assert decode recovers the
    pixels exactly."""
    from jsonld_rs_spark.ops.multimodal import decode_png

    w, h, ch = 6, 5, 3
    rows = _test_pixels(w, h, ch, seed=11)
    for ftype in (0, 1, 2, 3, 4):
        raw = _png_forward_filter(rows, w, ch, [ftype] * h)
        png = _build_png(w, h, ch, raw)
        w2, h2, ch2, rows2 = decode_png(png)
        assert (w2, h2, ch2) == (w, h, ch), ftype
        assert [bytes(r) for r in rows2] == [bytes(r) for r in rows], ftype


def test_png_decoder_rejects_corruption_and_unsupported():
    import pytest as _pytest

    from jsonld_rs_spark.ops.multimodal import decode_png, encode_png

    data = bytearray(encode_png(4, 3, 3, _test_pixels(4, 3, 3)))
    data[40] ^= 0xFF  # corrupt inside a chunk body -> CRC must catch it
    with _pytest.raises(ValueError):
        decode_png(bytes(data))
    with _pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_resize_png_nearest_neighbor():
    from jsonld_rs_spark.ops.multimodal import decode_png, encode_png, resize_png

    w, h, ch = 8, 6, 3
    rows = _test_pixels(w, h, ch, seed=3)
    data = encode_png(w, h, ch, rows)
    new_data, nw, nh = resize_png(data, max_dim=4)
    assert (nw, nh) == (4, 3)
    w2, h2, ch2, rows2 = decode_png(new_data)
    assert (w2, h2, ch2) == (4, 3, 3)
    for y in range(nh):
        sy = min(h - 1, int(y * h / nh))
        for x in range(nw):
            sx = min(w - 1, int(x * w / nw))
            assert rows2[y][x * ch:(x + 1) * ch] == rows[sy][sx * ch:(sx + 1) * ch]
    # an image already inside max_dim keeps its dimensions
    same, sw, sh = resize_png(data, max_dim=64)
    assert (sw, sh) == (w, h)


def test_wav_roundtrip_and_rms():
    import math

    from jsonld_rs_spark.ops.multimodal import decode_wav, encode_wav

    samples = [((i * 37) % 2000) - 1000 for i in range(100)]
    data = encode_wav(samples, framerate=8000)
    n_channels, sampwidth, framerate, n_frames, rms = decode_wav(data)
    assert (n_channels, sampwidth, framerate, n_frames) == (1, 2, 8000, 100)
    expected = int(math.sqrt(sum(s * s for s in samples) / len(samples)))
    assert rms == expected > 0


def test_decode_media_sniffs_real_payloads(spark):
    """decode_media: PNG/WAV payloads hit the REAL decoders; text payloads
    keep the stub (the DuckDB oracle depends on that); the whole path also
    runs distributed through extract_features."""
    from jsonld_rs_spark.ops.multimodal import (
        decode_media,
        encode_png,
        encode_wav,
        extract_features,
    )

    png = encode_png(10, 4, 3, _test_pixels(10, 4, 3))
    wav = encode_wav(range(64))
    assert decode_media(png, "image") == (10, 4, 1)
    assert decode_media(wav, "audio") == (1, 16, 64)  # mono, 16-bit, 64 frames
    stub_dims = decode_media(b"plain text payload", "image")
    assert stub_dims[0] >= 160  # stub formula, unchanged

    media = spark.createDataFrame(
        [(1, "image", bytearray(png), ("image/png", len(png), "u1")),
         (2, "audio", bytearray(wav), ("audio/wav", len(wav), "u2"))],
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string, bytes:long, source_url:string>",
    )
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert (feats[1]["width"], feats[1]["height"], feats[1]["n_frames"]) == (10, 4, 1)
    assert (feats[2]["width"], feats[2]["height"], feats[2]["n_frames"]) == (1, 16, 64)


def test_resize_media_really_resizes_png(spark):
    from jsonld_rs_spark.ops.multimodal import decode_png, encode_png, resize_media

    png = encode_png(16, 8, 3, _test_pixels(16, 8, 3))
    media = spark.createDataFrame(
        [(1, "image", bytearray(png), ("image/png", len(png), "u"))],
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string, bytes:long, source_url:string>",
    )
    row = resize_media(media, max_dim=4).collect()[0]
    assert (row["width"], row["height"]) == (4, 2)
    w, h, ch, _rows = decode_png(bytes(row["payload"]))
    assert (w, h, ch) == (4, 2, 3)


def test_png_decoder_randomized_mixed_filters():
    """Randomized round-trip: random pixels, random channel counts, and a
    RANDOM filter type per scanline (the shape real encoders emit) must all
    decode back to the exact pixels."""
    import random

    from jsonld_rs_spark.ops.multimodal import decode_png

    rng = random.Random(99)
    for _ in range(20):
        ch = rng.choice([1, 3, 4])
        w, h = rng.randint(1, 12), rng.randint(1, 9)
        rows = [bytearray(rng.randrange(256) for _ in range(w * ch)) for _ in range(h)]
        ftypes = [rng.randint(0, 4) for _ in range(h)]
        png = _build_png(w, h, ch, _png_forward_filter(rows, w, ch, ftypes))
        w2, h2, ch2, rows2 = decode_png(png)
        assert (w2, h2, ch2) == (w, h, ch)
        assert [bytes(r) for r in rows2] == [bytes(r) for r in rows]


def test_png_decoder_rejects_bombs():
    """Crawl-scale containment: a hostile PNG must not materialize its
    decompressed payload — neither via a giant declared geometry nor via an
    IDAT that inflates past the declared size (zlib bomb)."""
    import zlib

    import pytest as _pytest

    from jsonld_rs_spark.ops.multimodal import _PNG_MAGIC, decode_png, encode_png

    def chunk(ctype, body):
        return (len(body).to_bytes(4, "big") + ctype + body
                + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big"))

    # giant declared geometry: rejected BEFORE any inflate/allocation
    ihdr = (100_000).to_bytes(4, "big") + (100_000).to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    huge = _PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(b"x")) + chunk(b"IEND", b"")
    with _pytest.raises(ValueError, match="too large"):
        decode_png(huge)

    # small declared geometry, bomb IDAT: 2 MB of zeros compress to ~2 KB
    ihdr2 = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    bomb = _PNG_MAGIC + chunk(b"IHDR", ihdr2) + chunk(
        b"IDAT", zlib.compress(b"\x00" * 2_000_000)) + chunk(b"IEND", b"")
    with _pytest.raises(ValueError, match="IDAT length"):
        decode_png(bomb)

    # a legitimate tiny image still decodes after the guards
    ok = encode_png(2, 2, 3, [bytes(6), bytes(6)])
    assert decode_png(ok)[:2] == (2, 2)


def test_png_interlaced_roundtrip_grid():
    """Adam7 round-trip CONTRACT across the geometry grid (CLAUDE.md codec
    rule): widths/heights 1..9 hit every combination of empty passes (a
    1x1 image has ONE pass with one pixel; 5x3 leaves passes 2 and 3
    empty, etc.), and the de-interlaced pixels must be bit-identical to
    the progressive decode of the same rows."""
    from jsonld_rs_spark.ops.multimodal import decode_png, encode_png

    for ch in (1, 3, 4):
        for w in (1, 2, 3, 4, 5, 7, 8, 9):
            for h in (1, 2, 3, 5, 8, 9):
                rows = _test_pixels(w, h, ch)
                inter = encode_png(w, h, ch, rows, interlace=True)
                w2, h2, ch2, rows2 = decode_png(inter)
                assert (w2, h2, ch2) == (w, h, ch), (w, h, ch)
                assert [bytes(r) for r in rows2] == [bytes(r) for r in rows], (w, h, ch)


def test_png_interlaced_filters_reset_per_pass():
    """Each Adam7 pass filters against its own first line (prev resets to
    zeros) — hand-build an interlaced 2x2 whose single pass lines use the
    Up filter to prove the reset, instead of trusting the encoder's
    filter-0-only output."""
    import zlib

    from jsonld_rs_spark.ops.multimodal import _png_chunk, _PNG_MAGIC, decode_png

    # 2x2 grey: passes 1 (pixel 0,0), 6 (pixel 1,0), 7 (row y=1, 2 px)
    # every line uses filter 2 (Up); with per-pass reset, the first line of
    # EVERY pass adds zero — so values decode verbatim
    raw = bytes([2, 10]) + bytes([2, 20]) + bytes([2, 30, 40])
    ihdr = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([8, 0, 0, 0, 1])
    data = (_PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b""))
    w, h, ch, rows = decode_png(data)
    assert (w, h, ch) == (2, 2, 1)
    assert [bytes(r) for r in rows] == [bytes([10, 20]), bytes([30, 40])]


def test_png_palette_roundtrip_and_trns():
    """Palette encode -> decode expands through the PLTE (and tRNS when
    present: entries past its end are opaque per spec §11.3.2), both
    progressive and interlaced."""
    from jsonld_rs_spark.ops.multimodal import decode_png, encode_png_indexed

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 8, 9)]
    rows = [bytes([0, 1, 2, 3, 0]), bytes([3, 2, 1, 0, 1]), bytes([1, 1, 3, 3, 2])]
    for interlace in (False, True):
        data = encode_png_indexed(5, 3, palette, rows, interlace=interlace)
        w, h, ch, out = decode_png(data)
        assert (w, h, ch) == (5, 3, 3)
        expect = [
            b"".join(bytes(palette[i]) for i in r) for r in rows
        ]
        assert [bytes(r) for r in out] == expect

    # tRNS shorter than the palette: entry 2/3 default to alpha 255
    data = encode_png_indexed(5, 3, palette, rows, trns=[0, 128])
    w, h, ch, out = decode_png(data)
    assert ch == 4
    alpha = {0: 0, 1: 128, 2: 255, 3: 255}
    expect = [
        b"".join(bytes(palette[i]) + bytes([alpha[i]]) for i in r) for r in rows
    ]
    assert [bytes(r) for r in out] == expect


def test_png_palette_and_interlace_hostile():
    """Hostile shapes for the new branches, per-axis-bounds lesson applied:
    bad palettes, out-of-range indices, truncated interlaced IDAT, and
    unknown interlace methods all raise for per-item containment; the
    encoders refuse everything their decoder would reject (codec
    contract)."""
    import zlib

    import pytest as _pytest

    from jsonld_rs_spark.ops.multimodal import (
        _png_chunk,
        _PNG_MAGIC,
        decode_png,
        encode_png,
        encode_png_indexed,
        png_header_dims,
    )

    def build(color, interlace, body_raw, extra=b""):
        ihdr = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes(
            [8, color, 0, 0, interlace]
        )
        return (_PNG_MAGIC + _png_chunk(b"IHDR", ihdr) + extra
                + _png_chunk(b"IDAT", zlib.compress(body_raw))
                + _png_chunk(b"IEND", b""))

    # color 3 without PLTE / empty PLTE / non-multiple-of-3 / oversized
    raw = bytes([0, 0, 0]) + bytes([0, 0, 0])
    with _pytest.raises(ValueError, match="PLTE"):
        decode_png(build(3, 0, raw))
    for plte in (b"", b"\x01\x02", b"\x00" * 771):
        with _pytest.raises(ValueError, match="PLTE"):
            decode_png(build(3, 0, raw, extra=_png_chunk(b"PLTE", plte)))
    # index past the palette end is corrupt data
    bad_idx = bytes([0, 1, 0]) + bytes([0, 1, 0])
    with _pytest.raises(ValueError, match="palette index"):
        decode_png(build(3, 0, bad_idx, extra=_png_chunk(b"PLTE", b"\x01\x02\x03")))
    # tRNS longer than the palette
    with _pytest.raises(ValueError, match="tRNS"):
        decode_png(build(
            3, 0, raw,
            extra=_png_chunk(b"PLTE", b"\x01\x02\x03") + _png_chunk(b"tRNS", b"\x00\x01"),
        ))
    # unknown interlace method
    with _pytest.raises(ValueError, match="unsupported"):
        decode_png(build(0, 2, bytes(6)))
    with _pytest.raises(ValueError, match="unsupported"):
        png_header_dims(build(0, 2, bytes(6)))
    # truncated interlaced IDAT: 2x2 grey needs passes 1+6+7 = 2+2+3 bytes
    with _pytest.raises(ValueError, match="IDAT length"):
        decode_png(build(0, 1, bytes(5)))
    # encoder contract: refuse what the decoder rejects
    with _pytest.raises(ValueError):
        encode_png(0, 0, 3, [])
    with _pytest.raises(ValueError):
        encode_png(2, 2, 3, [bytes(6)])  # geometry mismatch
    with _pytest.raises(ValueError):
        encode_png_indexed(2, 2, [], [bytes(2), bytes(2)])
    with _pytest.raises(ValueError):
        encode_png_indexed(2, 2, [(1, 2, 3)], [bytes([0, 1]), bytes(2)])  # idx 1
    with _pytest.raises(ValueError):
        encode_png_indexed(2, 2, [(1, 2, 3)], [bytes(2), bytes(2)], trns=[0, 0])
    # entry SHAPE (review r7): an RGBA-looking 4-tuple entry must raise —
    # with three such entries the 12-byte PLTE passes the decoder's len%3
    # check and silently re-frames into four WRONG colors
    with _pytest.raises(ValueError, match="exactly"):
        encode_png_indexed(2, 2, [(1, 2, 3, 255)], [bytes(2), bytes(2)])
    with _pytest.raises(ValueError, match="exactly"):
        encode_png_indexed(
            2, 2, [(1, 2, 3, 255)] * 3, [bytes(2), bytes(2)]
        )


def test_png_header_and_media_path_cover_new_shapes():
    """png_header_dims reports real dims for interlaced and palette PNGs
    (the hot metadata path no longer falls back to the stub for them), and
    resize works end-to-end off the expanded decode."""
    from jsonld_rs_spark.ops.multimodal import (
        decode_media,
        encode_png,
        encode_png_indexed,
        png_header_dims,
        resize_png,
    )

    inter = encode_png(9, 5, 3, _test_pixels(9, 5, 3), interlace=True)
    assert png_header_dims(inter) == (9, 5)
    assert decode_media(inter, "image") == (9, 5, 1)

    pal = encode_png_indexed(6, 4, [(9, 9, 9), (1, 2, 3)], [bytes([0, 1] * 3)] * 4)
    assert png_header_dims(pal) == (6, 4)
    assert decode_media(pal, "image") == (6, 4, 1)

    resized, nw, nh = resize_png(pal, max_dim=3)
    assert (nw, nh) == (3, 2)


def test_media_guards_against_hostile_payloads(spark):
    """Review r6, all verified-by-execution attack shapes must be contained:

    * a CRC-valid 0x0 PNG (passed the product-only size guard, then divided
      by zero in resize_media's stub path and killed the Arrow task);
    * width=0xFFFFFF00, height=0 (product 0 → passed the old guard, then
      tried a multi-GB scanline allocation);
    * a 44-byte WAV whose data-chunk header declares ~2^32 frames
      (n_frames overflowed the int32 feature column).
    """
    import struct

    from jsonld_rs_spark.ops import multimodal as mm

    zero = _build_png(0, 0, 3, b"")
    import pytest as _pytest
    with _pytest.raises(ValueError):
        mm.decode_png(zero)
    with _pytest.raises(ValueError):
        mm.png_header_dims(zero)
    # decode_media contains it (stub fallback), and resize_media survives
    dims = mm.decode_media(zero, "image")
    assert dims[0] >= 160  # stub formula
    media = spark.createDataFrame(
        [(1, "image", bytearray(zero), ("image/png", len(zero), "u"))],
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string, bytes:long, source_url:string>",
    )
    out = mm.resize_media(media, max_dim=4).collect()
    assert len(out) == 1  # no ZeroDivisionError task death

    wide = _build_png(0xFFFFFF00, 0, 4, b"")
    with _pytest.raises(ValueError):
        mm.png_header_dims(wide)
    with _pytest.raises(ValueError):
        mm.decode_png(wide)

    # hostile WAV: header claims a huge data chunk on a 44-byte file
    hdr = (b"RIFF" + struct.pack("<I", 36 + 0xFFFFFF00) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
           + b"data" + struct.pack("<I", 0xFFFFFF00))
    n_channels, sampwidth, _rate, n_frames, _rms = mm.decode_wav(hdr, with_rms=False)
    assert n_frames <= len(hdr)  # clamped to what the payload can hold
    assert mm.decode_media(hdr, "audio")[2] <= len(hdr)

    # ADVICE r6: the clamp must bound against the DATA-CHUNK payload, not
    # len(data) — a truncated file with an extra chunk before `data` carries
    # header bytes that are not PCM. 16-bit mono: LIST(10) + fmt + data
    # header + 6 PCM bytes = 3 frames, but len(data)//2 would say more.
    trunc = (b"RIFF" + struct.pack("<I", 60) + b"WAVE"
             + b"LIST" + struct.pack("<I", 10) + b"INFOxxxxxx"
             + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
             + b"data" + struct.pack("<I", 1000)  # claims 500 frames
             + struct.pack("<3h", 100, -100, 50))  # only 3 present
    assert mm._wav_pcm_bytes(trunc) == 6
    _c, _w, _r, n_frames2, rms2 = mm.decode_wav(trunc)
    assert n_frames2 == 3
    assert rms2 > 0  # RMS computed over exactly the present PCM


def test_frame_sample_caps_fanout_on_real_audio(spark):
    """A long real WAV must sample at most max_samples frames instead of
    fanning out per-PCM-frame (review r6: ~1M rows × full-payload hashes
    from one file)."""
    from jsonld_rs_spark.ops.multimodal import encode_wav, frame_sample

    wav = encode_wav(range(10_000))  # 10k frames
    media = spark.createDataFrame(
        [(1, "audio", bytearray(wav), ("audio/wav", len(wav), "u"))],
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string, bytes:long, source_url:string>",
    )
    rows = frame_sample(media, every_n=8, max_samples=64).collect()
    assert 0 < len(rows) <= 64
    # stub-range counts keep the original stride (oracle arithmetic intact)
    text_media = spark.createDataFrame(
        [(2, "video", bytearray(b"plain text payload"), ("x-fake/video", 18, "u"))],
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string, bytes:long, source_url:string>",
    )
    stub_rows = frame_sample(text_media).collect()
    idxs = sorted(r["frame_idx"] for r in stub_rows)
    assert idxs[:2] == [0, 8] if len(idxs) > 1 else idxs == [0]


def _y4m_frames(width, height, n, colorspace="420jpeg"):
    """Deterministic raw planar frames for the given geometry."""
    from jsonld_rs_spark.ops.multimodal import _Y4M_BYTES_PER_PIXEL

    num, den = _Y4M_BYTES_PER_PIXEL[colorspace]
    size = width * height * num // den
    return [bytes((i * 7 + j) % 251 for j in range(size)) for i in range(n)]


def test_y4m_roundtrip_all_colorspaces():
    """encode_y4m -> decode_y4m must return the exact geometry, frame count,
    and byte-identical frame planes for every supported colourspace."""
    from jsonld_rs_spark.ops.multimodal import decode_y4m, encode_y4m

    for cs, (w, h) in [("420jpeg", (8, 6)), ("420", (4, 4)), ("422", (6, 3)),
                       ("444", (5, 3)), ("mono", (7, 5))]:
        frames = _y4m_frames(w, h, 5, cs)
        data = encode_y4m(w, h, frames, fps=(30, 1), colorspace=cs)
        dw, dh, n, fn, fd, dcs, fsize, offs = decode_y4m(data)
        assert (dw, dh, n, fn, fd, dcs) == (w, h, 5, 30, 1, cs)
        assert [data[o:o + fsize] for o in offs] == frames


def test_y4m_truncation_clamps_to_complete_frames():
    """The WAV lesson applied on day one (ADVICE r6): a truncated stream
    reports only the frames physically present — never a partial one."""
    from jsonld_rs_spark.ops.multimodal import decode_y4m, encode_y4m

    frames = _y4m_frames(4, 4, 3)
    data = encode_y4m(4, 4, frames)
    # cut mid-way through the last frame's planes
    cut = decode_y4m(data[:-5])
    assert cut[2] == 2
    # cut mid-way through a FRAME header
    hdr_off = data.index(b"FRAME", len(b"YUV4MPEG2"))
    assert decode_y4m(data[:hdr_off + 3])[2] == 0
    # trailing garbage instead of a FRAME header: clamp, not crash
    assert decode_y4m(data + b"garbage")[2] == 3


def test_y4m_hostile_headers_rejected():
    """Per-axis bounds from day one (the r6 PNG lesson): zero/huge axes,
    runaway headers, bad rates, odd 4:2:0 dims, unknown colourspaces."""
    import pytest

    from jsonld_rs_spark.ops.multimodal import decode_y4m, encode_y4m, y4m_header_meta

    def hdr(params):
        return b"YUV4MPEG2 " + params + b"\nFRAME\n" + b"\x00" * 64

    for bad in [
        b"W0 H4",                 # zero axis
        b"W4 H0",                 # zero axis (product guard alone misses it)
        b"W99999999 H2",          # per-axis bound
        b"W4000000 H4000000",     # product bound
        b"W4 H4 F0:1",            # zero fps numerator
        b"W4 H4 F25:0",           # zero fps denominator
        b"W3 H4",                 # odd width under default C420jpeg
        b"W4 H3",                 # odd height under default C420jpeg
        b"W4 H4 Cyuv9000",        # unknown colourspace
        b"W4 Hx",                 # non-numeric axis
        b"W4",                    # missing H
    ]:
        with pytest.raises(ValueError):
            y4m_header_meta(hdr(bad))
    # unterminated stream header: the \n scan is capped
    with pytest.raises(ValueError):
        y4m_header_meta(b"YUV4MPEG2 W4 H4 " + b"X" * 4096)
    # encoder enforces the same rules
    with pytest.raises(ValueError):
        encode_y4m(0, 4, [])
    with pytest.raises(ValueError):
        encode_y4m(3, 3, _y4m_frames(3, 3, 1, "444"), colorspace="420jpeg")
    with pytest.raises(ValueError):
        encode_y4m(4, 4, [b"\x00" * 7])  # wrong frame size
    # a FRAME header with a runaway parameter line: clamp, not scan-forever
    ok = encode_y4m(4, 4, _y4m_frames(4, 4, 1))
    evil = ok + b"FRAME " + b"Z" * 4096
    assert decode_y4m(evil)[2] == 1


def test_y4m_encoder_never_emits_what_decoder_rejects():
    """Round-trip CONTRACT across the whole geometry grid (review r7: the
    encoder accepted odd-width C422 streams its own decoder rejects — it
    validated 4:2:0 rules but not the C422 even-width rule). For every
    supported colourspace and small geometry, encode_y4m must either raise
    ValueError itself or produce a stream decode_y4m accepts with the same
    geometry."""
    import pytest

    from jsonld_rs_spark.ops.multimodal import decode_y4m, encode_y4m

    # the exact reported repro: odd width under C422 must now raise
    with pytest.raises(ValueError):
        encode_y4m(5, 3, [bytes(30)], colorspace="422")

    from jsonld_rs_spark.ops.multimodal import _Y4M_BYTES_PER_PIXEL

    for cs in _Y4M_BYTES_PER_PIXEL:
        for w in (1, 2, 3, 4, 5):
            for h in (1, 2, 3, 4):
                try:
                    frames = _y4m_frames(w, h, 1, cs)
                    data = encode_y4m(w, h, frames, colorspace=cs)
                except ValueError:
                    continue  # encoder refused: contract upheld
                dw, dh, n, _, _, dcs, _, _ = decode_y4m(data)
                assert (dw, dh, n, dcs) == (w, h, 1, cs)


def test_decode_media_and_frame_sample_on_real_y4m(spark):
    """decode_media sniffs Y4M -> real dims + complete-frame count, and
    frame_sample hashes the ACTUAL frame planes (two streams that differ
    only in frame content must produce different frame_shas); text video
    payloads keep the stub (the DuckDB oracle depends on that)."""
    import hashlib as _hl

    from jsonld_rs_spark.ops.multimodal import (
        decode_media,
        decode_y4m,
        encode_y4m,
        extract_features,
        frame_sample,
    )

    frames = _y4m_frames(8, 6, 12)
    y4m = encode_y4m(8, 6, frames, fps=(24, 1))
    assert decode_media(y4m, "video") == (8, 6, 12)

    media = spark.createDataFrame(
        [(1, "video", bytearray(y4m), ("video/x-y4m", len(y4m), "u"))],
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string, bytes:long, source_url:string>",
    )
    feats = extract_features(media).collect()[0]
    assert (feats["width"], feats["height"], feats["n_frames"]) == (8, 6, 12)

    rows = {r["frame_idx"]: r["frame_sha"] for r in
            frame_sample(media, every_n=4, max_samples=16).collect()}
    assert sorted(rows) == [0, 4, 8]
    _w, _h, _n, _fn, _fd, _cs, fsize, offs = decode_y4m(y4m)
    for idx in (0, 4, 8):
        expect = _hl.sha256(y4m[offs[idx]:offs[idx] + fsize]).hexdigest()
        assert rows[idx] == expect
    # frame-content sensitivity: same geometry, different planes
    other = encode_y4m(8, 6, _y4m_frames(8, 6, 12)[::-1], fps=(24, 1))
    media2 = spark.createDataFrame(
        [(1, "video", bytearray(other), ("video/x-y4m", len(other), "u"))],
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string, bytes:long, source_url:string>",
    )
    rows2 = {r["frame_idx"]: r["frame_sha"] for r in
             frame_sample(media2, every_n=4, max_samples=16).collect()}
    assert rows2[0] != rows[0]


def test_simhash_matches_per_bit_python_recompute(spark, docs):
    """r8 hoisted md5(word) into one projection column below the aggregate
    (it was recomputed once per bit inside each sum); pin the values against
    a direct per-bit Python recomputation of the documented formula."""
    import hashlib as _hl

    sample = docs.orderBy("doc_id").limit(20).collect()
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash(spark.createDataFrame(sample)).collect()
    }
    for r in sample:
        sums = [0] * 16
        for w in r["text"].split(" "):
            h = _hl.md5(w.encode("utf-8")).hexdigest()
            for b in range(16):
                sums[b] += (ord(h[b]) % 2) * 2 - 1
        expect = sum((1 << b) for b in range(16) if sums[b] > 0)
        assert got[int(r["doc_id"])] == expect


def test_detect_mentions_matches_python_regex(spark, docs):
    """r8 moved mention counting from mapInPandas Python regex to JVM
    regexp_count column algebra; the outputs must be identical. Corpus rows
    prove parity on real text; the crafted rows exercise boundary shapes
    (form at start/end, punctuation-adjacent, repeated, substring-embedded
    like 'database' which must NOT count, and adjacent non-ASCII letters
    like 'dataé' or 'dataⅫ' which must not count either)."""
    from jsonld_rs_spark.pipeline.linking import (
        count_mentions_python,
        detect_mentions,
    )

    crafted = [
        ("u://c1", "data at start and data, mid-data end data"),
        ("u://c2", "database is not a mention but spark.query is two"),
        ("u://c3", ""),
        ("u://c4", None),
        ("u://c5", "table\ntable\ttable (table)"),
        # non-ASCII word characters next to a form: Python's Unicode \b
        # sees no boundary, so the JVM pattern must not either ('Ⅻ' is a
        # letter number, which JDK 17's default \b treats as a boundary)
        ("u://c6", "dataé data édata table數據 _data dataⅫ data"),
    ]
    corpus = [
        ("u://d%d" % r["doc_id"], r["text"]) for r in docs.limit(50).collect()
    ]
    df = spark.createDataFrame(crafted + corpus, "url string, text string")
    jvm = {
        (r["url"], r["surface_form"], r["tf"])
        for r in detect_mentions(df).collect()
    }
    py = {
        (url, form, tf)
        for url, text in crafted + corpus
        for form, tf in count_mentions_python(text).items()
    }
    assert jvm == py

    # fallback tier (r8): a form set with token-substring overlap and a
    # multi-word form must take the per-form counting path and still match
    # the Python twin exactly
    forms = ["data", "database", "big data"]
    jvm2 = {
        (r["url"], r["surface_form"], r["tf"])
        for r in detect_mentions(df, surface_forms=forms).collect()
    }
    py2 = {
        (url, form, tf)
        for url, text in crafted + corpus
        for form, tf in count_mentions_python(text, forms).items()
    }
    assert jvm2 == py2


def test_encode_png_rejects_unsupported_channel_count():
    """ADVICE r7: channels=2 (grey+alpha is unimplemented) must raise the
    module's containment type ValueError, not leak a KeyError."""
    from jsonld_rs_spark.ops.multimodal import encode_png

    rows = [bytes([0, 0]), bytes([1, 1])]
    with pytest.raises(ValueError, match="channel count"):
        encode_png(1, 2, 2, rows)


def test_png_empty_trns_roundtrips_as_rgba():
    """ADVICE r7: a present-but-empty tRNS chunk declares an alpha plane
    with every entry defaulted opaque — decode must yield 4 channels, not
    silently drop to 3."""
    from jsonld_rs_spark.ops.multimodal import decode_png, encode_png_indexed

    palette = [(10, 20, 30), (200, 100, 0)]
    rows = [[0, 1], [1, 0]]
    png = encode_png_indexed(2, 2, palette, rows, trns=[])
    w, h, ch, out = decode_png(png)
    assert (w, h, ch) == (2, 2, 4)
    for y, row in enumerate(rows):
        for x, idx in enumerate(row):
            px = bytes(out[y][4 * x:4 * x + 4])
            assert px == bytes(palette[idx]) + b"\xff"
