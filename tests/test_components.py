"""Connected components vs a pure-Python union-find golden, including
hub-skew and determinism under repartitioning (SURVEY.md §7 step 5)."""

import random

import pytest
from pyspark.sql import functions as F

from jsonld_rs_spark.pipeline.components import canonicalize_subjects, connected_components


def union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component id = min member
    comp = {}
    for n in list(parent):
        comp[n] = find(n)
    # resolve to true minimum per component
    groups = {}
    for n, c in comp.items():
        groups.setdefault(c, []).append(n)
    return {n: min(g) for c, g in groups.items() for n in g}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    want = union_find(edges)
    assert got == want


def test_two_chains_and_singleton(spark):
    edges = [("b", "a"), ("c", "b"), ("x", "y"), ("z", "z")]
    _check(spark, edges)


def test_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    nodes = [f"n{i:03d}" for i in range(200)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    _check(spark, edges)


def test_hub_skew_graph(spark):
    # power-law: one hub connected to 300 spokes + a few chains
    edges = [("hub", f"spoke{i:03d}") for i in range(300)]
    edges += [(f"spoke{i:03d}", f"leaf{i:03d}") for i in range(0, 300, 3)]
    edges += [("aaa", "hub")]  # make 'aaa' the component min
    _check(spark, edges)


def test_deterministic_under_repartition(spark):
    rng = random.Random(7)
    nodes = [f"v{i}" for i in range(120)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(100)]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = {tuple(r) for r in connected_components(df.repartition(1)).collect()}
    b = {tuple(r) for r in connected_components(df.repartition(16)).collect()}
    assert a == b


def test_canonicalize_subjects_rewrites_ids(spark):
    triples = spark.createDataFrame(
        [
            ("u1", "@default", "http://e/b", "http://p/sameAs", "id", "http://e/a", None, None),
            ("u1", "@default", "http://e/b", "http://p/name", "literal", "B", "xsd:string", None),
        ],
        "url string, graph string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_datatype string, obj_lang string",
    )
    comps = spark.createDataFrame(
        [("http://e/b", "http://e/a"), ("http://e/a", "http://e/a")],
        "node string, component string",
    )
    out = canonicalize_subjects(triples, comps)
    rows = {(r["subj"], r["pred"], r["obj_value"]) for r in out.collect()}
    assert ("http://e/a", "http://p/name", "B") in rows
    assert ("http://e/a", "http://p/sameAs", "http://e/a") in rows
    # literals must never be rewritten even if they textually match a node id
    lit = [r for r in out.collect() if r["obj_kind"] == "literal"][0]
    assert lit["obj_value"] == "B"


def test_large_graph_converges_in_log_rounds(spark):
    """5k-node graph with chains + hubs: correct labels and O(log n) rounds."""
    rng = random.Random(99)
    edges = []
    # 50 chains of length 40 (diameter stress: hash-min would need ~40 rounds)
    for c in range(50):
        for i in range(39):
            edges.append((f"c{c:02d}n{i:02d}", f"c{c:02d}n{i + 1:02d}"))
    # 3 hubs with 500 spokes each (skew stress)
    for h in range(3):
        for s in range(500):
            edges.append((f"hub{h}", f"hub{h}spoke{s:03d}"))
    # noise
    nodes = [e for pair in edges[:400] for e in pair]
    edges += [(rng.choice(nodes), rng.choice(nodes)) for _ in range(200)]

    stats = {}
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, stats=stats).collect()
    }
    want = union_find(edges)
    assert got == want
    # log-round convergence, not diameter (small margin for detection lag)
    assert stats["rounds"] <= 10, stats
    assert stats["jobs"] <= stats["rounds"], stats


def test_sparse_convergence_check_matches_per_round(spark, monkeypatch):
    """check_every=2 (opt-in; the default is 1) must label identically to
    check_every=1 and spend fewer signature jobs than rounds; the
    candidate-confirm step makes sparse checking safe regardless of
    oscillation assumptions."""
    import random

    from jsonld_rs_spark.pipeline import components as C

    rng = random.Random(5)
    edges = [(f"n{rng.randrange(300)}", f"n{rng.randrange(300)}") for _ in range(350)]
    df = spark.createDataFrame(edges, "src string, dst string")

    # force the star path: this test compares SIGNATURE-JOB counts, which
    # only exist on the distributed iteration (r8 fast path runs none)
    monkeypatch.setattr(C, "SMALL_GRAPH_EDGES", 0)
    s1, s2 = {}, {}
    per_round = {
        r["node"]: r["component"]
        for r in connected_components(df, stats=s1, check_every=1).collect()
    }
    sparse = {
        r["node"]: r["component"]
        for r in connected_components(df, stats=s2, check_every=2).collect()
    }
    assert per_round == sparse
    assert s2["jobs"] < s1["jobs"]
    assert s2["jobs"] <= s2["rounds"] // 2 + 2


def test_canonicalize_rewrites_graph_names(spark):
    triples = spark.createDataFrame(
        [
            ("u1", "http://e/b", "http://e/b", "http://p/name", "literal", "B", "xsd:string", None),
            ("u1", "@default", "http://e/inner", "http://p/in", "id", "http://e/b", None, None),
        ],
        "url string, graph string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_datatype string, obj_lang string",
    )
    comps = spark.createDataFrame(
        [("http://e/b", "http://e/a")], "node string, component string"
    )
    out = canonicalize_subjects(triples, comps)
    rows = {(r["graph"], r["subj"], r["obj_value"]) for r in out.collect()}
    assert ("http://e/a", "http://e/a", "B") in rows  # graph + subj rewritten
    assert ("@default", "http://e/inner", "http://e/a") in rows  # obj rewritten


def test_canonicalize_melt_equals_joinwise(spark):
    """The round-6 melt rewrite (one wide shuffle) must produce exactly the
    rows of the rounds-1-5 join-per-column twin on a randomized mix of
    id/literal rows, NULL graphs/datatypes, hub entities, and rows where a
    literal textually equals a node id (VERDICT r5 #4)."""
    import random as _r

    from jsonld_rs_spark.pipeline.components import _canonicalize_subjects_joinwise

    rng = _r.Random(42)
    nodes = [f"http://e/n{i}" for i in range(40)]
    comps_rows = [(n, f"http://e/n{int(n.rsplit('n', 1)[1]) // 5 * 5}") for n in nodes[:30]]
    rows = []
    for i in range(400):
        subj = rng.choice(nodes)
        graph = rng.choice([None, "@default"] + nodes[:10])
        if rng.random() < 0.5:
            rows.append((f"u{i%7}", graph, subj, f"http://p/{i%5}", "id",
                         rng.choice(nodes), None, None))
        else:
            # literal whose text sometimes equals a node id — must not rewrite
            rows.append((f"u{i%7}", graph, subj, f"http://p/{i%5}", "literal",
                         rng.choice(nodes[:3] + ["plain text", ""]),
                         rng.choice([None, "xsd:string"]),
                         rng.choice([None, "en"])))
    schema = ("url string, graph string, subj string, pred string, "
              "obj_kind string, obj_value string, obj_datatype string, obj_lang string")
    triples = spark.createDataFrame(rows, schema)
    comps = spark.createDataFrame(comps_rows, "node string, component string")
    for nparts in (1, 7):
        t = triples.repartition(nparts)
        key = lambda row: tuple("" if v is None else v for v in row)  # noqa: E731
        new = sorted((tuple(r) for r in canonicalize_subjects(t, comps).collect()), key=key)
        old = sorted((tuple(r) for r in _canonicalize_subjects_joinwise(t, comps).collect()), key=key)
        assert new == old
        # broadcast-hinted components take the per-column broadcast branch
        bc = canonicalize_subjects(t, F.broadcast(comps)).collect()
        assert sorted((tuple(r) for r in bc), key=key) == new


def test_canonicalize_melt_equals_joinwise_hub_graph(spark):
    """VERDICT r6 #4: equivalence on a hub-heavy graph — one component holds
    20% of all nodes and three of its member ids carry ~30% of all subj
    occurrences (the skew shape tools/skew_probe.py measures at scale).
    The melt's pivot (max-per-role per row id) must behave identically when
    one key dominates the melted key rows."""
    import random as _r

    from jsonld_rs_spark.pipeline.components import _canonicalize_subjects_joinwise

    rng = _r.Random(7)
    n_nodes = 200
    nodes = [f"http://e/e{i}" for i in range(n_nodes)]
    hub_n = n_nodes // 5
    comps_rows = [(nodes[i], nodes[0]) for i in range(hub_n)] + [
        (nodes[i], nodes[i - i % 2]) for i in range(hub_n, n_nodes)
    ]
    hot = nodes[1:4]
    rows = []
    for i in range(2000):
        subj = rng.choice(hot) if rng.random() < 0.3 else rng.choice(nodes)
        graph = rng.choice(hot) if rng.random() < 0.1 else "@default"
        if rng.random() < 0.25:
            rows.append((f"u{i % 50}", graph, subj, f"http://p/{i % 5}", "id",
                         rng.choice(nodes), None, None))
        else:
            rows.append((f"u{i % 50}", graph, subj, f"http://p/{i % 5}",
                         "literal", f"value {i}", "xsd:string", None))
    schema = ("url string, graph string, subj string, pred string, "
              "obj_kind string, obj_value string, obj_datatype string, obj_lang string")
    triples = spark.createDataFrame(rows, schema)
    comps = spark.createDataFrame(comps_rows, "node string, component string")
    key = lambda row: tuple("" if v is None else v for v in row)  # noqa: E731
    new = sorted((tuple(r) for r in canonicalize_subjects(triples, comps).collect()), key=key)
    old = sorted((tuple(r) for r in _canonicalize_subjects_joinwise(triples, comps).collect()), key=key)
    assert new == old
    bc = canonicalize_subjects(triples, F.broadcast(comps)).collect()
    assert sorted((tuple(r) for r in bc), key=key) == new
    # the hub rewrite actually fired: every hot subj maps to the hub rep
    assert all(r[2] != hot[0] for r in new)


def test_canonicalize_rowid_unambiguous_with_separator_chars(spark):
    """Regression (r6 review): literal values may contain ANY character, and
    a separator-based row-id encoding collided two distinct rows whose
    column boundaries shifted (e.g. subj 's\\x1fx' vs subj 's' + pred
    'x\\x1fp'), cross-applying one row's rewrite to the other. The to_json
    row-id is injective; only the row whose subj is actually in the
    components table may be rewritten."""
    schema = ("url string, graph string, subj string, pred string, "
              "obj_kind string, obj_value string, obj_datatype string, obj_lang string")
    a = ("u", "g", "s\x1fx", "p", "id", "o", None, None)
    b = ("u", "g", "s", "x\x1fp", "id", "o", None, None)
    triples = spark.createDataFrame([a, b], schema)
    comps = spark.createDataFrame([("s", "CANON")], "node string, component string")
    out = {(r["subj"], r["pred"]) for r in canonicalize_subjects(triples, comps).collect()}
    assert out == {("s\x1fx", "p"), ("CANON", "x\x1fp")}


def test_small_graph_fast_path_equals_star_rounds(spark, monkeypatch):
    """r8: below SMALL_GRAPH_EDGES connected_components computes labels with
    a driver union-find instead of star rounds. Both paths must produce the
    identical (node, component=min member) labeling; run the SAME random
    graphs through each by forcing the threshold."""
    from jsonld_rs_spark.pipeline import components as C

    rng = random.Random(808)
    for trial in range(3):
        n = 60 + 40 * trial
        edges = [
            (f"n{rng.randrange(n)}", f"n{rng.randrange(n)}")
            for _ in range(n)
        ] + [("n0", "n0")]  # self-loop row exercises the filter
        df = spark.createDataFrame(edges, "src string, dst string")

        monkeypatch.setattr(C, "SMALL_GRAPH_EDGES", 10**9)
        fast_stats = {}
        fast = {
            r["node"]: r["component"]
            for r in C.connected_components(df, stats=fast_stats).collect()
        }
        assert fast_stats["rounds"] == 0 and "local_edges" in fast_stats

        monkeypatch.setattr(C, "SMALL_GRAPH_EDGES", 0)
        star_stats = {}
        star = {
            r["node"]: r["component"]
            for r in C.connected_components(df, stats=star_stats).collect()
        }
        assert star_stats["rounds"] > 0
        assert fast == star == union_find(edges)


def _labels(df):
    return {tuple(r) for r in df.collect()}


def test_fast_path_boundary_counts_distinct_rows(spark, monkeypatch):
    """The fast path gates on DISTINCT (src, dst) rows, self-loops
    included: exactly SMALL_GRAPH_EDGES of them take the driver union-find,
    one more takes the star rounds. Duplicate rows do not count, and
    stats["local_edges"] is the distinct non-self-loop edge count either
    side of the bound. Both sides label like the union-find golden."""
    from jsonld_rs_spark.pipeline import components as C

    rng = random.Random(4)
    edges = [(f"n{rng.randrange(40)}", f"n{rng.randrange(40)}") for _ in range(30)]
    edges += [("n0", "n0"), ("n1", "n1")] + edges[:5]  # self-loops + duplicates
    distinct = set(edges)
    extra = ("m0", "m1")
    assert extra not in distinct
    monkeypatch.setattr(C, "SMALL_GRAPH_EDGES", len(distinct))

    at = spark.createDataFrame(edges, "src string, dst string")
    s_at = {}
    fast = C.connected_components(at, stats=s_at)
    assert s_at["rounds"] == 0
    assert s_at["local_edges"] == len({(a, b) for a, b in distinct if a != b})
    assert C._broadcast_hinted(fast)
    # driver-built labels are a LocalRelation: scanned and broadcast by the
    # driver, with no PythonRDD behind them
    hint = fast._jdf.queryExecution().analyzed()
    assert hint.children().head().getClass().getSimpleName() == "LocalRelation"
    assert _labels(fast) == set(union_find(edges).items())

    over = spark.createDataFrame(edges + [extra], "src string, dst string")
    s_over = {}
    star = C.connected_components(over, stats=s_over)
    assert s_over["rounds"] > 0 and "local_edges" not in s_over
    assert not C._broadcast_hinted(star)
    assert _labels(star) == set(union_find(edges + [extra]).items())


def test_self_loop_only_node_and_null_endpoint(spark, monkeypatch):
    """A node seen only in a self-loop labels itself; a row with a null
    endpoint labels its other endpoint by itself and adds one
    (null, null) row. The fast path and the star path agree row for row."""
    from jsonld_rs_spark.pipeline import components as C

    edges = [("b", "a"), ("c", "b"), ("s", "s"), ("q", None), (None, "r"),
             (None, None), ("a", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    want = {("a", "a"), ("b", "a"), ("c", "a"), ("s", "s"), ("q", "q"),
            ("r", "r"), (None, None)}

    s_fast = {}
    fast = _labels(C.connected_components(df, stats=s_fast))
    assert s_fast["rounds"] == 0 and s_fast["local_edges"] == 2

    monkeypatch.setattr(C, "SMALL_GRAPH_EDGES", 0)
    s_star = {}
    star = _labels(C.connected_components(df, stats=s_star))
    assert s_star["rounds"] > 0
    assert fast == star == want


def test_small_graph_canonicalize_plans_no_shuffle_join(spark):
    """With the fast path's broadcast-hinted components, the canonical
    rewrite runs as broadcast lookups: its executed plan has neither a
    SortMergeJoin nor a hash-partitioning exchange."""
    triples = spark.createDataFrame(
        [
            ("u1", "@default", "http://e/b", "http://p/sameAs", "id", "http://e/a", None, None),
            ("u1", "http://e/b", "http://e/b", "http://p/name", "literal", "B", None, None),
            ("u2", "@default", "http://e/c", "http://p/knows", "id", "http://e/b", None, None),
        ],
        "url string, graph string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_datatype string, obj_lang string",
    ).repartition(3)
    edges = triples.filter(F.col("pred") == "http://p/sameAs").select(
        F.col("subj").alias("src"), F.col("obj_value").alias("dst")
    )
    out = canonicalize_subjects(triples, connected_components(edges))
    rows = {(r["graph"], r["subj"], r["obj_value"]) for r in out.collect()}
    assert rows == {("@default", "http://e/a", "http://e/a"),
                    ("http://e/a", "http://e/a", "B"),
                    ("@default", "http://e/c", "http://e/a")}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan
