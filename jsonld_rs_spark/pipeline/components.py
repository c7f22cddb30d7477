"""Connected components over the sameAs graph — canonical entity ids.

Alternating large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) expressed as DataFrame self-joins:

* converges in O(log n) rounds on power-law graphs (plain hash-min label
  propagation needs O(diameter));
* each round = one salted two-phase min-aggregation + one join of edges
  against per-node minima. The min-agg is two-phase (pre-aggregate on
  (node, salt), then on node) so a hub node's neighbor list never collapses
  onto a single reducer before partial aggregation has shrunk it; the join
  back is AQE-skew-join eligible.
* ``localCheckpoint`` every round cuts the lineage chain so plans stay flat
  over arbitrarily many iterations (and makes each round restartable).

Output: (node, component) with component = min node id of the component —
deterministic, partition-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..util import local_frame

# min() skew is already handled by map-side partial aggregation; see
# _min_neighbor for when a salted two-phase aggregation actually pays.
SALT_BUCKETS = 1

# Small-graph fast path (r8): at or below this many distinct (src, dst)
# input rows the label set is computed with a driver-side union-find
# instead of star rounds. Each star round costs ~5 exchanges + a signature
# job of FIXED scheduling overhead (~1.5-2 s for a 33-edge graph at
# local[32]) that dwarfs the data; a bounded collect (≤ 64 Ki edges ≈ a
# few MB — same class as the ≤4096-row IVF codebook collect,
# similarity.py) computes the identical min-id labeling in milliseconds.
# The threshold is data-size-derived, not cluster-derived: above it the
# Kiveris large-star/small-star path runs unchanged, which is the only
# shape that survives 100 TB.
SMALL_GRAPH_EDGES = 65536


def _min_neighbor(edges: DataFrame, salt_buckets: int) -> DataFrame:
    """min(neighbor ∪ self) per node.

    Default (``salt_buckets<=1``) is a single groupBy: Spark's hash
    aggregate already map-side-combines min, so a hub's neighbor list is
    collapsed per task BEFORE the shuffle — salting adds a whole extra
    exchange per CC round for nothing. The salted two-phase path is kept
    for aggregations where partial aggregation cannot shrink skew
    (collect_list-shaped combiners), and for A/B-ing the claim.
    Duplicate (u, u) rows are harmless under min — no distinct."""
    with_self = edges.select("u", "v").unionByName(
        edges.select(F.col("u").alias("u"), F.col("u").alias("v"))
    )
    if salt_buckets <= 1:
        return with_self.groupBy("u").agg(F.min("v").alias("m"))
    return (
        with_self.withColumn("__salt", F.pmod(F.xxhash64("v"), F.lit(salt_buckets)))
        .groupBy("u", "__salt")
        .agg(F.min("v").alias("m1"))
        .groupBy("u")
        .agg(F.min("m1").alias("m"))
    )


def _large_star(edges: DataFrame, salt_buckets: int) -> DataFrame:
    """For each node u: connect every larger neighbor to min(Γ(u) ∪ u)."""
    bidir = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nbrs = bidir.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    mins = _min_neighbor(nbrs, salt_buckets)
    # No trailing distinct (r8): duplicates here are bounded (one output row
    # per bidirected input edge) and the small-star that always follows
    # dedups its own output — the distinct was a full extra exchange per
    # round for an edge SET that small-star's min-agg tolerates as a
    # multiset. Round-by-round edge sets (and so rounds/convergence/result)
    # are unchanged; only the intermediate multiset carries duplicates.
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame, salt_buckets: int) -> DataFrame:
    """Orient edges high→low; connect all small neighbors (and u) to the min."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    nbrs = oriented.select("u", "v")
    mins = _min_neighbor(nbrs, salt_buckets)
    members = nbrs.unionByName(
        nbrs.select(F.col("u").alias("u"), F.col("u").alias("v"))
    )
    return (
        members.join(mins, "u")
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _signature(edges: DataFrame):
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        # decimal sum: immune to ANSI long-overflow on the hash sum
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


# Most recent connected_components run's {'rounds': N, 'jobs': M} — bench.py
# snapshots this immediately after the kg_components trials (several later
# queries also run CC and overwrite it; last completed run wins) so every
# BENCH line attributes a kg_components wall-time drift to extra CC rounds
# vs host noise (VERDICT r3 #8). Driver-side only.
LAST_STATS: dict = {}


def _driver_labels(base: DataFrame, stats: dict = None) -> DataFrame:
    """(node, component) for every node of the distinct (src, dst) rows in
    ``base``, by a driver union-find over one collect.

    Every node gets its label here, so no ``all_nodes ⨝ labels`` join runs:
    a node seen only in a self-loop or next to a null endpoint labels
    itself, and a null endpoint yields the one ``(null, null)`` row the
    star path's left join emits. The table is returned broadcast-hinted:
    it is at most SMALL_GRAPH_EDGES·2 rows built on the driver, so every
    consumer (``canonicalize_subjects``, ``dup_clusters``) joins it without
    shuffling its own side."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    has_null = False
    n_edges = 0
    for src, dst in base.collect():
        for x in (src, dst):
            if x is not None:
                parent.setdefault(x, x)
        if src is None or dst is None:
            has_null = True
        elif src != dst:
            n_edges += 1
            ra, rb = find(src), find(dst)
            if ra != rb:
                # union by MIN root: the surviving root is the smaller id,
                # so every tree root IS its component's min node id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
    nodes = list(parent)
    components = [find(n) for n in nodes]
    if has_null:
        nodes.append(None)
        components.append(None)
    node_type = base.schema["src"].dataType
    labels = local_frame(
        base.sparkSession,
        {"node": nodes, "component": components},
        StructType(
            [
                StructField("node", node_type, True),
                StructField("component", node_type, True),
            ]
        ),
    )
    LAST_STATS.clear()
    LAST_STATS.update({"rounds": 0, "jobs": 0, "local_edges": n_edges})
    if stats is not None:
        stats.update(LAST_STATS)
    return F.broadcast(labels)


def connected_components(
    edges_df: DataFrame,
    max_iter: int = 30,
    salt_buckets: int = SALT_BUCKETS,
    stats: dict = None,
    check_every: int = 1,
) -> DataFrame:
    """sameAs edge list (src, dst) → (node, component).

    Deterministic: component id = lexicographic min node id. Self-loops and
    duplicate/reversed edges are tolerated. Pass ``stats={}`` to receive
    {'rounds': N, 'jobs': M} — large-star/small-star converges in O(log n)
    rounds. Graphs of at most SMALL_GRAPH_EDGES distinct input rows skip
    the rounds ({'rounds': 0, 'jobs': 0, 'local_edges': E}, E = distinct
    non-self-loop edges) and come back as a broadcast-hinted driver-built
    table (``_driver_labels``).

    ``check_every``: convergence signatures run every this many rounds
    instead of every round. Sparse checking pays only when per-job
    scheduling overhead dwarfs a star round (tiny graphs on a busy shared
    cluster): it saves ~rounds/check_every cheap signature aggregations
    but costs up to ``check_every`` EXTRA star rounds of detection lag
    (each = several shuffles of the full edge set) plus a consecutive
    confirm round. Measured on the sf0.1 sameAs graph (converges in 4
    rounds): check_every=2 ran 7 rounds / 4 jobs at 6.0 s vs 4 rounds /
    4 jobs at 4.2 s — so the default stays 1. Correctness under sparse
    checking does not rest on the algorithm being cycle-free: a match
    between non-consecutive checks is only a CANDIDATE, confirmed by one
    consecutive-round check (a hypothetical period-k oscillation would
    fail the confirm and iteration continues).
    """
    if check_every < 1:
        raise ValueError(f"check_every must be >= 1, got {check_every}")
    # Materialize the INPUT plan once (r8, guide §2.4): for corpus_filter
    # the upstream is the whole MinHash+Jaccard-verify chain, which no
    # consumer below may re-run. One lazy checkpoint of the distinct
    # (src, dst) rows feeds everything; the gating count materializes it,
    # and both paths derive their edge and node sets from it.
    base = edges_df.select("src", "dst").distinct().localCheckpoint(eager=False)

    # Small-graph fast path (r8): at or below the bound a driver union-find
    # produces the IDENTICAL labeling — the distributed algorithm's contract
    # is component = min node id, which is exactly what union-by-min
    # computes — from one collect of the checkpoint instead of
    # O(log n) × (5 exchanges + signature job) rounds. Equivalence is
    # pinned by tests (fast path vs forced star path on random graphs).
    if base.count() <= SMALL_GRAPH_EDGES:
        return _driver_labels(base, stats)

    edges = base.filter(F.col("src") != F.col("dst"))
    prev_sig = None
    candidate = False  # last check matched the one before → confirm next round
    rounds = 0
    jobs = 0
    converged = False
    while rounds < max_iter:
        # one LAZY checkpoint per round (after both stars): lineage depth
        # stays bounded at 2·check_every star-expansions between
        # materializations, and the signature action materializes every
        # pending checkpoint in its one job (VERDICT r1: eager checkpoint
        # + signature was two jobs per round).
        edges = _small_star(_large_star(edges, salt_buckets), salt_buckets).localCheckpoint(
            eager=False
        )
        rounds += 1
        if not (candidate or rounds % check_every == 0 or rounds == max_iter):
            continue
        sig = _signature(edges)
        jobs += 1
        if sig == prev_sig:
            if candidate or check_every == 1:
                converged = True
                break
            candidate = True  # confirm on the NEXT (consecutive) round
        else:
            candidate = False
        prev_sig = sig
    if not converged:
        # fall-through would emit multiple conflicting labels per node
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    LAST_STATS.clear()
    LAST_STATS.update({"rounds": rounds, "jobs": jobs})
    if stats is not None:
        stats["rounds"] = rounds
        stats["jobs"] = jobs

    # after convergence every edge is (node, root); roots map to themselves
    labels = edges.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    all_nodes = (
        base.select(F.col("src").alias("node"))
        .unionByName(base.select(F.col("dst").alias("node")))
        .distinct()
    )
    return (
        all_nodes.join(labels, "node", "left")
        .select(
            "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
        )
    )


TRIPLE_COLS = [
    "url", "graph", "subj", "pred", "obj_kind", "obj_value", "obj_datatype", "obj_lang",
]


def _rewrite_column(df: DataFrame, comp: DataFrame, col: str) -> DataFrame:
    """Left-join rewrite of one id column to its component representative."""
    return (
        df.join(
            comp.withColumnRenamed("node", col).withColumnRenamed("component", "__c"),
            col,
            "left",
        )
        .withColumn(col, F.coalesce("__c", F.col(col)))
        .drop("__c")
    )


def _broadcast_hinted(df: DataFrame) -> bool:
    """Whether a join against ``df`` picks up a broadcast hint: the
    analyzed plan has a ``ResolvedHint`` with the broadcast strategy,
    reached from the root through single-child nodes only — the same walk
    Spark's EliminateResolvedHint makes when it moves hints onto joins."""
    node = df._jdf.queryExecution().analyzed()
    while True:
        if node.getClass().getSimpleName() == "ResolvedHint":
            strategy = node.hints().strategy()
            if strategy.isDefined():
                return strategy.get().displayName() == "broadcast"
        children = node.children()
        if children.size() != 1:
            return False
        node = children.head()


def _canonicalize_subjects_joinwise(
    triples_df: DataFrame, components_df: DataFrame
) -> DataFrame:
    """One left join per rewritable column: 3 on the id slice, 2 on the
    literal slice. This is ``canonicalize_subjects``' branch for
    broadcast-hinted components, where all five joins plan as
    BroadcastHashJoins and nothing is shuffled. Against a non-broadcast
    components table the five joins shuffle the full-width triple table
    five times (rounds 1-5), which is why the melt below is the branch for
    everything else; this twin is also the melt's semantics reference in
    tests/test_components.py and the A/B in PLANS.md."""
    comp = components_df
    ids = triples_df.filter(F.col("obj_kind") == "id")
    literals = triples_df.filter(F.col("obj_kind") != "id")
    for col in ("subj", "graph", "obj_value"):
        ids = _rewrite_column(ids, comp, col)
    for col in ("subj", "graph"):
        literals = _rewrite_column(literals, comp, col)
    return ids.select(*TRIPLE_COLS).unionByName(literals.select(*TRIPLE_COLS))


def canonicalize_subjects(triples_df: DataFrame, components_df: DataFrame) -> DataFrame:
    """Rewrite subj, id-objects AND graph names to their canonical component
    representative. Graph names are rewritten too: a named graph declared by
    an entity must follow the entity's canonical id or assembly drops it;
    literal obj_values are never rewritten even if they textually match a
    node id.

    Broadcast components (what ``connected_components`` returns for small
    graphs): the rewrite is ``_canonicalize_subjects_joinwise`` — five
    per-column broadcast lookups, no exchange at all. The hint is read
    from ``components_df``'s analyzed plan (``_broadcast_hinted``), so the
    branch follows the input's own property, not a size estimate.

    Any other components table takes the melt. Shuffle shape (VERDICT r5
    #4): against a shuffled components table the join-per-column version
    moves the FULL-WIDTH triple table five times (subj/graph/obj_value on
    the id slice, subj/graph on the literal slice) — at 100× the triple
    table through the exchange dominates kg_canonical_triples. The melt
    shuffles the wide table ONCE and moves everything else onto narrow key
    rows:

    1. melt each row's rewritable keys to (row_id, role, key) — ≤3 narrow
       rows per triple, obj_value only when obj_kind='id' (literal payloads,
       the corpus's bulk, never enter any rewrite exchange);
    2. inner-join the melted keys against components (narrow × components;
       AQE broadcasts components when small, skew-splits hub entities when
       not) and pivot the matches back to one (row_id, subj/graph/obj
       replacement) row via max-per-role — each role occurs at most once
       per row_id so max() is just "the match if any";
    3. left-join the wide table against the narrow replacement rows on
       row_id (the single wide shuffle; AQE broadcasts the replacements
       when few rows matched — the common case, since sameAs nodes are a
       small fraction of all triples) and coalesce.

    row_id is unhex(md5) over the to_json of all 8 columns: content-derived,
    so deterministic under task retry/recompute — unlike
    monotonically_increasing_id — and 128 bits, so hash collisions are not
    a realistic event at any corpus size. to_json (not concat_ws with a
    separator) because literal obj_values may contain ANY character: a
    separator-based encoding is boundary-ambiguous when a value contains
    the separator, and two distinct rows sharing a row_id would cross-apply
    each other's rewrites — JSON escaping is injective for a fixed schema
    (a key is omitted iff its value is null). Duplicate input rows share a
    row_id harmlessly: they melt to identical key rows and receive
    identical replacements. BINARY (unhex), not the 32-char hex string:
    the rid crosses three exchanges (both key-row shuffles + the wide join)
    and hash bytes are incompressible, so halving them cuts the melt's
    fixed overhead — measured 621 -> 439 MB shuffle on the r7 skew probe's
    narrow profile (tools/skew_probe.py; binary also compares faster than
    hex in the sort-merge).

    Measured trade (r7, tools/skew_probe.py + PLANS.md skew section): on
    NARROW-literal corpora the joinwise twin shuffles fewer bytes (201 vs
    439 MB at 3M rows) — the melt's rid machinery outweighs the
    literals-cross-once saving. On the real-corpus shape (text-entropy
    literals, +400 B) the melt wins the bytes metric (627 vs 907 MB at
    1.5M rows) and the margin grows with literal size. Joinwise is
    wall-faster at local[8] on both profiles because local shuffles move
    through page cache — bytes, not sandbox walls, are what a 1000-executor
    network pays. Melt stays the non-broadcast branch for the corpus shape
    this engine targets; joinwise is equivalence-tested against it, and AQE
    broadcasts an unhinted components table inside both variants when its
    runtime size turns out small."""
    if _broadcast_hinted(components_df):
        return _canonicalize_subjects_joinwise(triples_df, components_df)
    comp = components_df
    rid = F.unhex(F.md5(F.to_json(F.struct(*[F.col(c) for c in TRIPLE_COLS]))))
    t = triples_df.withColumn("__rid", rid)
    keys = (
        t.select(
            "__rid",
            F.explode(
                F.array(
                    F.struct(F.lit("s").alias("role"), F.col("subj").alias("k")),
                    F.struct(F.lit("g").alias("role"), F.col("graph").alias("k")),
                    F.struct(
                        F.when(F.col("obj_kind") == "id", F.lit("o")).alias("role"),
                        F.col("obj_value").alias("k"),
                    ),
                )
            ).alias("rk"),
        )
        .select("__rid", F.col("rk.role").alias("role"), F.col("rk.k").alias("k"))
        .filter(F.col("role").isNotNull() & F.col("k").isNotNull())
    )
    matches = keys.join(
        comp.select(F.col("node").alias("k"), "component"), "k"
    )
    repl = matches.groupBy("__rid").agg(
        F.max(F.when(F.col("role") == "s", F.col("component"))).alias("__s"),
        F.max(F.when(F.col("role") == "g", F.col("component"))).alias("__g"),
        F.max(F.when(F.col("role") == "o", F.col("component"))).alias("__o"),
    )
    return t.join(repl, "__rid", "left").select(
        "url",
        F.coalesce("__g", F.col("graph")).alias("graph"),
        F.coalesce("__s", F.col("subj")).alias("subj"),
        "pred",
        "obj_kind",
        F.coalesce("__o", F.col("obj_value")).alias("obj_value"),
        "obj_datatype",
        "obj_lang",
    ).select(*TRIPLE_COLS)
