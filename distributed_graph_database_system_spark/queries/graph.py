"""Driver-registered graph queries — the reference's four operations (R1–R4)
surfaced through the harness.

The reference has no SQL, so BFS/DFS aren't oracle-expressible over the
fixture tables. Instead, the canonical goldens from FIXTURES.md §B are
encoded as VALUES-literal oracle SQL: the driver's value-hash compare then
verifies the traversal output against hand-verified goldens — strictly
stronger than a rows-only check. The write path (AddGraph/ModifyGraph) is
exercised in ``tests/test_graph.py`` (W1/W2) since driver queries must be
read-only and idempotent.

One fixture-backed query (``graph_degrees_custsupp``) runs the degree
operator over a graph *derived from relational fixture data* with a real
DuckDB oracle — the scale-path demonstration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_graph_database_system_spark.operators.graph import (
    EDGE_SCHEMA,
    bfs,
    connected_components,
    dfs_leaves,
    k_core,
    label_propagation,
    pagerank,
    triangle_count,
)
from distributed_graph_database_system_spark.queries.registry import query
from distributed_graph_database_system_spark.sources.catalog import load_table

# Fixture graphs (FIXTURES.md §B; 1-indexed, directed edge rows; undirected
# fixtures list both directions).
G1 = [(1, 2), (2, 1), (1, 3), (3, 1), (2, 4), (4, 2), (3, 5), (5, 3)]
G2 = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (5, 6), (6, 4)]
G3 = [(1, 2), (2, 3), (3, 4)]
G4 = [(1, 2), (2, 1), (1, 3), (3, 1), (4, 5), (5, 4), (5, 6), (6, 5)]
G4_VERTICES = [1, 2, 3, 4, 5, 6, 7]
G5_VERTICES = [1]
# G6 (k-core fixture): 4-clique {1,2,3,4} + 5-cycle {5..9} bridged by 4—5 +
# pendant 10—8. Peeling at k=3 cascades over three rounds: {6,7,9,10} fall
# first (degree < 3), which drops 5 and 8 to degree ≤ 1, leaving the clique.
G6 = (
    [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]  # clique
    + [(5, 6), (6, 7), (7, 8), (8, 9), (9, 5), (4, 5), (8, 10)]
)


def _edges(spark: SparkSession, rows: list[tuple[int, int]]) -> DataFrame:
    return spark.createDataFrame(rows, EDGE_SCHEMA)


def _bfs_oracle(golden: list[tuple[int, int]]) -> str:
    values = ", ".join(f"({v}, {lvl})" for v, lvl in golden)
    return (
        "SELECT CAST(v AS BIGINT) AS vid, CAST(l AS INT) AS level "
        f"FROM (VALUES {values}) AS t(v, l)"
    )


def _vid_oracle(golden: list[int]) -> str:
    if not golden:
        return "SELECT CAST(NULL AS BIGINT) AS vid WHERE FALSE"
    values = ", ".join(f"({v})" for v in golden)
    return f"SELECT CAST(v AS BIGINT) AS vid FROM (VALUES {values}) AS t(v)"


# --- BFS (R4) --------------------------------------------------------------


@query("graph_bfs_g1", oracle=_bfs_oracle([(1, 0), (2, 1), (3, 1), (4, 2), (5, 2)]),
       tags=("graph", "bfs"))
def graph_bfs_g1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bfs(_edges(spark, G1), start=1)


@query("graph_bfs_g2", oracle=_bfs_oracle([(1, 0), (2, 1), (3, 1), (4, 2), (5, 3), (6, 4)]),
       tags=("graph", "bfs"))
def graph_bfs_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bfs(_edges(spark, G2), start=1)


@query("graph_bfs_g4", oracle=_bfs_oracle([(4, 0), (5, 1), (6, 2)]),
       tags=("graph", "bfs", "disconnected"))
def graph_bfs_g4(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bfs(_edges(spark, G4), start=4)


@query(
    "graph_bfs_g6",
    oracle=_bfs_oracle(
        [(1, 0), (2, 1), (3, 1), (4, 1), (5, 2), (6, 3), (7, 4), (8, 5), (9, 6), (10, 6)]
    ),
    tags=("graph", "bfs", "bridged"),
)
def graph_bfs_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS level-order on the G6 bridged clique+cycle fixture (directed as
    listed): the clique is level 1, the bridge 4→5 starts the cycle walk,
    and the pendant 10 shares level 6 with the cycle-closing 9. Golden
    computed by an independent queue BFS over the edge list."""
    return bfs(_edges(spark, G6), start=1)


@query("graph_bfs_g5", oracle=_bfs_oracle([(1, 0)]), tags=("graph", "bfs", "singleton"))
def graph_bfs_g5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single vertex, no edges: BFS emits the start at level 0
    # (secondaryServer.c:342 always emits the start).
    return bfs(_edges(spark, []), start=1)


# --- DFS leaf-set (R3) -----------------------------------------------------


@query("graph_dfs_g1", oracle=_vid_oracle([4, 5]), tags=("graph", "dfs"))
def graph_dfs_g1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dfs_leaves(_edges(spark, G1), start=1)


@query("graph_dfs_g2", oracle=_vid_oracle([3, 6]), tags=("graph", "dfs", "cycle"))
def graph_dfs_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dfs_leaves(_edges(spark, G2), start=1)


@query("graph_dfs_g3", oracle=_vid_oracle([4]), tags=("graph", "dfs", "chain"))
def graph_dfs_g3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dfs_leaves(_edges(spark, G3), start=1)


@query("graph_dfs_g5", oracle=_vid_oracle([]), tags=("graph", "dfs", "singleton"))
def graph_dfs_g5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Start vertex is never emitted (secondaryServer.c:290) → empty set.
    return dfs_leaves(_edges(spark, []), start=1)


@query("graph_dfs_g4", oracle=_vid_oracle([2, 3]), tags=("graph", "dfs", "disconnected"))
def graph_dfs_g4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFS leaf-set on the disconnected G4 fixture from vertex 1: both
    neighbors 2 and 3 see only the already-visited start (zero spawns →
    leaves); the {4,5,6} component is unreachable and contributes
    nothing. Golden verified against py_dfs_leaves (FIXTURES.md §B)."""
    return dfs_leaves(_edges(spark, G4), start=1)


@query("graph_dfs_g6", oracle=_vid_oracle([9, 10]), tags=("graph", "dfs", "bridged"))
def graph_dfs_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFS leaf-set on the G6 bridged clique+cycle fixture (directed as
    listed): from 1 the walk burrows 1→2→3→4→5→6→7→8, where 9 closes the
    cycle back to the visited 5 (zero spawns → leaf) and the pendant 10
    has no out-edges (leaf). Golden verified against tests'
    py_dfs_leaves pure-python reference (ascending-neighbor canonical
    order, FIXTURES.md §B)."""
    return dfs_leaves(_edges(spark, G6), start=1)


# --- Connected components / degrees (north-star analytics) -----------------


@query(
    "graph_cc_g4",
    oracle=(
        "SELECT CAST(v AS BIGINT) AS vid, CAST(c AS BIGINT) AS comp FROM (VALUES "
        "(1,1),(2,1),(3,1),(4,4),(5,4),(6,4),(7,7)) AS t(v, c)"
    ),
    tags=("graph", "cc"),
)
def graph_cc_g4(spark: SparkSession, sf_dir: str) -> DataFrame:
    verts = spark.createDataFrame([(v,) for v in G4_VERTICES], "vid BIGINT")
    return connected_components(_edges(spark, G4), vertices=verts)


@query(
    "graph_lpa_g6",
    oracle=(
        "SELECT CAST(v AS BIGINT) AS vid, CAST(l AS BIGINT) AS label FROM (VALUES "
        "(1,1),(2,1),(3,1),(4,1),(5,1),(6,1),(7,1),(8,1),(9,4),(10,4)) AS t(v, l)"
    ),
    tags=("graph", "lpa", "community"),
)
def graph_lpa_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation on G6, 10 fixed rounds. Golden computed
    with the independent sequential reference in tests/test_graph.py
    (py_lpa) — the min-label tie-break floods label 1 through the bridge,
    with the cycle's far side (9) and the pendant (10) settling on 4."""
    return label_propagation(_edges(spark, G6), max_iter=10)


@query(
    "graph_kcore_g6",
    oracle=(
        "SELECT CAST(v AS BIGINT) AS vid, CAST(d AS BIGINT) AS core_degree "
        "FROM (VALUES (1,3),(2,3),(3,3),(4,3)) AS t(v, d)"
    ),
    tags=("graph", "kcore"),
)
def graph_kcore_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of G6: multi-round peeling cascade (cycle+pendant fall away
    over three rounds) isolating the 4-clique — hand-verified golden."""
    return k_core(_edges(spark, G6), k=3)


@query(
    "graph_pagerank_g2",
    oracle=(
        "SELECT CAST(v AS BIGINT) AS vid, CAST(r AS DOUBLE) AS rank FROM (VALUES "
        "(1, 0.025), (2, 0.0356), (3, 0.0356), (4, 0.3239), (5, 0.3058), "
        "(6, 0.274)) AS t(v, r)"
    ),
    tags=("graph", "pagerank"),
)
def graph_pagerank_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-iteration d=0.85 PageRank on G2; golden computed with an
    independent sequential implementation, compared at 4dp (float addition
    order differs only at ~1e-16)."""
    pr = pagerank(_edges(spark, G2), iterations=20)
    return pr.select("vid", F.round("rank", 4).alias("rank"))


@query(
    "graph_ppr_g2",
    oracle=(
        "SELECT CAST(v AS BIGINT) AS vid, CAST(r AS DOUBLE) AS rank FROM (VALUES "
        "(1, 0.15), (2, 0.0638), (3, 0.0638), (4, 0.3045), (5, 0.2259), "
        "(6, 0.192)) AS t(v, r)"
    ),
    tags=("graph", "pagerank", "personalized"),
)
def graph_ppr_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank on G2 seeded at vertex 1 (20 iterations,
    d=0.85): teleport and dangling mass return to the seed, so rank is
    proximity to it — the seed-expansion primitive. Golden computed with an
    independent sequential implementation (tests/test_graph.py), compared
    at 4dp."""
    from distributed_graph_database_system_spark.operators.graph import (
        personalized_pagerank,
    )

    pr = personalized_pagerank(_edges(spark, G2), sources=(1,), iterations=20)
    return pr.select("vid", F.round("rank", 4).alias("rank"))


@query(
    "graph_triangles_cosupply",
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
    )
    SELECT COUNT(*) AS n_triangles
    FROM e e1 JOIN e e2 ON e1.dst = e2.src
              JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    """,
    tags=("graph", "triangles", "fixture-derived"),
)
def graph_triangles_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the supplier co-supply graph (suppliers linked when
    they supply the same part) — a fixture-derived graph analytic whose edge
    construction is itself a distributed self-join."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    a, b = ps.alias("a"), ps.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
        .distinct()
    )
    return triangle_count(edges)


@query(
    "graph_sssp_weighted",
    oracle=(
        "SELECT CAST(v AS BIGINT) AS vid, CAST(d AS DOUBLE) AS distance FROM (VALUES "
        "(1, 0.0), (2, 3.0), (3, 1.0), (4, 8.0), (5, 9.0)) AS t(v, d)"
    ),
    tags=("graph", "sssp", "bellman_ford"),
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (active-set Bellman-Ford) on a
    fixed 5-vertex weighted digraph; the indirect route 1→3→2 (3.0) must
    beat the direct 1→2 edge (4.0). Small exact sums of doubles —
    deterministic across engines."""
    from distributed_graph_database_system_spark.operators.graph import sssp_weighted

    wedges = [
        (1, 2, 4.0), (1, 3, 1.0), (3, 2, 2.0), (2, 4, 5.0),
        (3, 4, 8.0), (4, 5, 1.0), (2, 5, 10.0),
    ]
    df = spark.createDataFrame(wedges, "src BIGINT, dst BIGINT, weight DOUBLE")
    return sssp_weighted(df, start=1)


@query(
    "graph_bfs_cosupply",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey <> b.l_suppkey
    ), start AS (
      SELECT MIN(l_suppkey) AS s FROM lineitem
    ), walk(vid, level) AS (
      SELECT s, 0 FROM start
      UNION
      SELECT e.dst, w.level + 1
      FROM walk w JOIN e ON e.src = w.vid
      WHERE w.level < 100
    )
    SELECT vid, CAST(MIN(level) AS INT) AS level FROM walk GROUP BY vid
    """,
    tags=("graph", "bfs", "fixture-derived"),
)
def graph_bfs_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS on a cyclic fixture-derived graph (suppliers linked by shared
    parts), checked against a recursive-CTE oracle — the scale-path
    demonstration that the frontier-join loop agrees with SQL reachability
    semantics on real data, not just hand-built goldens.

    ORACLE COUPLING: the CTE's ``w.level < 100`` bound is the cycle
    terminator (UNION-distinct dedups (vid, level) pairs, but levels keep
    growing around cycles without it). The Spark bfs is effectively
    unbounded (max_iter=10000), so the bound must stay far above any
    plausible eccentricity of the co-supply graph — its observed diameter
    is ≤ 4 at every test SF; 100 is a 25× margin."""
    # Pre-distinct each side to (part, supplier) before the pair join: the
    # self-join fan-out is then |suppliers-per-part|², not
    # |lineitems-per-part|² — result-identical, strictly less work.
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    a, b = ps.alias("a"), ps.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
        .distinct()
    )
    start = ps.agg(F.min("l_suppkey")).collect()[0][0]
    return bfs(edges, start=int(start))


@query(
    "graph_degrees_custsupp",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    )
    SELECT src AS vid, COUNT(*) AS out_degree
    FROM edges GROUP BY src
    """,
    tags=("graph", "degrees", "fixture-derived"),
)
def graph_degrees_custsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree analytics over a graph derived from fixture data: the
    customer→supplier bipartite graph induced by orders ⋈ lineitem. This is
    the 100 TB shape — edges come from a real join, degrees are one
    partial+final aggregation.

    The query needs OUT-degrees only (the oracle groups on src), so it
    aggregates the src side directly instead of calling ``degrees()``:
    the general operator also builds the in-degree aggregation (a second
    full exchange of every edge, keyed dst) and a full-outer join, whose
    only effect here was adding supplier rows with out_degree 0 that the
    ``out_degree > 0`` filter immediately removed — computed-then-
    discarded work the optimizer cannot prune through a full-outer join
    (guide §1.2). Row-for-row identical output: src-grouped counts are
    untouched, and every src group has count ≥ 1 so the old filter never
    dropped one."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    return edges.groupBy(F.col("src").alias("vid")).agg(
        F.count("*").alias("out_degree")
    )


# DAG fixture for topological ordering: sources {1, 7}, longest sink path
# 1→3→6→5 / 1→2→4→5 (level 3). Contains a skip edge (1→5) that level
# assignment must NOT shortcut — level is the LONGEST path from a source.
G7_DAG = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (1, 5), (3, 6), (6, 5), (7, 3)]


@query(
    "graph_topo_g7",
    oracle=(
        "SELECT CAST(v AS BIGINT) AS vid, CAST(l AS INT) AS topo_level "
        "FROM (VALUES (1, 0), (7, 0), (2, 1), (3, 1), (4, 2), (6, 2), "
        "(5, 3)) AS t(v, l)"
    ),
    tags=("graph", "topological-sort", "dag"),
)
def graph_topo_g7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layered topological order (Kahn peeling rounds = longest path from a
    source) of the G7 DAG, against a hand-verified golden. The skip edge
    1→5 checks that vertex 5 lands at level 3 (longest path), not level 1;
    the second source 7 checks multi-source initialization. Cycle
    detection (the ValueError path) is pytest-covered on the cyclic G2."""
    from distributed_graph_database_system_spark.operators.graph import (
        topo_levels,
    )

    return topo_levels(_edges(spark, G7_DAG))


@query(
    "graph_two_hop_counts",
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
    ),
    adj AS (
      SELECT src AS v, dst AS nb FROM e
      UNION ALL SELECT dst AS v, src AS nb FROM e
    ),
    two_hop AS (
      SELECT DISTINCT a.v, b.nb AS w
      FROM adj a JOIN adj b ON a.nb = b.v
      WHERE b.nb <> a.v
    ),
    strict AS (
      SELECT t.v, t.w FROM two_hop t
      LEFT JOIN adj d ON t.v = d.v AND t.w = d.nb
      WHERE d.v IS NULL
    )
    SELECT v AS vid, COUNT(*) AS n_two_hop
    FROM strict GROUP BY v ORDER BY vid
    """,
    tags=("graph", "neighborhood", "fixture-derived"),
)
def graph_two_hop_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict 2-hop neighborhood size per vertex of the co-supply graph:
    vertices reachable in exactly two hops that are neither the vertex
    itself nor a direct neighbor — the neighborhood-expansion primitive
    behind GNN sampling and friend-of-friend recommendation.

    Plan: symmetric adjacency self-joined on the middle vertex (the same
    hub-skew exposure as triangles — degree orientation is the 100 TB
    treatment), distinct pairs, anti-join against direct edges, one count
    aggregate. All-integer output, no float discipline needed."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    a, b = ps.alias("a"), ps.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
        .distinct()
    )
    adj = e.select(F.col("src").alias("v"), F.col("dst").alias("nb")).unionAll(
        e.select(F.col("dst").alias("v"), F.col("src").alias("nb"))
    )
    x, y = adj.alias("x"), adj.alias("y")
    two_hop = (
        x.join(y, F.col("x.nb") == F.col("y.v"))
        .where(F.col("y.nb") != F.col("x.v"))
        .select(F.col("x.v").alias("v"), F.col("y.nb").alias("w"))
        .distinct()
    )
    strict = two_hop.join(
        adj.select(F.col("v"), F.col("nb").alias("w")), ["v", "w"], "left_anti"
    )
    return (
        strict.groupBy(F.col("v").alias("vid"))
        .agg(F.count("*").alias("n_two_hop"))
        .orderBy("vid")
    )


@query(
    "graph_motif_feedforward",
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
    )
    SELECT e1.src AS a, COUNT(*) AS n_motifs
    FROM e e1 JOIN e e2 ON e1.dst = e2.src
              JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    GROUP BY e1.src ORDER BY a
    """,
    tags=("graph", "motif", "pattern-matching", "fixture-derived"),
)
def graph_motif_feedforward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative motif query 'a->b; b->c; a->c' (feed-forward triangle)
    over the canonically-oriented co-supply graph, compiled to joins by
    operators/graph.py find_motif — the pattern-matching surface of a
    graph database, checked against a plain three-way self-join oracle.
    On the src<dst orientation each triangle binds exactly once, so
    per-vertex motif counts equal oriented triangle ownership."""
    from distributed_graph_database_system_spark.operators.graph import (
        find_motif,
    )

    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    a, b = ps.alias("a"), ps.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
        .distinct()
    )
    m = find_motif(e, "a->b; b->c; a->c")
    return (
        m.groupBy("a").agg(F.count("*").alias("n_motifs")).orderBy("a")
    )


@query(
    "graph_scc_g2",
    oracle=(
        "SELECT CAST(v AS BIGINT) AS vid, CAST(s AS BIGINT) AS scc "
        "FROM (VALUES (1, 1), (2, 2), (3, 3), (4, 4), (5, 4), (6, 4)) "
        "AS t(v, s)"
    ),
    tags=("graph", "scc", "trim-color"),
)
def graph_scc_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of G2 (the 4→5→6→4 cycle plus a DAG
    prefix) via distributed trim-and-color (operators/graph.py
    strongly_connected_components): trimming peels the acyclic region as
    singletons, max-id coloring + same-color backward walk resolves the
    cycle as one component keyed by its min member. Random-digraph parity
    with an iterative Tarjan reference is pytest-asserted."""
    from distributed_graph_database_system_spark.operators.graph import (
        strongly_connected_components,
    )

    return strongly_connected_components(_edges(spark, G2))


@query(
    "graph_landmark_bfs_g2",
    oracle=(
        "SELECT CAST(v AS BIGINT) AS vid, CAST(l AS INT) AS level, "
        "CAST(lm AS BIGINT) AS landmark FROM (VALUES "
        "(1, 0, 1), (5, 0, 5), (2, 1, 1), (3, 1, 1), (6, 1, 5), (4, 2, 1)"
        ") AS t(v, l, lm)"
    ),
    tags=("graph", "bfs", "landmarks"),
)
def graph_landmark_bfs_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-landmark distances on G2 from sources {1, 5} in ONE shared
    frontier (operators/graph.py multi_source_bfs): vertex 4 is reached at
    level 2 by both walks and the tie resolves to the smaller landmark —
    the hand-verified golden pins both the min-level and the tie-break
    contract. Per-source-min equivalence on random digraphs is
    pytest-asserted."""
    from distributed_graph_database_system_spark.operators.graph import (
        multi_source_bfs,
    )

    return multi_source_bfs(_edges(spark, G2), [1, 5])


@query(
    "graph_temporal_reachability",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
             o_orderdate AS ts
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      UNION
      SELECT l_suppkey * 2 + 1 AS src, o_custkey * 2 AS dst,
             l_shipdate AS ts
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), start AS (
      SELECT o_custkey * 2 AS v FROM orders
      WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
    ), walk(vid, arrival) AS (
      SELECT v, TIMESTAMP '1970-01-01 00:00:00' FROM start
      UNION
      SELECT e.dst, e.ts
      FROM walk w JOIN e ON e.src = w.vid AND e.ts >= w.arrival
    )
    SELECT w.vid,
           CASE WHEN w.vid = (SELECT v FROM start) THEN NULL
                ELSE MIN(w.arrival) END AS arrival
    FROM walk w GROUP BY w.vid
    """,
    tags=("graph", "temporal", "reachability", "fixture-derived"),
)
def graph_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-arrival TEMPORAL reachability over the order flow: customer
    →supplier contact events at o_orderdate, supplier→customer at
    l_shipdate (vertex ids disjoint via 2k / 2k+1 encoding), from the
    first order's customer. A hop is valid only with non-decreasing
    timestamps — the supply-chain contagion question ('who could this
    actor have influenced, respecting time?') that static reachability
    over-approximates. Spark side: operators/graph.py temporal_bfs
    (label-correcting min-arrival frontier loop); oracle: recursive CTE
    enumerating all time-feasible (vertex, arrival) pairs and taking the
    min — start's label is NULL-as-minus-infinity on both sides."""
    from distributed_graph_database_system_spark.operators.graph import (
        temporal_bfs,
    )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"])
    e1 = j.select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
        F.col("o_orderdate").alias("ts"),
    )
    e2 = j.select(
        (F.col("l_suppkey") * 2 + 1).alias("src"),
        (F.col("o_custkey") * 2).alias("dst"),
        F.col("l_shipdate").alias("ts"),
    )
    edges = e1.unionByName(e2).distinct()
    start_row = (
        o.orderBy("o_orderkey").select("o_custkey").first()
    )
    return temporal_bfs(edges, int(start_row["o_custkey"]) * 2)


@query(
    "graph_critical_path_g7",
    oracle=(
        "SELECT CAST(v AS BIGINT) AS vid, CAST(d AS DOUBLE) AS dist "
        "FROM (VALUES (1, 0.0), (7, 0.0), (2, 3.0), (3, 10.0), (4, 17.0), "
        "(6, 19.0), (5, 30.0)) AS t(v, d)"
    ),
    tags=("graph", "critical-path", "dag", "scheduling"),
)
def graph_critical_path_g7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted critical path over G7 with weight(s→d) = s + d: vertex 5's
    longest route is 7→3→6→5 (10+9+11 = 30), beating both the direct 1→5
    skip edge (6) and the 1→3→4→5 chain — the hand-verified golden pins
    that max-relaxation keeps the MAXIMUM path sum, not the first or
    shortest. Exact small-integer-valued doubles; deterministic across
    engines. Cycle inputs raise (pytest-covered) instead of looping."""
    from distributed_graph_database_system_spark.operators.graph import (
        longest_path_dag,
    )

    wedges = [(s, d, float(s + d)) for s, d in G7_DAG]
    df = spark.createDataFrame(wedges, "src BIGINT, dst BIGINT, weight DOUBLE")
    return longest_path_dag(df)


@query(
    "graph_shortest_path_g2",
    oracle=(
        "SELECT CAST(s AS INT) AS step, CAST(v AS BIGINT) AS vid "
        "FROM (VALUES (0, 1), (1, 2), (2, 4), (3, 5), (4, 6)) AS t(s, v)"
    ),
    tags=("graph", "shortest-path", "reconstruction"),
)
def graph_shortest_path_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concrete shortest path 1→6 on G2: BFS reaches 4 at level 2 from
    BOTH 2 and 3 — the min-predecessor tie-break makes the returned route
    1→2→4→5→6 (never 1→3→4→5→6), which the golden pins. Unreachable and
    start==end cases are pytest-covered."""
    from distributed_graph_database_system_spark.operators.graph import (
        shortest_path,
    )

    return shortest_path(_edges(spark, G2), 1, 6)


@query(
    "graph_mis_g6",
    oracle=_vid_oracle([4, 6, 9, 10]),
    tags=("graph", "mis", "luby"),
)
def graph_mis_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luby maximal independent set on the G6 k-core fixture (4-clique +
    bridged 5-cycle + pendant). Deterministic hash priorities make the
    result a pure function of the graph; the golden {4, 6, 9, 10} is
    hand-verified independent (no two adjacent) and maximal (every other
    vertex has a member neighbor) — also asserted as properties over a
    derived co-supply graph in tests/test_graph.py."""
    from distributed_graph_database_system_spark.operators.graph import (
        maximal_independent_set,
    )

    return maximal_independent_set(_edges(spark, G6)).orderBy("vid")


@query(
    "graph_random_walks",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT l_partkey AS src,
             LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber, l_partkey) AS dst
      FROM lineitem
    ), ed AS (
      SELECT DISTINCT src, dst FROM pairs
      WHERE dst IS NOT NULL AND src <> dst
    ), adj AS (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
      FROM ed
    ), deg AS (
      SELECT src, COUNT(*) AS d FROM adj GROUP BY src
    ), seeds AS (
      SELECT DISTINCT src AS seed FROM adj WHERE src % 100 = 0
    ), walk(seed, walk_id, pos, v, path) AS (
      SELECT seed, w, 0, seed, CAST(seed AS VARCHAR)
      FROM seeds, (VALUES (0), (1)) AS t(w)
      UNION ALL
      SELECT wk.seed, wk.walk_id, wk.pos + 1, a.dst,
             wk.path || '->' || CAST(a.dst AS VARCHAR)
      FROM walk wk
      JOIN deg ON deg.src = wk.v
      JOIN adj a ON a.src = wk.v
       AND a.idx = CAST(('0x' || substr(md5(concat_ws('|',
             CAST(wk.seed AS VARCHAR), CAST(wk.walk_id AS VARCHAR),
             CAST(wk.pos AS VARCHAR), CAST(wk.v AS VARCHAR))), 1, 8))
             AS BIGINT) % deg.d
      WHERE wk.pos < 4
    )
    SELECT seed, CAST(walk_id AS INT) AS walk_id,
           CAST(pos AS INT) AS steps, path
    FROM walk
    WHERE pos = 4 OR v NOT IN (SELECT src FROM deg)
    ORDER BY seed, walk_id
    """,
    tags=("graph", "random-walk", "embedding"),
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus over the co-purchase sequence
    graph (part → next part within an order): 2 walks × ≤4 steps per seed,
    neighbor picks driven by md5 hashes instead of random draws
    (operators/graph.py random_walks) — the node2vec/DeepWalk input,
    reproducible across runs AND engines: the oracle re-walks every path
    with a recursive CTE making the identical md5-mod-outdegree choices,
    so a single divergent step hash-mismatches."""
    from distributed_graph_database_system_spark.operators.graph import (
        random_walks,
    )
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    # (orderkey, linenumber) is NOT unique in the fixture — the partkey
    # tie-break makes the partkey SEQUENCE (and so the pair set) a total
    # function of the data in both engines.
    nxt = F.lead("l_partkey").over(
        W.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    )
    ed = (
        li.select(F.col("l_partkey").alias("src"), nxt.alias("dst"))
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .distinct()
    )
    seeds = (
        ed.select("src")
        .distinct()
        .where(F.col("src") % 100 == 0)
        .select(F.col("src").alias("vid"))
    )
    walks = random_walks(ed, seeds, n_walks=2, length=4)
    return walks.select(
        "seed",
        F.col("walk_id").cast("int").alias("walk_id"),
        F.col("steps").cast("int").alias("steps"),
        "path",
    ).orderBy("seed", "walk_id")


@query(
    "graph_msf_g6w",
    oracle="""
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(w AS DOUBLE) AS w
    FROM (VALUES (1, 2, 66.0), (2, 3, 14.0), (2, 4, 31.0), (4, 5, 10.0),
                 (5, 6, 58.0), (6, 7, 6.0), (7, 8, 54.0), (8, 9, 2.0),
                 (8, 10, 19.0)) AS t(a, b, w)
    ORDER BY a, b
    """,
    tags=("graph", "mst", "boruvka"),
)
def graph_msf_g6w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka minimum spanning forest on G6 with deterministic distinct
    weights w = (31a + 17b) mod 100 + 1 — distinct weights make the MST
    unique, so the golden is THE spanning tree (9 edges over 10 vertices,
    total weight 260; Kruskal-verified). Per round every component picks
    its lightest outgoing edge and components contract through the
    connected-components operator — O(log n) rounds."""
    from distributed_graph_database_system_spark.operators.graph import (
        minimum_spanning_forest,
    )

    rows = [
        (a, b, float((a * 31 + b * 17) % 100 + 1))
        for a, b in G6
    ]
    e = spark.createDataFrame(rows, "src: long, dst: long, w: double")
    return minimum_spanning_forest(e).orderBy("a", "b")


@query(
    "graph_coreness_g6",
    oracle="""
    SELECT CAST(vid AS BIGINT) AS vid, CAST(coreness AS INT) AS coreness
    FROM (VALUES (1, 3), (2, 3), (3, 3), (4, 3), (5, 2), (6, 2), (7, 2),
                 (8, 2), (9, 2), (10, 1)) AS t(vid, coreness)
    ORDER BY vid
    """,
    tags=("graph", "coreness", "peeling"),
)
def graph_coreness_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full core decomposition of G6 by distributed bin-peeling
    (operators/graph.py core_decomposition): the 4-clique peels at phase 4
    (coreness 3), the bridged 5-cycle at phase 3 (coreness 2), the
    pendant at phase 2 (coreness 1) — hand-verified, and consistent with
    the registered k=3 core (graph_kcore_g6 ≡ coreness ≥ 3, asserted in
    tests/test_graph.py)."""
    from distributed_graph_database_system_spark.operators.graph import (
        core_decomposition,
    )

    e = _edges(spark, G6)
    return core_decomposition(e).select(
        "vid", F.col("coreness").cast("int").alias("coreness")
    ).orderBy("vid")


@query(
    "graph_ktruss_g6",
    oracle="""
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(s AS BIGINT) AS support
    FROM (VALUES (1, 2, 2), (1, 3, 2), (1, 4, 2), (2, 3, 2), (2, 4, 2),
                 (3, 4, 2)) AS t(a, b, s)
    ORDER BY a, b
    """,
    tags=("graph", "truss", "peeling"),
)
def graph_ktruss_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of G6 (operators/graph.py k_truss): edge-level peeling on
    triangle support strips the bridged 5-cycle and pendant entirely —
    cycle edges sit in zero triangles — leaving exactly the 4-clique's six
    edges, each supported by the two triangles through the other two
    clique vertices. Hand-verified; the brute-force-reference cross-check
    on the co-purchase graph lives in tests/test_graph.py."""
    from distributed_graph_database_system_spark.operators.graph import k_truss

    return k_truss(_edges(spark, G6), k=4).orderBy("a", "b")


@query(
    "graph_harmonic_centrality",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey <> b.l_suppkey
    ), lm AS (
      SELECT s FROM (SELECT DISTINCT src AS s FROM e WHERE src % 40 = 0)
      ORDER BY s LIMIT 16
    ), walk(seed, vid, level) AS (
      SELECT s, s, 0 FROM lm
      UNION
      SELECT w.seed, e.dst, w.level + 1
      FROM walk w JOIN e ON e.src = w.vid
      WHERE w.level < 100
    ), sp AS (
      SELECT seed, vid, MIN(level) AS d FROM walk GROUP BY seed, vid
    )
    SELECT vid,
           CAST(COUNT(*) AS BIGINT) AS n_landmarks_reaching,
           ROUND(CAST(SUM(CAST(ROUND(1.0 / d, 10) AS DECIMAL(28,10))) AS DOUBLE), 4)
             AS harmonic_score
    FROM sp WHERE d > 0 GROUP BY vid
    ORDER BY harmonic_score DESC, vid LIMIT 25
    """,
    tags=("graph", "centrality", "harmonic", "landmarks"),
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-approximated harmonic centrality on the co-supply graph:
    Σ 1/d(landmark, v) over a deterministic landmark set (suppkey % 40 =
    0, capped at the 16 smallest — a FIXED cap, so the landmark count is
    a constant at any data scale, the same Brandes-&-Pich sampling bound
    graph_betweenness_g2 uses) — the all-pairs statistic made tractable
    by sampling sources (full harmonic centrality is |V| BFS runs; the
    landmark estimate is |L| ≤ 16). ONE multi-source level-synchronous
    BFS carries the SEED in the frontier key — frontier rows are
    (seed, vid), so the executed round count is the landmark set's
    max-eccentricity, not landmarks × depth (operators/graph.py
    multi_source_bfs_all; round count pinned by tests/test_graph.py).
    Per-landmark distances fold as rounded-decimal 1/d sums so the score
    is order-free. The oracle re-walks the capped landmark set with a
    recursive CTE."""
    from distributed_graph_database_system_spark.operators.graph import (
        multi_source_bfs_all,
    )

    li = load_table(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("src"))
    b = li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("dst"))
    e = (
        a.join(b, "p")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint()
    )
    landmarks = [
        int(r["src"])
        for r in e.select("src")
        .distinct()
        .where(F.col("src") % 40 == 0)
        .orderBy("src")
        .limit(16)
        .collect()
    ]
    sp = multi_source_bfs_all(e, landmarks).select(
        "seed", "vid", F.col("level").alias("d")
    ).where(F.col("d") > 0)
    return (
        sp.groupBy("vid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_landmarks_reaching"),
            F.round(
                F.sum(
                    F.round(1.0 / F.col("d"), 10).cast("decimal(28,10)")
                ).cast("double"),
                4,
            ).alias("harmonic_score"),
        )
        .orderBy(F.desc("harmonic_score"), "vid")
        .limit(25)
    )


@query(
    "graph_diameter_g6",
    oracle="""
    SELECT CAST(s AS BIGINT) AS start_vid, CAST(p AS BIGINT) AS peripheral_vid,
           CAST(a AS BIGINT) AS antipode_vid, CAST(d AS INT) AS diameter_lb
    FROM (VALUES (1, 10, 1, 5)) AS t(s, p, a, d)
    """,
    tags=("graph", "diameter", "double-sweep"),
)
def graph_diameter_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep diameter lower bound on the G6 fixture (clique +
    bridged 5-cycle + pendant): sweep 1 from vid 1 peaks at the pendant
    10 (level 5), sweep 2 from 10 reaches 1 at distance 5 — the true
    diameter here (hand-verified: 10→8→9→5→4→1). Golden VALUES oracle,
    brute-force all-pairs parity in tests/test_graph.py."""
    from distributed_graph_database_system_spark.operators.graph import (
        diameter_double_sweep,
    )

    return diameter_double_sweep(_edges(spark, G6))


@query(
    "graph_betweenness_g2",
    oracle="""
    SELECT CAST(v AS BIGINT) AS vid, CAST(b AS DOUBLE) AS bc
    FROM (VALUES (1, 0.5), (2, 1.5), (3, 1.5), (4, 6.5), (5, 0.0), (6, 0.0))
      AS t(v, b)
    ORDER BY vid
    """,
    tags=("graph", "betweenness", "brandes"),
)
def graph_betweenness_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Brandes betweenness on the undirected G2 fixture — vertex 4
    carries every cross-cluster shortest path (bc 6.5); the golden VALUES
    are hand-verified against an independent python Brandes (also run as
    a property test on random graphs in tests/test_graph.py)."""
    from distributed_graph_database_system_spark.operators.graph import (
        betweenness_centrality,
    )

    return betweenness_centrality(_edges(spark, G2)).orderBy("vid")


@query(
    "graph_modularity_g6",
    oracle="""
    SELECT p AS partition, CAST(n AS BIGINT) AS n_communities,
           CAST(w AS BIGINT) AS within_edges, CAST(q AS DOUBLE) AS q
    FROM (VALUES ('clique-vs-cycle', 2, 12, 0.423077),
                 ('lpa', 2, 10, -0.026627)) AS t(p, n, w, q)
    ORDER BY partition
    """,
    tags=("graph", "modularity", "community"),
)
def graph_modularity_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of two G6 partitions — LPA's min-label flood
    (which merges the clique with most of the cycle: Q < 0, worse than
    random) vs the natural clique/cycle split (Q = 286/676 ≈ 0.4231).
    Q reduces to (4m·Σe_c − Σd_c²)/(4m²) — integer numerator, one
    division — so the goldens are exact rationals verified by hand in
    the operator docstring and independently in tests/test_graph.py."""
    from distributed_graph_database_system_spark.operators.graph import (
        label_propagation,
        modularity,
    )

    e = _edges(spark, G6)
    lpa = modularity(e, label_propagation(e, max_iter=10)).select(
        F.lit("lpa").alias("partition"), "n_communities", "within_edges", "q"
    )
    nat_labels = spark.createDataFrame(
        [(v, 1 if v <= 4 else 2) for v in range(1, 11)],
        "vid BIGINT, label BIGINT",
    )
    nat = modularity(e, nat_labels).select(
        F.lit("clique-vs-cycle").alias("partition"),
        "n_communities",
        "within_edges",
        "q",
    )
    return nat.unionByName(lpa).orderBy("partition")


@query(
    "graph_coloring_g6",
    oracle="""
    SELECT CAST(v AS BIGINT) AS vid, CAST(c AS INT) AS color
    FROM (VALUES (1, 2), (2, 3), (3, 1), (4, 0), (5, 1), (6, 0), (7, 1),
                 (8, 2), (9, 0), (10, 0)) AS t(v, c)
    ORDER BY vid
    """,
    tags=("graph", "coloring", "mis"),
)
def graph_coloring_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy vertex coloring of G6 by iterated Luby MIS — lands exactly
    4 colors, which is optimal here (the 4-clique {1..4} forces χ ≥ 4).
    Deterministic because each MIS round breaks ties by fixed hash
    priorities; properness and the clique lower bound are property-tested
    in tests/test_graph.py."""
    from distributed_graph_database_system_spark.operators.graph import (
        greedy_coloring,
    )

    return greedy_coloring(_edges(spark, G6)).orderBy("vid")


@query(
    "graph_hits_g2",
    oracle="""
    SELECT CAST(v AS BIGINT) AS vid, CAST(h AS DOUBLE) AS hub,
           CAST(a AS DOUBLE) AS authority
    FROM (VALUES (1, 0.012838, 0.0), (2, 0.329021, 0.018771),
                 (3, 0.329021, 0.018771), (4, 0.00005, 0.962165),
                 (5, 0.00005, 0.000147), (6, 0.329021, 0.000147))
      AS t(v, h, a)
    ORDER BY vid
    """,
    tags=("graph", "hits", "centrality"),
)
def graph_hits_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS on directed G2 after 8 L1-normalized rounds: vertex 4 is the
    dominant authority (pointed at by the hub set {2, 3, 6}), and the
    hubs split the hub mass. Golden pinned from the fixed-point decimal
    iteration (byte-identical under any partitioning); numpy
    power-iteration parity in tests/test_graph.py."""
    from distributed_graph_database_system_spark.operators.graph import hits

    return hits(_edges(spark, G2)).orderBy("vid")


# Symmetrized G6 VALUES list shared by the two multi-source oracles below
# (the undirected view of the fixture: every edge in both directions).
_G6_SYM_VALUES = """(VALUES
      (1,2),(2,1),(1,3),(3,1),(1,4),(4,1),(2,3),(3,2),(2,4),(4,2),
      (3,4),(4,3),(5,6),(6,5),(6,7),(7,6),(7,8),(8,7),(8,9),(9,8),
      (9,5),(5,9),(4,5),(5,4),(8,10),(10,8)) AS t(src, dst)"""


@query(
    "graph_multi_source_bfs_g6",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT src, dst FROM {_G6_SYM_VALUES}
    ), walk(seed, vid, level) AS (
      SELECT s, s, 0 FROM (VALUES (1), (10)) AS lm(s)
      UNION
      SELECT w.seed, e.dst, w.level + 1
      FROM walk w JOIN e ON e.src = w.vid WHERE w.level < 20
    )
    SELECT CAST(seed AS BIGINT) AS seed, CAST(vid AS BIGINT) AS vid,
           CAST(MIN(level) AS INT) AS level
    FROM walk GROUP BY seed, vid ORDER BY seed, vid
    """,
    tags=("graph", "bfs", "multi-source"),
)
def graph_multi_source_bfs_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-seed distance table from TWO landmarks (the clique corner 1
    and the pendant 10) over undirected G6 in ONE level-synchronous
    frontier — the operator behind the round-9 harmonic-centrality
    rewrite (operators/graph.py multi_source_bfs_all: frontier rows are
    (seed, vid) pairs, round count = max eccentricity of the seed set,
    not seeds x depth). The oracle re-walks both seeds with a recursive
    CTE taking MIN(level) per (seed, vid)."""
    from distributed_graph_database_system_spark.operators.graph import (
        multi_source_bfs_all,
    )

    sym = G6 + [(b, a) for a, b in G6]
    return (
        multi_source_bfs_all(_edges(spark, sym), [1, 10])
        .select("seed", "vid", "level")
        .orderBy("seed", "vid")
    )


@query(
    "graph_eccentricity_g6",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT src, dst FROM {_G6_SYM_VALUES}
    ), walk(seed, vid, level) AS (
      SELECT s, s, 0 FROM (SELECT DISTINCT src AS s FROM e)
      UNION
      SELECT w.seed, e.dst, w.level + 1
      FROM walk w JOIN e ON e.src = w.vid WHERE w.level < 20
    ), sp AS (
      SELECT seed, vid, MIN(level) AS d FROM walk GROUP BY seed, vid
    )
    SELECT CAST(seed AS BIGINT) AS vid, CAST(MAX(d) AS INT) AS eccentricity,
           CAST(COUNT(*) AS BIGINT) AS n_reached
    FROM sp WHERE d > 0 GROUP BY seed ORDER BY vid
    """,
    tags=("graph", "eccentricity", "multi-source"),
)
def graph_eccentricity_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT eccentricity of every G6 vertex — all |V| BFS trees carried
    in one multi_source_bfs_all frontier (every vertex a seed), then one
    aggregation: ecc(v) = max distance, n_reached the connectivity
    census. The all-sources special case is the textbook diameter/radius
    primitive; the double-sweep estimate (graph_diameter_g6) lower-bounds
    the true diameter = max eccentricity asserted here. Recursive-CTE
    oracle recomputes all shortest paths."""
    from distributed_graph_database_system_spark.operators.graph import (
        multi_source_bfs_all,
    )

    sym = G6 + [(b, a) for a, b in G6]
    e = _edges(spark, sym)
    seeds = sorted({a for a, _ in sym})
    return (
        multi_source_bfs_all(e, seeds)
        .where(F.col("level") > 0)
        .groupBy(F.col("seed").alias("vid"))
        .agg(
            F.max("level").cast("int").alias("eccentricity"),
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
        )
        .orderBy("vid")
    )


@query(
    "graph_articulation_points_g6",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT src, dst FROM {_G6_SYM_VALUES}
    ), verts AS (SELECT DISTINCT src AS v FROM e),
    roots AS (
      SELECT x.v AS excl, MIN(o.v) AS root
      FROM verts x JOIN verts o ON o.v <> x.v GROUP BY x.v
    ), walk(excl, vid) AS (
      SELECT excl, root FROM roots
      UNION
      SELECT w.excl, e.dst FROM walk w JOIN e ON e.src = w.vid
      WHERE e.dst <> w.excl
    ), reach AS (
      SELECT excl, COUNT(*) AS c FROM walk GROUP BY excl
    ), nv AS (SELECT COUNT(*) AS n FROM verts)
    SELECT CAST(excl AS BIGINT) AS vid, CAST(c AS BIGINT) AS n_reached,
           CAST(CASE WHEN c < nv.n - 1 THEN 1 ELSE 0 END AS INT)
             AS is_articulation
    FROM reach CROSS JOIN nv ORDER BY vid
    """,
    tags=("graph", "articulation", "what-if", "connectivity"),
)
def graph_articulation_points_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Articulation points of undirected G6 — {4, 5, 8}: 4 severs the
    clique from the cycle, 5 severs the clique side from the cycle, 8
    strands the pendant 10. Computed by BATCHED what-if reachability
    (operators/graph.py articulation_points): all |V| one-vertex-removed
    BFS trees ride ONE level-synchronous frontier keyed (excl, vid) —
    the distributed trade for Tarjan's inherently DFS-sequential
    linear-time algorithm, with a max_candidates guard + candidate
    sampling as the at-scale contract. The oracle replays every
    exclusion with a recursive CTE whose expansion skips the removed
    vertex."""
    from distributed_graph_database_system_spark.operators.graph import (
        articulation_points,
    )

    sym = G6 + [(b, a) for a, b in G6]
    return articulation_points(_edges(spark, sym)).orderBy("vid")


@query(
    "graph_bridges_g6",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT src, dst FROM {_G6_SYM_VALUES}
    ), cand AS (
      SELECT src AS ea, dst AS eb FROM e WHERE src < dst
    ), walk(ea, eb, vid) AS (
      SELECT ea, eb, ea FROM cand
      UNION
      SELECT w.ea, w.eb, e.dst FROM walk w JOIN e ON e.src = w.vid
      WHERE NOT (e.src = w.ea AND e.dst = w.eb)
        AND NOT (e.src = w.eb AND e.dst = w.ea)
    ), reach AS (
      SELECT ea, eb, COUNT(*) AS c FROM walk GROUP BY ea, eb
    ), nv AS (SELECT COUNT(DISTINCT src) AS n FROM e)
    SELECT CAST(ea AS BIGINT) AS src, CAST(eb AS BIGINT) AS dst,
           CAST(c AS BIGINT) AS n_reached,
           CAST(CASE WHEN c < nv.n THEN 1 ELSE 0 END AS INT) AS is_bridge
    FROM reach CROSS JOIN nv ORDER BY src, dst
    """,
    tags=("graph", "bridges", "what-if", "connectivity"),
)
def graph_bridges_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bridge edges of undirected G6 — {4–5, 8–10}: the clique-to-cycle
    link and the pendant edge; every clique/cycle edge sits on a cycle
    and survives. Batched what-if BFS per candidate edge
    (operators/graph.py bridges), one frontier keyed by the canonical
    (a < b) edge id with the excluded edge dropped in both directions
    inside the expansion join. The at-scale screen (an edge in any
    triangle is never a bridge) is documented on the operator; the
    oracle replays each exclusion recursively."""
    from distributed_graph_database_system_spark.operators.graph import (
        bridges,
    )

    sym = G6 + [(b, a) for a, b in G6]
    return bridges(_edges(spark, sym)).orderBy("src", "dst")


@query(
    "graph_closeness_centrality_g6",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT src, dst FROM {_G6_SYM_VALUES}
    ), walk(seed, vid, level) AS (
      SELECT s, s, 0 FROM (SELECT DISTINCT src AS s FROM e)
      UNION
      SELECT w.seed, e.dst, w.level + 1
      FROM walk w JOIN e ON e.src = w.vid WHERE w.level < 20
    ), sp AS (
      SELECT seed, vid, MIN(level) AS d FROM walk GROUP BY seed, vid
    ), agg AS (
      SELECT seed, CAST(COUNT(*) AS BIGINT) AS r,
             CAST(SUM(d) AS BIGINT) AS sum_d
      FROM sp WHERE d > 0 GROUP BY seed
    ), nv AS (SELECT COUNT(DISTINCT src) AS n FROM e)
    SELECT CAST(seed AS BIGINT) AS vid, r AS n_reached, sum_d,
           ROUND((CAST(r AS DOUBLE) / (nv.n - 1))
                 * (CAST(r AS DOUBLE) / sum_d), 6) AS closeness
    FROM agg CROSS JOIN nv ORDER BY vid
    """,
    tags=("graph", "closeness", "centrality", "multi-source"),
)
def graph_closeness_centrality_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Wasserman-Faust closeness centrality of every G6 vertex:
    (r/(n−1))·(r/Σd) with r = vertices reached, Σd the distance sum —
    the disconnected-safe normalization (plain (n−1)/Σd inflates
    vertices in small components). All |V| BFS trees ride ONE
    multi_source_bfs_all frontier (the eccentricity query's sibling —
    same distance table, complementary reduction: max there, sum here;
    the Σ1/d variant is graph_harmonic_centrality). Counts and distance
    sums are exact integers; closeness is one two-division expression."""
    from distributed_graph_database_system_spark.operators.graph import (
        multi_source_bfs_all,
    )

    sym = G6 + [(b, a) for a, b in G6]
    e = _edges(spark, sym)
    seeds = sorted({a for a, _ in sym})
    n = len(seeds)
    r = F.count(F.lit(1)).cast("bigint")
    return (
        multi_source_bfs_all(e, seeds)
        .where(F.col("level") > 0)
        .groupBy(F.col("seed").alias("vid"))
        .agg(
            r.alias("n_reached"),
            F.sum("level").cast("bigint").alias("sum_d"),
        )
        .select(
            "vid",
            "n_reached",
            "sum_d",
            F.round(
                (F.col("n_reached").cast("double") / F.lit(n - 1))
                * (F.col("n_reached").cast("double") / F.col("sum_d")),
                6,
            ).alias("closeness"),
        )
        .orderBy("vid")
    )


@query(
    "graph_whatif_cut_cosupply",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey <> b.l_suppkey
    ), r AS (SELECT MIN(src) AS root FROM e),
    verts AS (SELECT DISTINCT src AS v FROM e),
    cand AS (
      SELECT v FROM verts CROSS JOIN r WHERE v <> r.root
      ORDER BY md5(CAST(v AS VARCHAR)), v LIMIT 8
    ), full_walk(vid) AS (
      SELECT root FROM r
      UNION
      SELECT e.dst FROM full_walk w JOIN e ON e.src = w.vid
    ), fullr AS (SELECT CAST(COUNT(*) AS BIGINT) AS nfull FROM full_walk),
    walk(excl, vid) AS (
      SELECT c.v, r.root FROM cand c CROSS JOIN r
      UNION
      SELECT w.excl, e.dst FROM walk w JOIN e ON e.src = w.vid
      WHERE e.dst <> w.excl
    ), reach AS (
      SELECT excl, CAST(COUNT(*) AS BIGINT) AS n_reached
      FROM walk GROUP BY excl
    )
    SELECT CAST(excl AS BIGINT) AS vid, n_reached,
           CAST(GREATEST(0, nfull - 1 - n_reached) AS BIGINT) AS n_lost,
           CAST(CASE WHEN nfull - 1 - n_reached > 0 THEN 1 ELSE 0 END
                AS INT) AS is_cut
    FROM reach CROSS JOIN fullr ORDER BY vid
    """,
    tags=("graph", "what-if", "articulation", "fixture-derived", "sampled"),
)
def graph_whatif_cut_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What-if cut screening on the REAL co-supply graph (suppliers
    linked by shared parts) with an md5-SAMPLED candidate set — the
    at-scale contract the articulation operator documents, exercised on
    fixture-derived data rather than a hand-built golden: 8 candidates
    picked by portable md5 order ride one (excl, vid) frontier; n_lost
    counts vertices the root can no longer reach (the co-supply graph is
    dense, so the expected answer is "no cuts" — the screen proves the
    NEGATIVE cheaply, which is exactly how a supply-chain resilience
    audit uses it). The recursive-CTE oracle replays every exclusion;
    both walks are cycle-safe because the recursion carries no level
    column (UNION dedups plain (excl, vid))."""
    from distributed_graph_database_system_spark.operators.graph import (
        bfs,
        excluded_vertex_reach,
    )

    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    a, b = ps.alias("a"), ps.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
        .distinct()
        .localCheckpoint()  # feeds root/cand/baseline/what-if: derive once
    )
    verts = edges.select(F.col("src").alias("v")).distinct()
    root = int(verts.agg(F.min("v")).collect()[0][0])
    cand = [
        int(r["v"])
        for r in verts.where(F.col("v") != root)
        .orderBy(F.md5(F.col("v").cast("string")), "v")
        .limit(8)
        .collect()
    ]
    nfull = bfs(edges, start=root).count()
    reach = excluded_vertex_reach(edges, cand)
    # Clamp: a candidate OUTSIDE the root's component still reaches every
    # one of the root's nfull vertices (excluding it removes nothing), so
    # the raw nfull - 1 - n_reached would read -1 on a disconnected
    # co-supply graph. GREATEST(0, ...) on both sides keeps the output
    # semantically "vertices lost", never negative; is_cut keeps the
    # strict > 0 test so such candidates correctly report not-a-cut.
    n_lost = F.lit(nfull) - 1 - F.col("n_reached")
    return (
        reach.groupBy(F.col("excl").alias("vid"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_reached"))
        .select(
            "vid",
            "n_reached",
            F.greatest(F.lit(0), n_lost).cast("bigint").alias("n_lost"),
            F.when(n_lost > 0, 1).otherwise(0).cast("int").alias("is_cut"),
        )
        .orderBy("vid")
    )
