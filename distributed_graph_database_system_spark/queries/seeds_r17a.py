"""R17 pool head start, banked in round 14 (the ``seeds_r15a``
precedent: a few first-time queries registered a round ahead so the
round-16 session starts its pool with parity-green names in hand).
Families: two graph goldens (DAG immediate dominators, Eulerian
circuit/path checks), the Neyman-plan APPLY step with a deterministic
md5 draw, first-touch conversion attribution, daily peak-to-mean load
ratios, an ORC-codec writer leg, a zero-inflation Poisson screen, and
a per-language vocabulary Simpson index.

All parity-verified at sf0.001/0.01/0.1 and partition-invariance-swept
at registration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from distributed_graph_database_system_spark.queries.helpers import (
    dec,
    md5_uniform,
    scratch_dir,
)
from distributed_graph_database_system_spark.queries.registry import query
from distributed_graph_database_system_spark.sources.catalog import load_table


# --- DAG immediate dominators -------------------------------------------------------------


@query(
    "graph_dominator_tree_g7",
    oracle="""
    SELECT CAST(v AS BIGINT) AS vid, CAST(d AS BIGINT) AS idom
    FROM (VALUES (2, 1), (3, 1), (4, 1), (5, 1), (6, 3)) AS t(v, d)
    ORDER BY vid
    """,
    tags=("graph", "dominators", "dataflow", "golden"),
)
def graph_dominator_tree_g7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Immediate dominators of the G7 DAG from root 1 — the compiler/
    control-flow primitive (d dominates v iff EVERY root→v path passes
    d). Computed by the classic iterative data-flow fixpoint expressed
    relationally: dom(v) = {v} ∪ ∩_{p∈preds(v)} dom(p), where the
    intersection is a (pred, dom)-join counted against |preds| — each
    round is one join + one group-by, and the loop runs to fixpoint
    (≤ DAG depth rounds). idom(v) = the non-self dominator that
    dominates the fewest vertices (the chain's closest element; the
    root dominates all |V|). Golden recomputed by an
    independent python fixpoint; vertex 7 is unreachable from the root
    and correctly absent."""
    from distributed_graph_database_system_spark.operators.graph import bfs
    from distributed_graph_database_system_spark.queries.graph import G7_DAG

    edges = spark.createDataFrame(G7_DAG, "src BIGINT, dst BIGINT")
    root = 1
    reach = bfs(edges, root).select("vid")
    # the fixpoint settles within DAG depth + 1 ≤ |reach| rounds, plus one
    # confirming round
    max_rounds = reach.count() + 1
    e = edges.join(reach.withColumnRenamed("vid", "src"), "src").join(
        reach.withColumnRenamed("vid", "dst"), "dst"
    )
    npreds = e.groupBy(F.col("dst").alias("vid")).agg(
        F.countDistinct("src").alias("np")
    )
    verts = reach
    # dom as (vid, d) pairs; init: root->{root}, others->all reachable
    dom = (
        verts.where(F.col("vid") != root)
        .crossJoin(verts.select(F.col("vid").alias("d")))
        .unionByName(
            spark.createDataFrame([(root, root)], "vid BIGINT, d BIGINT")
        )
    )
    for _ in range(max_rounds):
        # d survives for v (v != root) iff d == v, or d is in dom(p) for
        # EVERY predecessor p of v.
        via_preds = (
            e.join(
                dom.withColumnRenamed("vid", "src"),
                "src",
            )
            .select(F.col("dst").alias("vid"), "d")
            .groupBy("vid", "d")
            .agg(F.count(F.lit(1)).alias("k"))
            .join(npreds, "vid")
            .where(F.col("k") == F.col("np"))
            .select("vid", "d")
        )
        self_pairs = verts.select("vid", F.col("vid").alias("d"))
        root_pair = spark.createDataFrame(
            [(root, root)], "vid BIGINT, d BIGINT"
        )
        nxt = (
            via_preds.where(F.col("vid") != root)
            .unionByName(self_pairs.where(F.col("vid") != root))
            .unionByName(root_pair)
            .distinct()
        )
        if nxt.count() == dom.count() and nxt.exceptAll(dom).count() == 0:
            dom = nxt
            break
        dom = nxt
    else:
        raise RuntimeError(
            "graph_dominator_tree_g7: dominator fixpoint did not converge "
            f"within {max_rounds} rounds"
        )
    # idom(v): the candidates dom(v)\{v} form a dominator CHAIN; the
    # immediate (closest) one is the chain element dominating the FEWEST
    # vertices overall (the root dominates everything, sz = |V|).
    size = dom.groupBy(F.col("d").alias("dd")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    cands = (
        dom.where(F.col("vid") != F.col("d"))
        .join(size, dom.d == size.dd)
        .select("vid", "d", "sz")
    )
    return (
        cands.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("vid").orderBy(F.asc("sz"), "d")
            ),
        )
        .where(F.col("rk") == 1)
        .select("vid", F.col("d").alias("idom"))
        .orderBy("vid")
    )


# --- Eulerian circuit / path checks ----------------------------------------------------------


@query(
    "graph_eulerian_check_goldens",
    oracle="""
    SELECT g AS graph, CAST(nv AS BIGINT) AS n_vertices,
           CAST(ne AS BIGINT) AS n_edges,
           CAST(nodd AS BIGINT) AS n_odd_degree,
           CAST(circ AS BOOLEAN) AS has_euler_circuit,
           CAST(pth AS BOOLEAN) AS has_euler_path
    FROM (VALUES
      ('g2', 6, 7, 0, TRUE, TRUE), ('g6', 10, 13, 6, FALSE, FALSE),
      ('g7', 7, 9, 4, FALSE, FALSE), ('g8', 16, 26, 10, FALSE, FALSE)
    ) AS t(g, nv, ne, nodd, circ, pth) ORDER BY graph
    """,
    tags=("graph", "eulerian", "degree-parity", "golden"),
)
def graph_eulerian_check_goldens(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Eulerian circuit/path existence for the four golden fixtures —
    the degree-parity theorem made relational: a connected graph has an
    Euler circuit iff every degree is even, a path iff exactly 0 or 2
    odd vertices. Degrees and parity counts are one aggregation;
    connectivity reuses the BFS operator. G2 (the only all-even
    fixture) is the lone Eulerian graph. Goldens verified by an
    independent python pass."""
    from distributed_graph_database_system_spark.operators.graph import (
        EDGE_SCHEMA,
        multi_source_bfs_all,
    )
    from distributed_graph_database_system_spark.queries.graph import (
        G2,
        G6,
        G7_DAG,
    )
    from distributed_graph_database_system_spark.queries.seeds_r13a import G8

    out = None
    for name, rows in (
        ("g2", G2),
        ("g6", G6),
        ("g7", G7_DAG),
        ("g8", list(G8)),
    ):
        und = sorted({tuple(sorted(p)) for p in rows})
        sym = und + [(b, a) for a, b in und]
        e = spark.createDataFrame(sorted(sym), EDGE_SCHEMA)
        verts = sorted({a for a, b in und} | {b for _, b in und})
        reached = (
            multi_source_bfs_all(e, [min(verts)])
            .agg(F.count(F.lit(1)).alias("n_reached"))
        )
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        par = deg.agg(
            F.sum((F.col("d") % 2)).cast("bigint").alias("n_odd")
        )
        row = (
            par.crossJoin(reached)
            .select(
                F.lit(name).alias("graph"),
                F.lit(len(verts)).cast("bigint").alias("n_vertices"),
                F.lit(len(und)).cast("bigint").alias("n_edges"),
                F.col("n_odd").alias("n_odd_degree"),
                (
                    (F.col("n_reached") == len(verts))
                    & (F.col("n_odd") == 0)
                ).alias("has_euler_circuit"),
                (
                    (F.col("n_reached") == len(verts))
                    & (F.col("n_odd").isin(0, 2))
                ).alias("has_euler_path"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("graph")


# --- Neyman plan APPLY (deterministic draw) -----------------------------------------------------


@query(
    "sample_neyman_allocation_apply",
    oracle="""
    WITH m AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS nh,
             CAST(SUM(n_chars) AS DECIMAL(38,0)) AS s,
             CAST(SUM(CAST(n_chars AS DECIMAL(38,0)) * n_chars)
                  AS DECIMAL(38,0)) AS q
      FROM documents GROUP BY lang
    ), w AS (
      SELECT lang, nh,
             CAST(ROUND(nh * SQRT((CAST(q AS DOUBLE) * nh
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (CAST(nh AS DOUBLE) * (nh - 1))), 6)
               AS DECIMAL(28,6)) AS nhsh
      FROM m
    ), t AS (SELECT CAST(SUM(nhsh) AS DECIMAL(38,6)) AS tot FROM w),
    plan AS (
      SELECT lang, nh,
             CAST(tot AS DOUBLE) AS tot_d,
             0.2 * CAST(nhsh AS DOUBLE) / CAST(tot AS DOUBLE)
               * (SELECT SUM(nh) FROM w) / nh AS frac
      FROM w CROSS JOIN t
    ), drawn AS (
      SELECT d.lang,
             CAST(SUM(CASE WHEN
                 CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) / 4294967296.0 < p.frac
               THEN 1 ELSE 0 END) AS BIGINT) AS n_drawn
      FROM documents d JOIN plan p ON d.lang = p.lang
      GROUP BY d.lang
    )
    SELECT p.lang, p.nh AS n_docs,
           CAST(ROUND(p.frac * p.nh) AS BIGINT) AS target_n,
           dr.n_drawn,
           ROUND(CAST(dr.n_drawn AS DOUBLE) / p.nh, 6) AS realized_rate
    FROM plan p JOIN drawn dr ON p.lang = dr.lang
    ORDER BY p.lang
    """,
    tags=("pipeline", "sampling", "neyman", "md5-deterministic"),
)
def sample_neyman_allocation_apply(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """APPLY step of the Neyman plan (the sibling registration computes
    it): a 20%-of-corpus budget is allocated ∝ N_h·S_h, converted to a
    per-stratum sampling fraction, and drawn with the deterministic md5
    uniform — membership is a pure function of doc_id, so the drawn
    sample is reproducible across engines and partitionings (the audit
    compares target vs realized counts per stratum)."""
    d = load_table(spark, sf_dir, "documents")
    d38 = "decimal(38,0)"
    m = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("nh"),
        F.sum("n_chars").cast(d38).alias("s"),
        F.sum(F.col("n_chars").cast(d38) * F.col("n_chars"))
        .cast(d38)
        .alias("q"),
    )
    sh = F.sqrt(
        (
            F.col("q").cast("double") * F.col("nh")
            - F.col("s").cast("double") * F.col("s").cast("double")
        )
        / (F.col("nh").cast("double") * (F.col("nh") - 1))
    )
    w = m.select(
        "lang",
        "nh",
        F.round(F.col("nh") * sh, 6).cast("decimal(28,6)").alias("nhsh"),
    )
    t = w.agg(
        F.sum("nhsh").cast("decimal(38,6)").alias("tot"),
        F.sum("nh").cast("bigint").alias("n_total"),
    )
    plan = w.crossJoin(F.broadcast(t)).select(
        "lang",
        "nh",
        (
            F.lit(0.2)
            * F.col("nhsh").cast("double")
            / F.col("tot").cast("double")
            * F.col("n_total")
            / F.col("nh")
        ).alias("frac"),
    )
    drawn = (
        d.join(F.broadcast(plan), "lang")
        .groupBy("lang")
        .agg(
            F.sum(
                F.when(md5_uniform("doc_id") < F.col("frac"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_drawn")
        )
    )
    return (
        plan.join(drawn, "lang")
        .select(
            "lang",
            F.col("nh").alias("n_docs"),
            F.round(F.col("frac") * F.col("nh"))
            .cast("bigint")
            .alias("target_n"),
            "n_drawn",
            F.round(
                F.col("n_drawn").cast("double") / F.col("nh"), 6
            ).alias("realized_rate"),
        )
        .orderBy("lang")
    )


# --- conversion rate by first touch ----------------------------------------------------------------


@query(
    "events_conversion_by_first_touch",
    oracle="""
    WITH ft AS (
      SELECT user_id,
             struct_extract(MIN(ROW(ts, event_id, event_type)), 3)
               AS first_touch
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    SELECT ft.first_touch,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN conv.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted,
           ROUND(CAST(SUM(CASE WHEN conv.user_id IS NOT NULL THEN 1
                          ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS conversion_rate
    FROM ft LEFT JOIN conv ON ft.user_id = conv.user_id
    GROUP BY ft.first_touch ORDER BY ft.first_touch
    """,
    tags=("events", "attribution", "first-touch", "conversion"),
)
def events_conversion_by_first_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conversion rate conditioned on each user's FIRST-ever touch type —
    the acquisition-quality read ('users who arrive via error pages
    don't buy'). First touch is an exact struct MIN over
    (ts, event_id, type); conversion is a left semi-style join against
    the distinct purchaser set."""
    e = load_table(spark, sf_dir, "events")
    ft = e.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
            "first_touch"
        )
    )
    conv = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("c", F.lit(1))
    )
    return (
        ft.join(conv, "user_id", "left")
        .groupBy("first_touch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(F.when(F.col("c").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_converted"),
            F.round(
                F.sum(F.when(F.col("c").isNotNull(), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("conversion_rate"),
        )
        .orderBy("first_touch")
    )


# --- daily peak-to-mean load ratio -----------------------------------------------------------------


@query(
    "events_daily_peak_to_mean",
    oracle="""
    WITH h AS (
      SELECT CAST(ts AS DATE) AS day, EXTRACT(HOUR FROM ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY day, hr
    ), d AS (
      SELECT day,
             CAST(MAX(n) AS BIGINT) AS peak_n,
             CAST(SUM(n) AS BIGINT) AS total_n,
             CAST(COUNT(*) AS BIGINT) AS n_active_hours,
             MIN(CASE WHEN n = (SELECT MAX(n2.n) FROM h n2
                                WHERE n2.day = h.day) THEN hr END)
               AS peak_hour
      FROM h GROUP BY day
    )
    SELECT CAST(day AS TIMESTAMP) AS day, CAST(peak_hour AS INT)
             AS peak_hour, peak_n, total_n,
           ROUND(CAST(peak_n * 24 AS DOUBLE) / total_n, 4)
             AS peak_to_mean
    FROM d ORDER BY day
    """,
    tags=("events", "capacity", "peak-to-mean", "time-series"),
)
def events_daily_peak_to_mean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily peak-to-mean hourly load ratio (PAR) with the peak hour —
    the capacity-planning number that sizes burst headroom (PAR ≈ 1 is
    flat load; high PAR means provisioning for spikes). The ratio
    24·peak/total is exact integers until one division; the peak hour
    argmax tie-breaks to the earliest hour via struct MAX on
    (n, −hr)."""
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        F.to_date("ts").alias("day"), F.hour("ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    d = h.groupBy("day").agg(
        F.max(F.struct(F.col("n"), (-F.col("hr")).alias("nhr")))
        .alias("pk"),
        F.sum("n").cast("bigint").alias("total_n"),
        F.count(F.lit(1)).cast("bigint").alias("n_active_hours"),
    )
    return d.select(
        F.col("day").cast("timestamp").alias("day"),
        (-F.col("pk.nhr")).cast("int").alias("peak_hour"),
        F.col("pk.n").alias("peak_n"),
        "total_n",
        F.round(
            (F.col("pk.n") * 24).cast("double") / F.col("total_n"), 4
        ).alias("peak_to_mean"),
    ).orderBy("day")


# --- ORC codec writer leg ----------------------------------------------------------------------------


@query(
    "sink_orc_zlib_roundtrip",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100
                AS BIGINT)) AS BIGINT) AS qty_cents
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("sinks", "orc", "compression", "zlib", "roundtrip"),
)
def sink_orc_zlib_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC WRITER roundtrip under the zlib codec (ORC's classic default,
    distinct from the snappy default Spark ships) — lineitem quantities
    ride as integer cents, write, re-read, census. Covers the
    compression-option leg of the ORC sink the partitioned-ORC
    registration leaves untouched."""
    import os

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        (dec("l_quantity", 12, 2) * 100).cast("bigint").alias("qty_cents"),
    )
    path = scratch_dir("sinks", sf_dir, "orc_zlib_lineitem")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    li.write.mode("overwrite").option("compression", "zlib").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("qty_cents").cast("bigint").alias("qty_cents"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- zero-inflation Poisson screen ----------------------------------------------------------------------


@query(
    "customers_zero_order_poisson_check",
    oracle="""
    WITH k AS (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(n) AS BIGINT) AS n_orders,
             CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero
      FROM k
    )
    SELECT n_customers, n_orders, n_zero,
           ROUND(CAST(n_zero AS DOUBLE) / n_customers, 6)
             AS observed_zero_share,
           ROUND(EXP(-(CAST(n_orders AS DOUBLE) / n_customers)), 6)
             AS poisson_zero_share,
           ROUND(CAST(n_zero AS DOUBLE) / n_customers
                 / EXP(-(CAST(n_orders AS DOUBLE) / n_customers)), 4)
             AS zero_inflation_ratio
    FROM s
    """,
    tags=("stats", "zero-inflation", "poisson", "outer-join"),
)
def customers_zero_order_poisson_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Zero-inflation screen on orders-per-customer: compare the
    observed share of zero-order customers against the Poisson
    prediction e^(−λ) at the same mean — a ratio ≫ 1 says the base is
    a mixture (a never-buyer segment plus a Poisson buyer segment), the
    modeling fork between Poisson and ZIP/NB regressions. One outer
    join + exact counts; e^(−λ) is a fixed double expression."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    k = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("n"))
    )
    s = k.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("n").cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("n") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
    )
    lam = F.col("n_orders").cast("double") / F.col("n_customers")
    obs = F.col("n_zero").cast("double") / F.col("n_customers")
    return s.select(
        "n_customers",
        "n_orders",
        "n_zero",
        F.round(obs, 6).alias("observed_zero_share"),
        F.round(F.exp(-lam), 6).alias("poisson_zero_share"),
        F.round(obs / F.exp(-lam), 4).alias("zero_inflation_ratio"),
    )


# --- per-language vocabulary Simpson index ------------------------------------------------------------------


@query(
    "documents_vocab_simpson_index",
    oracle="""
    WITH w AS (
      SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
    ), c AS (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS n
      FROM w GROUP BY lang, word
    ), t AS (
      SELECT lang, CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS vocab
      FROM c GROUP BY lang
    )
    SELECT c.lang, MAX(t.vocab) AS vocab, MAX(t.total) AS n_tokens,
           ROUND(1 - CAST(SUM(CAST(ROUND(
                 CAST(c.n AS DOUBLE) / t.total
                 * (CAST(c.n AS DOUBLE) / t.total), 10) AS DECIMAL(22,10)))
             AS DOUBLE), 6) AS simpson_diversity
    FROM c JOIN t ON c.lang = t.lang
    GROUP BY c.lang ORDER BY c.lang
    """,
    tags=("llm", "text", "simpson", "diversity"),
)
def documents_vocab_simpson_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson diversity 1 − Σp² of each language's word distribution —
    the collision-probability diversity read (the chance two random
    tokens differ), more tail-insensitive than Shannon entropy. Each p²
    term rounds to 10dp and folds as DECIMAL (order-free exact sum)."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("lang", F.explode(F.split("text", " ")).alias("word"))
    c = w.groupBy("lang", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    t = c.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    p = F.col("n").cast("double") / F.col("total")
    term = F.round(p * p, 10).cast("decimal(22,10)")
    return (
        c.join(F.broadcast(t), "lang")
        .groupBy("lang")
        .agg(
            F.max("vocab").alias("vocab"),
            F.max("total").alias("n_tokens"),
            F.round(1 - F.sum(term).cast("double"), 6).alias(
                "simpson_diversity"
            ),
        )
        .orderBy("lang")
    )
