"""Graph-analytics catalog queries over the co-purchase item graph.

Edges: part pairs co-purchased in ≥2 distinct orders (the support
threshold bounds graph density — the raw co-occurrence graph has
~30× more edges, almost all noise pairs seen once). Both queries are
exact and engine-portable: triangle counting needs only joins, and
PageRank runs in scaled integer arithmetic so a fixed-iteration
unrolled SQL oracle replays it bit-for-bit (no IEEE summation-order
drift). The reference has no graph surface (SURVEY.md §2 extension
families).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flight_delay_prediction_using_pyspark_spark.operators import graph as G
from flight_delay_prediction_using_pyspark_spark.plans.queries import query, session_memo
from flight_delay_prediction_using_pyspark_spark.sources.readers import load_table

#: Shared edge CTE for the oracles: distinct a<b part pairs with
#: co-purchase support >= 2 orders.
_EDGES_SQL = """
e AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY a, b
  HAVING COUNT(DISTINCT x.l_orderkey) >= 2
)
"""


def _edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One persisted co-purchase edge frame per session and sf_dir: all
    graph queries (triangles, PageRank, k-core) read the SAME edge set,
    and its derivation (lineitem self-join + distinct-order support
    count) dominates each query's cost. Callers receive a select("*")
    wrapper so the operators' own persist/unpersist bookkeeping cannot
    drop the shared cache (the cache manager still substitutes the
    cached subtree into the wrapper's plan)."""
    edges = session_memo(
        spark, ("graph", sf_dir), lambda: copurchase_edges(spark, sf_dir).persist()
    )
    return edges.select("*")


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (a<b) co-purchase edges with support ≥2.

    Round-4 shape: ONE shuffle on l_orderkey collects each order's
    sorted distinct part list (bounded small — pair blow-up stays
    quadratic in per-order lines, linear in orders), then a JVM
    higher-order transform explodes the ordered pairs map-side and one
    agg on the pair key counts supporting orders. This replaces the
    l_orderkey self-join, which shuffled lineitem TWICE (both join
    sides) before the pair agg and needed countDistinct to undo the
    join's duplicate (order, pair) rows — the per-order set makes each
    pair appear once per order, so support is a plain count. Same
    edge set bit-for-bit, 4.5 s → 2.7 s at sf0.1."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    lists = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    # (x, every later y) over the sorted list ⇒ a < b by construction
    pairs = lists.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ps"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ps"), i + 2, F.size("ps")),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.a", "p.b")
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .select("a", "b")
    )


@query(
    "copurchase_triangle_stats",
    oracle=f"""
    WITH {_EDGES_SQL},
    tri AS (
      SELECT COUNT(*) AS n
      FROM e e1 JOIN e e2 ON e2.a = e1.b
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg
      FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      GROUP BY node
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges,
           (SELECT CAST(n AS BIGINT) FROM tri) AS n_triangles,
           ROUND(3.0 * (SELECT n FROM tri) / CAST(SUM(deg * (deg - 1) / 2) AS BIGINT), 6) AS clustering
    FROM deg
    """,
)
def q_copurchase_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented distributed triangle count + global clustering
    coefficient (operators/graph.triangle_stats). The orientation
    bounds wedge fan-out by out-degree ≤ O(√m) — the standard
    hub-taming trick; the oracle counts the same triangles with the
    naive id-ordered 3-join (fine at oracle scale)."""
    return G.triangle_stats(_edges_cached(spark, sf_dir))


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT d.src,
             CAST(150000 + (17 * c.s) // 20 AS BIGINT) AS pr,
             d.deg
      FROM deg d JOIN (
        SELECT sym.dst, SUM(p.pr // p.deg) AS s
        FROM sym JOIN {prev} p ON sym.src = p.src
        GROUP BY sym.dst
      ) c ON c.dst = d.src
    )
    """


@query(
    "copurchase_pagerank_top10",
    oracle=f"""
    WITH {_EDGES_SQL},
    sym AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
    p0 AS (SELECT src, CAST(1000000 AS BIGINT) AS pr, deg FROM deg),
    {_pr_iter_sql("p0", "p1")},
    {_pr_iter_sql("p1", "p2")},
    {_pr_iter_sql("p2", "p3")}
    SELECT src AS part, pr FROM p3 ORDER BY pr DESC, part ASC LIMIT 10
    """,
)
def q_copurchase_pagerank_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank (3 damped power iterations, exact integer
    arithmetic — operators/graph.pagerank_integer), top-10 hub parts
    with deterministic (pr desc, part) tie order. Demonstrates the
    iterative-algorithm pattern done right on Spark: per-iteration
    persist + unpersist to truncate lineage, one join + one agg per
    round. The oracle unrolls the same three iterations as CTE layers
    — bit-identical because every step floors through integer
    division."""
    pr = G.pagerank_integer(_edges_cached(spark, sf_dir), iters=3)
    return (
        pr.orderBy(F.desc("pr"), F.asc("node"))
        .limit(10)
        .select(F.col("node").alias("part"), "pr")
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peeling rounds as CTE layers (same replay convention
    as the PageRank oracle)."""
    layers = []
    rows = []
    for r in range(1, rounds + 1):
        prev = f"s{r-1}"
        layers.append(f"""
    d{r} AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev}
      ) GROUP BY node
    ),
    k{r} AS (SELECT node FROM d{r} WHERE deg >= {k}),
    s{r} AS (
      SELECT a, b FROM {prev}
      WHERE a IN (SELECT node FROM k{r}) AND b IN (SELECT node FROM k{r})
    )""")
        rows.append(
            f"SELECT {r} AS round, "
            f"(SELECT COUNT(DISTINCT node) FROM "
            f"(SELECT a AS node FROM s{r} UNION ALL SELECT b FROM s{r})) AS n_nodes, "
            f"(SELECT COUNT(*) FROM s{r}) AS n_edges"
        )
    return f"""
    WITH {_EDGES_SQL},
    s0 AS (SELECT a, b FROM e),{",".join(layers)}
    {" UNION ALL ".join(rows)}
    """


@query("copurchase_kcore_peel", oracle=_kcore_oracle(2, 3))
def q_copurchase_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core peeling over the co-purchase graph, 3 rounds
    (operators/graph.kcore_peel): per-round surviving node and edge
    counts — how fast the graph's periphery (degree-1 chains) melts
    away, leaving the dense co-purchase cores that recommendation /
    fraud pipelines mine. Exact integer degrees ⇒ the unrolled-CTE
    oracle replays every round bit-for-bit."""
    stats = G.kcore_peel(_edges_cached(spark, sf_dir), k=2, rounds=3)
    return spark.createDataFrame(
        stats, "round int, n_nodes bigint, n_edges bigint"
    )
