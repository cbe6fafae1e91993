"""Unit tests for operators/graph.py on graphs with known answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flight_delay_prediction_using_pyspark_spark.operators import graph as G

# K4 plus a pendant: 4 triangles in K4, pendant adds none.
K4_PLUS = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a long, b long")


def test_triangle_stats_k4(spark):
    row = G.triangle_stats(_edges(spark, K4_PLUS)).first()
    assert row.n_nodes == 5
    assert row.n_edges == 7
    assert row.n_triangles == 4
    # wedges: deg = [3,3,3,4,1] -> 3+3+3+6+0 = 15
    assert row.n_wedges == 15
    assert abs(row.clustering - round(12 / 15, 6)) < 1e-9


def test_triangle_stats_triangle_free(spark):
    # star graph: no triangles
    star = [(1, 2), (1, 3), (1, 4), (1, 5)]
    row = G.triangle_stats(_edges(spark, star)).first()
    assert row.n_triangles == 0
    assert row.n_wedges == 6


@pytest.mark.parametrize(
    "pairs, edges_sql",
    [
        ([], "SELECT 1::BIGINT AS a, 2::BIGINT AS b WHERE false"),
        ([(1, 2)], "SELECT 1::BIGINT AS a, 2::BIGINT AS b"),
    ],
    ids=["empty", "one_edge"],
)
def test_triangle_stats_degenerate_match_oracle(spark, pairs, edges_sql):
    """Degenerate inputs against the catalog's SQL oracle: an empty edge
    set has 0 nodes, edges and triangles (DuckDB's SUM over no rows
    makes n_wedges NULL), and a wedge-free graph has NULL clustering."""
    import duckdb

    from flight_delay_prediction_using_pyspark_spark.plans.graph_queries import _EDGES_SQL
    from flight_delay_prediction_using_pyspark_spark.plans.queries import ORACLES
    from tests.oracle_util import compare_frames

    got = G.triangle_stats(_edges(spark, pairs)).toPandas()
    oracle = ORACLES["copurchase_triangle_stats"].replace(_EDGES_SQL, f"e AS ({edges_sql})")
    assert got.n_edges.tolist() == [len(pairs)]
    assert compare_frames(got, duckdb.connect().execute(oracle).fetchdf()) == []


def test_pagerank_mass_and_symmetry(spark):
    """On a symmetric graph total rank stays ≈ n·scale (integer floors
    lose at most a few units per node per iteration), and symmetric
    positions get identical ranks."""
    pr = G.pagerank_integer(_edges(spark, K4_PLUS), iters=3)
    rows = {r["node"]: r["pr"] for r in pr.collect()}
    total = sum(rows.values())
    assert 5 * G.PR_SCALE * 0.98 <= total <= 5 * G.PR_SCALE
    # nodes 1,2,3 are automorphic (each adjacent to the other two and 4)
    assert rows[1] == rows[2] == rows[3]
    # hub 4 outranks the pendant 5 and the K4 rim
    assert rows[4] > rows[1] > rows[5]


def test_pagerank_deterministic_rerun(spark):
    a = sorted(G.pagerank_integer(_edges(spark, K4_PLUS), iters=2).collect())
    b = sorted(G.pagerank_integer(_edges(spark, K4_PLUS), iters=2).collect())
    assert a == b


def test_kcore_peel_known_graph(spark):
    """Triangle + pendant chain: round 1 of 2-core peeling drops the
    chain (degree-1 nodes peel one hop per round), leaving the
    triangle as the stable 2-core."""
    from flight_delay_prediction_using_pyspark_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["a", "b"]
    )
    stats = G.kcore_peel(edges, k=2, rounds=3)
    # round 1: node 5 (deg 1) peels -> edge (4,5) gone; 4 keeps (3,4)? no:
    # after dropping 5, node 4 had deg 2 BEFORE the peel decision, so
    # round 1 keeps nodes {1,2,3,4} minus deg<2 = drops 5 only.
    assert stats[0] == (1, 4, 4)
    # round 2: node 4 now deg 1 -> dropped; triangle remains
    assert stats[1] == (2, 3, 3)
    # round 3: fixpoint — counts stop changing
    assert stats[2] == (3, 3, 3)
