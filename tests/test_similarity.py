"""Unit tests for similarity.ann on hand-built vectors with known
geometry (orthogonal / parallel / antiparallel)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flight_delay_prediction_using_pyspark_spark.similarity import ann


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),   # near query
        (2, [0.0, 1.0, 0.0, 0.0]),    # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),   # antiparallel
        (4, [0.8, 0.6, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_exact_order(corpus):
    out = ann.cosine_topk(corpus, [1.0, 0.0, 0.0, 0.0], k=3)
    rows = out.collect()
    assert [r.vec_id for r in rows] == [0, 1, 4]
    assert rows[0].cosine == 1.0
    assert rows[-1].cosine == pytest.approx(0.8)


def test_lsh_bucket_agreement(corpus):
    planes = ann.make_planes(n_planes=3, dim=4, seed=7)
    bucketed = ann.hyperplane_buckets(corpus, planes=planes)
    spark_buckets = {r.vec_id: r.bucket for r in bucketed.collect()}
    vecs = {r.vec_id: r.embedding for r in corpus.collect()}
    for vid, v in vecs.items():
        assert spark_buckets[vid] == ann.query_bucket(v, planes)
    # antiparallel vectors land in complementary buckets
    assert spark_buckets[0] ^ spark_buckets[3] == 0b111


def test_ann_lsh_topk_subset_of_exact(corpus):
    q = [1.0, 0.0, 0.0, 0.0]
    planes = ann.make_planes(n_planes=3, dim=4, seed=7)  # match corpus dim
    exact = {r.vec_id for r in ann.cosine_topk(corpus, q, k=5).collect()}
    approx = {r.vec_id for r in ann.ann_topk_lsh(corpus, q, k=5, planes=planes).collect()}
    assert approx <= exact
    assert 0 in approx  # the query's own bucket contains itself


def test_knn_join_excludes_self(corpus):
    out = ann.knn_join(corpus, corpus.filter(F.col("vec_id") < 2), k=2)
    rows = out.collect()
    by_query = {}
    for r in rows:
        assert r.query_id != r.neighbor_id
        by_query.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    assert sorted(by_query) == [0, 1]
    assert sorted(by_query[0])[0] == (1, 1)  # vec 1 is vec 0's nearest


def test_ivf_search_recall(spark):
    """IVF with n_probe = all lists must equal exact search; with a
    few probes it should still recover most of the exact top-k on the
    real embedding corpus."""
    from flight_delay_prediction_using_pyspark_spark.similarity import ivf
    from tests.conftest import SF_CORRECTNESS_DIR

    emb = spark.read.parquet(f"{SF_CORRECTNESS_DIR}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    centroids, assigned = ivf.build_ivf_index(emb, n_lists=8)
    assigned = assigned.persist()
    assert assigned.count() == emb.count()
    assert len(centroids) == 8

    exact = [r.vec_id for r in ann.cosine_topk(emb, q, k=10).collect()]
    full = [r.vec_id for r in ivf.ivf_search(assigned, centroids, q, k=10, n_probe=8).collect()]
    assert full == exact  # probing every list == exact search

    probed = {r.vec_id for r in ivf.ivf_search(assigned, centroids, q, k=10, n_probe=3).collect()}
    assert len(probed & set(exact)) >= 5  # partial probe keeps recall
    assert 0 in probed  # query's own vector lives in its top centroid


def test_multiprobe_probe_sequence():
    # 2 planes in 2-D: home first, then flips ordered by |margin| asc
    planes = [[1.0, 0.0], [0.0, 1.0]]
    q = [1.0, 0.1]  # far from plane 0's boundary, close to plane 1's
    probes = ann.multiprobe_buckets(q, planes, n_probes=3)
    home = 0b11  # both dots positive
    assert probes[0] == home
    assert probes[1] == home ^ 0b10  # plane 1 (margin 0.1) flips first
    assert probes[2] == home ^ 0b01
    # n_probes truncates the sequence
    assert ann.multiprobe_buckets(q, planes, n_probes=1) == [home]


def test_multiprobe_supersets_single_bucket(corpus):
    q = [1.0, 0.0, 0.0, 0.0]
    planes = ann.make_planes(3, 4)
    single = {
        r.vec_id for r in ann.ann_topk_lsh(corpus, q, k=5, planes=planes).collect()
    }
    multi = {
        r.vec_id
        for r in ann.ann_topk_multiprobe(
            corpus, q, k=5, n_probes=3, planes=planes
        ).collect()
    }
    assert single <= multi


def test_hard_negatives_are_bucket_confined_and_cross_label(spark):
    """Every mined hard negative must (a) share the anchor's LSH
    bucket (the scale guarantee: per-anchor work is bucket occupancy,
    not corpus size), (b) carry a DIFFERENT label than its anchor,
    and (c) be ranked within top-k by rounded cosine."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import QUERIES
    from flight_delay_prediction_using_pyspark_spark.plans.similarity_queries import (
        _HARDNEG_K,
    )
    from flight_delay_prediction_using_pyspark_spark.similarity import ann
    from flight_delay_prediction_using_pyspark_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE_DIR

    rows = QUERIES["ann_hard_negative_mining"](spark, SF_SMOKE_DIR).collect()
    assert rows
    buckets = {
        r.vec_id: r.bucket
        for r in load_table(spark, SF_SMOKE_DIR, "embeddings")
        .select(
            "vec_id",
            ann.hyperplane_signature(F.col("embedding")).alias("bucket"),
        )
        .collect()
    }
    for r in rows:
        assert r.neg_label != r.anchor_label
        assert 1 <= r.rk <= _HARDNEG_K
        assert buckets[r.vec_id] == buckets[r.anchor_id]


# --- deterministic k-means (similarity.kmeans) --------------------------------


def _py_kmeans(rows, k, iters):
    """Engine-free textbook Lloyd's with the SAME contract as
    kmeans_fit: exact-integer state, md5 init, left-fold distance,
    lowest-cid ties, empty-cluster carry-forward. Pins the distributed
    trainer to public-knowledge semantics with no Spark in the loop."""
    import hashlib

    from flight_delay_prediction_using_pyspark_spark.similarity.kmeans import (
        centroid_components,
        py_sq_dist,
    )

    byhash = sorted(rows, key=lambda r: hashlib.md5(str(r[0]).encode()).hexdigest())
    cent = {i: (1, list(byhash[i][1])) for i in range(k)}
    for _ in range(iters):
        acc = {}
        for _vid, qv in rows:
            comps = {c: centroid_components(*cent[c]) for c in cent}
            best = min(
                sorted(cent), key=lambda c: (py_sq_dist(qv, comps[c]), c)
            )
            n, s = acc.setdefault(best, (0, [0] * len(qv)))
            acc[best] = (n + 1, [a + b for a, b in zip(s, qv)])
        cent = {c: acc.get(c, cent[c]) for c in cent}
    return cent


@pytest.fixture(scope="module")
def km_rows(spark):
    from flight_delay_prediction_using_pyspark_spark.similarity import kmeans as km
    from tests.conftest import SF_CORRECTNESS_DIR

    qdf = (
        spark.read.parquet(f"{SF_CORRECTNESS_DIR}/embeddings.parquet")
        .select("vec_id", F.expr(km.quantize_sql_expr("embedding")).alias("qv"))
        .limit(120)
    )
    return [(int(r.vec_id), [int(x) for x in r.qv]) for r in qdf.collect()]


def test_kmeans_matches_engine_free_reference(spark, km_rows):
    from flight_delay_prediction_using_pyspark_spark.similarity import kmeans as km

    df = spark.createDataFrame(
        km_rows, "vec_id long, qv array<long>"
    ).repartition(7)  # partitioning must not matter: integer sums
    got = km.kmeans_fit(df, k=5, iters=3, d=64)
    want = _py_kmeans(km_rows, k=5, iters=3)
    assert got == want


def test_kmeans_empty_cluster_carries_forward(spark):
    from flight_delay_prediction_using_pyspark_spark.similarity import kmeans as km

    # 3 distinct points, k=4: at most 3 clusters can ever win a row,
    # so at least one centroid must carry its init state through both
    # iterations (the duplicate-seeded cluster loses every argmin tie
    # to the lower cid).
    rows = [(i, [int(1000 * (i % 3)), 0]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, qv array<long>")
    cent = km.kmeans_fit(df, k=4, iters=2, d=2)
    assert set(cent) == {0, 1, 2, 3}
    sizes = sum(n for n, _ in cent.values())
    # every row assigned each iteration; carried clusters keep n from
    # their last win (init n=1 if never won)
    assert any(n == 1 for n, _ in cent.values())
    assert sizes >= 8


def test_grouped_kmeans_single_group_equals_flat(spark, km_rows):
    from pyspark.sql import functions as F

    from flight_delay_prediction_using_pyspark_spark.similarity import kmeans as km

    df = spark.createDataFrame(km_rows, "vec_id long, qv array<long>")
    flat = km.kmeans_fit(df, k=4, iters=2, d=64)
    grouped = km.kmeans_fit_grouped(
        df.withColumn("sub", F.lit(0)),
        k=4,
        iters=2,
        d=64,
        group_col="sub",
    )
    assert grouped == {0: flat}


def test_duckdb_chain_single_key_equals_flat():
    """DuckDB twin of test_grouped_kmeans_single_group_equals_flat:
    the one Lloyd's chain keyed on a constant ``sub`` trains the same
    centroids as the unkeyed chain — the keys only add columns to the
    join, tie-break, recompute and carry-forward."""
    import duckdb

    from flight_delay_prediction_using_pyspark_spark.similarity import kmeans as km

    # 9 points on 3 spots with k=4: two seeds share a spot, the higher
    # cid loses every tie and carries forward (the NOT EXISTS path)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE q AS SELECT i AS vid, 0 AS sub,"
        " [CAST(1000 * (i % 3) AS BIGINT), CAST(0 AS BIGINT)] AS qv"
        " FROM range(9) t(i)"
    )
    seeds = (
        "SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vid AS VARCHAR)))"
        " AS INT) - 1 AS cid, sub, CAST(1 AS BIGINT) AS n, qv AS s FROM q"
        " ORDER BY md5(CAST(vid AS VARCHAR)) LIMIT 4"
    )

    def final(keys):
        ctes = km.kmeans_iter_ctes(
            iters=3, d=2, q_cte="q", cent0_cte="cent0", keys=keys
        )
        return con.execute(
            f"WITH cent0 AS ({seeds}), {', '.join(ctes)}"
            " SELECT cid, n, s FROM cent3 ORDER BY cid"
        ).fetchall()

    flat = final(())
    assert len(flat) == 4 and any(n == 1 for _, n, _ in flat)
    assert final(("sub",)) == flat


def test_pq_adc_scoring_plan_is_shuffle_free(spark):
    """The PQ scale rationale: after training, ADC scoring is a pure
    projection + TakeOrderedAndProject — no Exchange in the plan."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import QUERIES
    from tests.conftest import SF_CORRECTNESS_DIR

    df = QUERIES["ann_pq_adc_topk"](spark, SF_CORRECTNESS_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_kmeanspp_candidates_contract(spark, km_rows):
    """k-means|| invariants: the md5-seed is candidate round 0,
    rounds only add new ids, and every corpus point votes exactly
    once (weights sum to n)."""
    import hashlib

    from flight_delay_prediction_using_pyspark_spark.similarity import kmeans as km

    df = spark.createDataFrame(km_rows, "vec_id long, qv array<long>")
    cands = km.kmeanspp_candidates(df, rounds=2, l=4)
    seed = min(
        (vid for vid, _ in km_rows),
        key=lambda v: hashlib.md5(str(v).encode()).hexdigest(),
    )
    by_round = {}
    for vid, rnd, _qv, _w in cands:
        by_round.setdefault(rnd, []).append(vid)
    assert by_round[0] == [seed]
    ids = [vid for vid, *_ in cands]
    assert len(ids) == len(set(ids))
    assert sum(w for *_, w in cands) == len(km_rows)


def test_ivf_drift_refit_planted_fixture(spark):
    """Planted-drift fixture behind ann_ivf_drift_refit: phases 2-3
    arrive shifted, the frozen-quantizer census must localize the
    changepoint at the planted boundary (t=2), strictly dominate the
    no-drift control score, and fire the re-fit verdict."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import QUERIES
    from tests.conftest import SF_SMOKE_DIR

    row = QUERIES["ann_ivf_drift_refit"](spark, SF_SMOKE_DIR).first()
    assert row.contract_ok
    assert row.n_phases == 4
    assert row.split_t == 2
    assert row.score_ppm > row.control_ppm
    assert row.refit_needed


def test_two_level_assign_skips_bookless_probed_cell(spark, km_rows):
    """Round-10 ADVICE: a coarse centroid that ended training with
    zero members survives in `coarse` (frozen-quantizer contract) but
    has no entry in `books`; probing it must yield no fine lists —
    the DuckDB oracle's fine-seed CTE behavior — not a KeyError."""
    from flight_delay_prediction_using_pyspark_spark.similarity import kmeans as km

    df = spark.createDataFrame(km_rows, "vec_id long, qv array<long>")
    coarse, books = km.two_level_fit(
        df, kc=3, kf=2, coarse_iters=2, fine_iters=2, d=64
    )
    # plant the empty-cell condition: a far-away coarse centroid with
    # no fine codebook (id 99 can never win the argmin on this data,
    # exactly like a cell that lost all members during training)
    coarse = dict(coarse)
    coarse[99] = (1, [10**6] * 64)
    assert 99 not in books
    got = km.two_level_assign(df, coarse, books, cells=[99] + sorted(books))
    rows = got.collect()
    assert len(rows) == len(km_rows)  # nothing lost, nothing crashed
    assert all(r["gid"] in books and r["fid"] is not None for r in rows)
    # probing ONLY the bookless cell → zero candidates, still no crash
    assert km.two_level_assign(df, coarse, books, cells=[99]).count() == 0


def test_two_level_assign_full_path_raises_on_bookless_winner(spark, km_rows):
    """Round-11 ADVICE: on the FULL-assignment path (cells=None — the
    streaming-ingest shape) a row whose WINNING coarse cell is
    bookless cannot be encoded under the frozen quantizer; the
    expression must raise (ingest-contract failure surfaced) rather
    than emit a silent NULL fid that partitionBy(gid, fid) buries in
    the Hive default partition."""
    import pytest as _pytest

    from flight_delay_prediction_using_pyspark_spark.similarity import kmeans as km

    df = spark.createDataFrame(km_rows, "vec_id long, qv array<long>")
    coarse, books = km.two_level_fit(
        df, kc=3, kf=2, coarse_iters=2, fine_iters=2, d=64
    )
    # a bookless cell that CANNOT win → full assignment still fine
    coarse = dict(coarse)
    coarse[99] = (1, [10**6] * 64)
    ok = km.two_level_assign(df, coarse, books)
    assert ok.count() == len(km_rows)
    # now append a vector AT the bookless centroid — it can only win
    # cell 99 (distance 0 vs astronomically far real cells), whose
    # missing fine codebook must FAIL the ingest
    far = spark.createDataFrame(
        [(999, [10**6] * 64)], "vec_id long, qv array<long>"
    )
    with _pytest.raises(Exception, match="bookless coarse cell"):
        km.two_level_assign(df.unionByName(far), coarse, books).collect()


def test_two_level_drift_refit_planted_fixture(spark):
    """Hierarchical twin of the flat planted-drift fixture: the
    (gid, fid)-keyed census under the frozen two-level quantizer must
    localize the changepoint at the planted boundary, dominate the
    MATCHED-CELL no-drift control, and fire the re-fit verdict."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import QUERIES
    from tests.conftest import SF_SMOKE_DIR

    row = QUERIES["ann_ivf_two_level_drift_refit"](spark, SF_SMOKE_DIR).first()
    assert row.contract_ok
    assert row.n_phases == 4
    assert row.split_t == 2
    assert row.score_ppm > row.control_ppm
    assert row.refit_needed
    from flight_delay_prediction_using_pyspark_spark.plans import similarity_queries as SQ

    assert 0 <= row.drift_gid < SQ._TL_KC
    assert 0 <= row.drift_fid < SQ._TL_KF


def test_two_level_ivfadc_scoring_plan_is_shuffle_free(spark):
    """The two-level IVFADC scale rationale: after training +
    residual encode (broadcast-join residual, probed-pair
    confinement, scratch-persisted codes), scoring is a pure
    projection + TakeOrderedAndProject — no SHUFFLE exchange
    anywhere. A BroadcastExchange IS expected: the kc·kf-row
    fine-centroid table rides a broadcast join by design (that join
    replaces the kc·kf·d-literal CASE that would break at 32k
    lists)."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import QUERIES
    from tests.conftest import SF_CORRECTNESS_DIR

    df = QUERIES["ann_ivfadc_two_level_topk"](spark, SF_CORRECTNESS_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffleExchange" not in plan and "hashpartitioning" not in plan, (
        plan
    )
    # the self-query must rank first: residual ADC of the query's own
    # row scores its own quantization error, the panel's sanity pin
    assert df.first()["vec_id"] == 0


def test_sql_text_exprs_match_driver_twins(spark, km_rows):
    """Round-13 optimization: the literal-heavy assignment/residual/
    inertia expressions are built as SQL text parsed by ONE F.expr
    call (the Column API costs one py4j round-trip per literal —
    seconds per Lloyd's iteration at k=8·d=64). Every helper must be
    bit-identical to its driver-side twin: raw distances vs
    py_sq_dist (doubles compared exactly), argmin ids incl. ties and
    the grouped CASE vs a Python argmin over (py_sq_dist, cid),
    residuals vs py_residual, inertia vs floor(min py_sq_dist), and
    the integer k-means|| distance vs a plain integer sum."""
    import math

    from flight_delay_prediction_using_pyspark_spark.similarity import kmeans as km

    df = spark.createDataFrame(km_rows, "vec_id long, qv array<long>")
    cent = km.kmeans_fit(df, k=5, iters=2, d=64)
    qvs = dict(km_rows)
    cids = sorted(cent)
    comp = {c: km.centroid_components(*cent[c]) for c in cids}

    def argmin(book, qv):
        return min(
            (km.py_sq_dist(qv, km.centroid_components(*book[c])), c)
            for c in book
        )[1]

    # raw fold distances, compared as exact doubles
    d_sql = df.select(
        "vec_id",
        *[F.expr(km._sq_dist_sql_expr("qv", comp[c])).alias(f"d{c}") for c in cids],
    ).collect()
    assert {r[0]: tuple(r[1:]) for r in d_sql} == {
        v: tuple(km.py_sq_dist(qv, comp[c]) for c in cids) for v, qv in qvs.items()
    }

    # argmin, ties to the lowest cid
    nearest = {v: argmin(cent, qv) for v, qv in qvs.items()}
    a_sql = {r["vec_id"]: r["cid"] for r in df.withColumn(
        "cid", km.nearest_expr("qv", cent)).collect()}
    assert a_sql == nearest

    # grouped CASE over a 2-group codebook
    pg = {0: cent, 1: {c: (n, [s + 1 for s in ss]) for c, (n, ss) in cent.items()}}
    gdf = df.withColumn("g", (F.col("vec_id") % 2).cast("int"))
    g_sql = {r["vec_id"]: r["cid"] for r in gdf.withColumn(
        "cid", km._grouped_nearest_expr("g", "qv", pg)).collect()}
    assert g_sql == {v: argmin(pg[v % 2], qv) for v, qv in qvs.items()}

    # residuals w.r.t. the assigned centroid
    rdf = df.withColumn("gid", km.nearest_expr("qv", cent))
    r_sql = {r["vec_id"]: r["rq"] for r in rdf.withColumn(
        "rq", km.residual_expr("qv", "gid", cent)).collect()}
    assert r_sql == {
        v: km.py_residual(qv, comp[nearest[v]]) for v, qv in qvs.items()
    }

    # inertia (floor-quantized min distance)
    i_sql = {r["vec_id"]: r["md"] for r in df.select(
        "vec_id", km.inertia_expr("qv", cent).alias("md")).collect()}
    assert i_sql == {
        v: math.floor(min(km.py_sq_dist(qv, comp[c]) for c in cids))
        for v, qv in qvs.items()
    }

    # exact-integer distance (k-means|| candidates)
    cand = km_rows[0][1]
    z_sql = {r["vec_id"]: r["d"] for r in df.select(
        "vec_id", F.expr(km.int_sq_dist_sql_expr("qv", cand)).alias("d")).collect()}
    assert z_sql == {
        v: sum((x - c) * (x - c) for x, c in zip(qv, cand)) for v, qv in qvs.items()
    }


def test_kmeans_exprs_over_zero_centroids_are_typed_null(spark):
    """inertia_expr and residual_expr over an empty centroid set emit a
    typed NULL, like the argmin emitter: each resolves over an empty
    frame, and a row gets NULL (no centroid, no distance or residual)."""
    from flight_delay_prediction_using_pyspark_spark.similarity import kmeans as km

    df = spark.createDataFrame([([3, 4], 0)], "qv array<int>, gid int")
    exprs = [
        km.inertia_expr("qv", {}).alias("inertia"),
        km.residual_expr("qv", "gid", {}).alias("residual"),
    ]
    assert df.limit(0).select(*exprs).collect() == []
    out = df.select(*exprs)
    assert out.dtypes == [("inertia", "bigint"), ("residual", "array<bigint>")]
    assert out.first().asDict() == {"inertia": None, "residual": None}


@pytest.fixture(scope="module")
def emptied_table():
    """The table conftest's ``empty_table_dir`` empties for this module."""
    return "embeddings"


@pytest.mark.parametrize(
    "name",
    [
        "embedding_kmeans_clusters",
        "semdedup_kmeans_cells",
        "embedding_kmeans_pp_candidates",
    ],
)
def test_kmeans_queries_on_empty_embeddings_match_oracle(
    spark, empty_table_dir, name
):
    """Zero points: no seeds, so the argmin emitter gets an empty
    centroid set and k-means|| an empty frame. Each must yield the
    oracle's (empty) answer instead of raising."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import (
        ORACLES,
        QUERIES,
    )
    from tests.oracle_util import compare_frames, duckdb_connection

    got = QUERIES[name](spark, empty_table_dir).toPandas()
    want = duckdb_connection(empty_table_dir).execute(ORACLES[name]).fetchdf()
    assert compare_frames(got, want) == []
