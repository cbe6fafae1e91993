"""Degenerate-input robustness: empty frames, all-filtered corpora,
k > n top-k, single-doc dedup — operators must return empty/partial
results, never throw."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from flight_delay_prediction_using_pyspark_spark.operators import temporal as TP
from flight_delay_prediction_using_pyspark_spark.similarity import ann
from flight_delay_prediction_using_pyspark_spark.text import analysis as TA
from flight_delay_prediction_using_pyspark_spark.text import dedup as TD

DOCS_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)


def _empty_docs(spark):
    return spark.createDataFrame([], DOCS_SCHEMA)


def test_dedup_pipeline_on_empty_corpus(spark):
    empty = _empty_docs(spark)
    assert TD.minhash_lsh_pairs(empty).count() == 0
    assert TD.simhash_pairs(empty).count() == 0
    assert TD.exact_dup_stats(empty).count() == 0
    assert TD.prepare_training_corpus(empty).count() == 0


def test_connected_components_empty_and_single_pair(spark):
    empty = spark.createDataFrame(
        [], "id_a long, id_b long"
    )
    assert TD.connected_components(empty).count() == 0
    one = spark.createDataFrame([(7, 9)], ["id_a", "id_b"])
    out = {r.node: r.cluster_id for r in TD.connected_components(one).collect()}
    assert out == {7: 7, 9: 7}


def test_text_profile_null_and_whitespace(spark):
    df = spark.createDataFrame([(0, " "), (1, "x")], ["doc_id", "text"])
    rows = {r.doc_id: r for r in TA.text_profile(df).collect()}
    assert rows[0].quality == 0.0
    assert rows[1].n_tokens == 1


def test_unigram_train_on_empty_vocabulary(spark):
    """An empty (word, freq) table trains to an empty tokenizer: the
    cost table of an empty count table is empty, not ln(0)."""
    from flight_delay_prediction_using_pyspark_spark.text import unigram as U

    assert U.quantized_costs({}) == {}
    words = spark.createDataFrame([], "word string, freq long")
    counts, costs, seg = U.unigram_train(words)
    assert counts == {} and costs == {}
    assert seg.count() == 0


def test_cosine_topk_k_exceeds_corpus(spark):
    df = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["vec_id", "embedding"])
    assert ann.cosine_topk(df, [1.0, 0.0], k=50).count() == 2


def test_asof_join_empty_right(spark):
    left = spark.createDataFrame([(1, 10, "a")], ["k", "t", "tag"])
    right = spark.createDataFrame([], "k long, t long, v double")
    out = TP.asof_join(left, right, key="k", time_col="t", payload_cols=["v"]).collect()
    assert len(out) == 1 and out[0].v_asof is None


def test_quality_gate_filters_everything(spark):
    docs = spark.createDataFrame([(0, "tiny"), (1, "small")], ["doc_id", "text"])
    assert TD.prepare_training_corpus(docs, min_quality=0.4).count() == 0


def test_sessionize_gap_boundary(spark):
    """Gap == gap_sec continues the session; gap_sec+1 starts a new
    one (strict inequality). Singleton users get session 1."""
    rows = [
        (1, 10, 0),
        (1, 11, 1800),   # exactly 1800s later -> same session
        (1, 12, 3601),   # 1801s later -> new session
        (2, 20, 50),     # singleton
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, sec long")
    out = TP.sessionize(
        df, key="user_id", sec_col="sec", tie_col="event_id", gap_sec=1800
    )
    got = {r["event_id"]: r["session_id"] for r in out.collect()}
    assert got == {10: 1, 11: 1, 12: 2, 20: 1}


def test_sessionize_orders_ties_deterministically(spark):
    """Equal timestamps fall back to the tie column for ordering, so
    session assignment is stable under any partitioning."""
    rows = [(1, i, 100) for i in range(5)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, sec long")
    out = TP.sessionize(df, key="user_id", sec_col="sec", tie_col="event_id")
    assert {r["session_id"] for r in out.collect()} == {1}


def test_int8_quantize_bounds_and_dot(spark):
    """Quantized values stay in [-127, 127]; the int8 dot of a vector
    with itself approximates 127^2 for unit-norm input."""
    from pyspark.sql import functions as F2

    df = spark.createDataFrame([([3.0, 4.0],)], "v array<double>")
    q8 = ann.int8_quantize(F2.col("v"))
    out = df.select(
        q8.alias("q"), ann.int8_dot(q8, q8).alias("self_dot")
    ).first()
    assert all(-127 <= x <= 127 for x in out["q"])
    # unit-normalized (0.6, 0.8) -> floor(76.2), floor(101.6)
    assert out["q"] == [76, 101]
    assert out["self_dot"] == 76 * 76 + 101 * 101
    assert abs(out["self_dot"] - 127 * 127) / (127 * 127) < 0.05


def test_write_range_sorted_disjoint_file_ranges(spark, tmp_path):
    """Each output file covers a disjoint range of the sort column —
    parquet min/max stats can prune whole files for range predicates."""
    import glob

    import pyarrow.parquet as pq

    from flight_delay_prediction_using_pyspark_spark.operators import layout as L2

    df = spark.range(0, 10000).select(
        (F.col("id") * 37 % 10000).cast("double").alias("x")
    )
    path = str(tmp_path / "range_sorted")
    L2.write_range_sorted(df, path, "x", n_files=4)
    ranges = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(0).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) == 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint (boundary equality allowed)


def test_bpe_on_empty_and_single_char_vocab(spark):
    """BPE training and both inference paths must degrade cleanly:
    empty vocabulary -> no merges, empty outputs; all-single-char
    vocabulary -> no pairs to merge, identity segmentation."""
    from flight_delay_prediction_using_pyspark_spark.text import bpe as B

    empty = spark.createDataFrame([], "word string, freq long")
    merges, final = B.bpe_train(empty, 3)
    assert merges == [] and final.count() == 0
    assert B.wordpiece_segment(empty, []).count() == 0

    singles = spark.createDataFrame(
        [("a", 3), ("b", 1)], "word string, freq long"
    )
    merges, final = B.bpe_train(singles, 3)
    assert merges == []
    wp = {r.word: r.sig for r in B.wordpiece_segment(singles, merges).collect()}
    assert wp == {"a": "a", "b": "b"}


def test_plan_multiply_guard_shapes(spark):
    """_plan_may_multiply_rows: trips on Generate (explode) and
    common-relation self-joins, stays quiet on FK-style
    different-table joins and on semi/anti joins of the same table."""
    from flight_delay_prediction_using_pyspark_spark.operators.relational import (
        _plan_may_multiply_rows,
    )
    from flight_delay_prediction_using_pyspark_spark.sources.readers import (
        load_table,
    )
    from tests.conftest import SF_CORRECTNESS_DIR

    def trips(df) -> bool:
        return _plan_may_multiply_rows(
            df._jdf.queryExecution().optimizedPlan()
        )

    nation = load_table(spark, SF_CORRECTNESS_DIR, "nation")
    region = load_table(spark, SF_CORRECTNESS_DIR, "region")
    fk = nation.join(region, nation.n_regionkey == region.r_regionkey)
    assert not trips(fk)

    n2 = load_table(spark, SF_CORRECTNESS_DIR, "nation").select(
        F.col("n_regionkey").alias("rk2")
    )
    self_join = nation.join(n2, nation.n_regionkey == n2.rk2)
    assert trips(self_join)

    semi = nation.join(
        load_table(spark, SF_CORRECTNESS_DIR, "nation").select("n_nationkey"),
        "n_nationkey",
        "left_semi",
    )
    assert not trips(semi)

    gen = nation.select(F.explode(F.split(F.col("n_name"), " ")))
    assert trips(gen)

    # Expand (rollup / cube / grouping sets): one output row per
    # grouping set per input row — a multiplying shape (round-8 ADVICE)
    roll = nation.rollup("n_regionkey", "n_name").count()
    assert trips(roll)

    # Self-join over leaves with NO file identity (LocalRelation /
    # InMemoryRelation): the root-path check is blind here, so the
    # guard falls through to Catalyst sameResult on the two subtrees
    # (round-8 ADVICE: this shape previously passed and could still be
    # force-broadcast).
    local = spark.createDataFrame([(1, "x"), (1, "y"), (2, "z")], "k int, v string")
    local_self = local.alias("a").join(
        local.alias("b"), F.col("a.k") == F.col("b.k")
    )
    assert trips(local_self)

    cached = nation.select("n_nationkey", "n_regionkey").persist()
    try:
        cached.count()  # materialize so the leaves are InMemoryRelation
        cached_self = cached.alias("a").join(
            cached.alias("b"), F.col("a.n_regionkey") == F.col("b.n_regionkey")
        )
        assert trips(cached_self)
        # different cached frames joined on a key are NOT flagged
        other = region.select("r_regionkey")
        assert not trips(
            cached.join(other, cached.n_regionkey == other.r_regionkey)
        )
    finally:
        cached.unpersist()


def test_session_pins_ansi_mode(spark):
    """Round-10 hardening: get_spark PINS spark.sql.ansi.enabled=true
    (Spark 4's default, but Spark 3.5 clusters default OFF — the pin
    keeps error semantics identical across deployments; the full
    catalog is swept green under it, see ANSI_SWEEP.md). The throwing
    classes behave as ANSI demands under the engine's session."""
    import pytest as _pytest

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    one = spark.range(1)
    # div-by-zero throws (non-ANSI: null)
    with _pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        one.select(F.expr("1 / 0")).collect()
    # overflowing cast throws (non-ANSI: null/wrap)
    with _pytest.raises(Exception, match="CAST_OVERFLOW|ARITHMETIC"):
        one.select(F.lit(300).cast("tinyint")).collect()
    # element_at on an out-of-bounds ARRAY index throws (Spark 4.0
    # relaxed MAP misses to NULL — probed, not assumed); try_element_at
    # nulls both — the idiom catalog queries use when a miss is
    # expected
    m = F.create_map(F.lit("a"), F.lit(1))
    arr = F.array(F.lit(1), F.lit(2))
    with _pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
        one.select(F.element_at(arr, F.lit(9))).collect()
    assert one.select(F.element_at(m, F.lit("zz")).alias("v")).first()[
        "v"
    ] is None
    assert one.select(
        F.try_element_at(arr, F.lit(9)).alias("v")
    ).first()["v"] is None
    # try_divide is the sanctioned null-on-zero escape hatch
    assert one.select(F.try_divide(F.lit(1), F.lit(0)).alias("v")).first()[
        "v"
    ] is None
