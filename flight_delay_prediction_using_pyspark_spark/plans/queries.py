"""The engine's query catalog: named PySpark queries + DuckDB oracles.

Every SQL-expressible operator from SURVEY.md §2 (and the
LLM-data-pipeline extensions) is exposed here as a named query over the
driver testdata tables, paired with an ANSI-SQL oracle that DuckDB runs
on the same parquet. The driver compares row-count + schema +
order-insensitive value hash (columns sorted by name), so:

- every computed column is aliased identically in Spark and SQL;
- any float aggregate whose addition order could differ between
  engines is computed via exact fixed-scale decimal addition
  (order-independent) and cast back to double — bit-identical results;
- per-row float arithmetic (x*y, x/y, x-y) is written with the same
  operand order in both engines — IEEE754 gives bit-identical results;
- ranking/limit queries always carry a unique tiebreaker so the
  selected row SET is deterministic.

Registration: @query("name", oracle="SQL...") adds to QUERIES/ORACLES,
which __spark_entry__.py re-exports to the driver. Queries with no
SQL-expressible oracle (ML stages, LSH internals) pass oracle=None and
get the driver's rows-only check.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flight_delay_prediction_using_pyspark_spark.operators import aggregates as A
from flight_delay_prediction_using_pyspark_spark.operators import layout as L
from flight_delay_prediction_using_pyspark_spark.operators import relational as R
from flight_delay_prediction_using_pyspark_spark.operators import windows as W
from flight_delay_prediction_using_pyspark_spark.session import ensure_utc
from flight_delay_prediction_using_pyspark_spark.sources.readers import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

#: Per-query scratch caches (see scratch_persist), keyed by the BUILDING
#: thread's ident — unlike session_memo, which serves sibling queries.
_SCRATCH: dict[int, list[DataFrame]] = {}

#: Session memo registry (see session_memo): SparkContext → {key: value}.
_MEMO: dict[SparkContext, dict] = {}


def session_memo(spark: SparkSession, key: tuple, build: Callable[[], object]):
    """The value stored under `key` for this session, or `build()`'s
    result, stored on first request — for deterministic work sibling
    catalog queries share (a fit, a persisted pair frame, a merge list).
    Stopped contexts' entries (stop() sets `_jsc` to None) are dropped
    at every call, so nothing outlives its session. No lock: builds
    under different keys must overlap on run_concurrently threads."""
    for sc in [sc for sc in list(_MEMO) if sc._jsc is None]:
        _MEMO.pop(sc, None)
    memo = _MEMO.setdefault(spark.sparkContext, {})
    if key not in memo:
        memo[key] = build()
    return memo[key]


def memo_size(spark: SparkSession) -> int:
    """Number of entries memoized for this session so far."""
    return len(_MEMO.get(spark.sparkContext, ()))


def scratch_persist(df: DataFrame) -> DataFrame:
    """persist() a frame that exists only to serve multiple consumers
    WITHIN one query's plan (a shared aggregate feeding both a total
    and a filter, a signature frame probed twice), registering it for
    release when the NEXT catalog query starts on the SAME thread.

    Why deferred release: the persisted segment materializes during
    the caller's single collect/toPandas action and is shared by every
    consumer in that action, but the query function returns a LAZY
    frame — unpersisting before the harness collects would throw the
    cache away before it is ever used. Releasing at next-query entry
    bounds a full-catalog session (bench.py runs 186 queries in one
    SparkSession; the driver runs 50) to ONE query's scratch instead
    of accumulating every query's, with zero coordination required
    from the harness. (Round-5 ADVICE: persisted rev/tf/sides frames
    were never unpersisted; LRU eviction kept it correct but added
    memory pressure and re-computation churn.)

    The registry is THREAD-KEYED (round-7 verdict item 6): a harness
    that runs catalog queries on concurrent threads releases only its
    own thread's scratch at each query entry, never another in-flight
    query's. The remaining (documented) contract is per-thread
    sequential build-then-collect: a harness that builds several
    query frames on ONE thread and collects them later would still
    release the earlier frames' scratch at the later builds —
    correctness is unaffected (Spark recomputes the lineage), but the
    shared-consumer reuse the persist exists for is silently re-paid.
    Such a harness should call `release_scratch()` itself after each
    collect instead of relying on the entry hook."""
    df = df.persist()
    _SCRATCH.setdefault(threading.get_ident(), []).append(df)
    return df


def scratch_persist_if_large(
    df: DataFrame, min_bytes: int = 8 * 1024 * 1024
) -> DataFrame:
    """Size-gated `scratch_persist` — the resolver pattern
    (operators/windows.resolve_global_rank_mode) applied to persist
    decisions: persist ONLY when the frame's plan-time size estimate
    is at least `min_bytes`.

    Why a persist can LOSE below that: materializing a cache (a) runs
    the subtree eagerly at its full shuffle-partition fan-out and (b)
    PINS that plan — consumers read the InMemoryRelation, so AQE can
    no longer coalesce the small post-shuffle partitions at runtime.
    Measured on events_max_concurrent_sessions at sf0.1 (round-7's
    one recorded bench regression, 1.66× baseline): persisting the
    ~800 KB session-spans frame cost min-of-3 3.05 s vs 1.07 s
    without — the rescan it saved was cheaper than the 128-task
    stages it froze in place. Above the threshold the economics
    invert: the rescan cost grows with the data while the persist
    overhead stays bounded by the frame itself, exactly when a shared
    upstream (scan + sessionize window at 100 TB) must not run once
    per consumer. The estimate scales with the input
    (operators/relational.plan_size_bytes), so the switch flips on
    its own as SF grows. Unknown estimate (Spark Connect) errs
    toward persisting — the scale-safe side."""
    from flight_delay_prediction_using_pyspark_spark.operators.relational import (
        plan_size_bytes,
    )

    est = plan_size_bytes(df)
    if est is not None and est < min_bytes:
        return df
    return scratch_persist(df)


def release_scratch() -> None:
    frames = _SCRATCH.pop(threading.get_ident(), [])
    while frames:
        frames.pop().unpersist()


_SCRATCH_LOCK = threading.Lock()


def run_concurrently(
    *thunks: Callable[[], object], max_workers: int | None = None
) -> list[object]:
    """Run independent driver-side build/collect chains on threads —
    the guide §2.6 pattern (overlap independent jobs): Spark's
    scheduler happily runs several jobs at once in one application,
    and these chains are only sequential because query code calls
    their actions sequentially. Iterative trainers (Lloyd's loops)
    spend most of their wall-clock in per-action driver round-trips
    at bounded data sizes, so overlapping k independent trainers
    approaches a k-fold wall-clock cut with zero semantic change:
    each chain's result is a deterministic function of the data,
    never of scheduling.

    Returns the thunks' results in argument order. On failure the
    EARLIEST-ARGUMENT exception propagates (all thunks still run to
    completion — the pool is drained first), with every other thunk's
    failure attached as a note so no concurrent failure is silently
    dropped (round-13 ADVICE). Any scratch_persist() registered on a
    worker thread is re-homed to the CALLING thread's registry so the
    next catalog query on this thread still releases it (the
    thread-keyed registry would otherwise leak worker-thread
    entries).

    ``max_workers`` bounds how many thunks run at once; the default
    runs every thunk on its own thread."""
    from concurrent.futures import ThreadPoolExecutor

    caller = threading.get_ident()
    results: list[object] = [None] * len(thunks)

    def wrap(i: int, t: Callable[[], object]) -> None:
        try:
            results[i] = t()
        finally:
            frames = _SCRATCH.pop(threading.get_ident(), [])
            if frames:
                with _SCRATCH_LOCK:
                    _SCRATCH.setdefault(caller, []).extend(frames)

    with ThreadPoolExecutor(max_workers=max_workers or max(1, len(thunks))) as pool:
        futures = [pool.submit(wrap, i, t) for i, t in enumerate(thunks)]
        errors = [
            (i, f.exception()) for i, f in enumerate(futures) if f.exception()
        ]
    if errors:
        first_i, first_exc = errors[0]
        for i, exc in errors[1:]:
            first_exc.add_note(
                f"run_concurrently: thunk #{i} also failed: "
                f"{type(exc).__name__}: {exc}"
            )
        raise first_exc
    return results


def spread_if_narrow(df: DataFrame, *key_cols: str) -> DataFrame:
    """Deterministic hash-repartition to defaultParallelism ahead of a
    CPU-bound (Python codec / interpreted tokenizer) stage, applied
    ONLY when the resolved input is NARROWER than the core count
    (guide §2; round-13 verdict item 1 made the round-13 spreads
    conditional): at sf0.1 the single-file documents scan is ONE input
    split, which would otherwise serialize the whole downstream stage
    onto one task, and the spread is pure win. At 100 TB the same scan
    has ~10⁵-10⁶ splits and an unconditional repartition(cores) would
    COALESCE it — a full shuffle of the text column that REDUCES
    parallelism to the core count, the §2 anti-pattern in reverse — so
    a wide input passes through untouched. The width probe is
    plan-time only (`df.rdd` compiles the physical plan; it runs no
    job), and only narrow key/text columns ever shuffle — payloads are
    built after the exchange."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism, *key_cols)


def query(name: str, oracle: str | None = None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_scratch()
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__module__ = fn.__module__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        if name in QUERIES:
            # A silently-shadowed catalog entry is a correctness trap:
            # round 5 caught a duplicate tpch_q17 registration where
            # whichever module imported last won and the other
            # implementation (plus its oracle) vanished without a
            # trace. Fail at import time instead.
            raise ValueError(
                f"duplicate catalog query name {name!r} "
                f"(existing: {QUERIES[name].__module__}.{QUERIES[name].__name__}, "
                f"new: {fn.__module__}.{fn.__name__})"
            )
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


# ---------------------------------------------------------------------------
# Scans / projections / filters (S*, P*)
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped grouped aggregate (A1/A2/A3): hash agg with
    map-side partials; the flagship query. Mirrors the reference's
    grouped-mean EDA shape (/root/reference/src/main/helper_methods.py:159)
    at analytic scale."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return A.grouped_agg(
        lineitem,
        ["l_returnflag", "l_linestatus"],
        [
            A.exact_decimal_sum("l_quantity").alias("sum_qty"),
            A.exact_decimal_sum("l_extendedprice").alias("sum_base_price"),
            A.exact_decimal_sum(disc_price).alias("sum_disc_price"),
            A.exact_decimal_avg("l_quantity").alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        ],
    )


@query(
    "open_orders_projection",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 150000
    """,
)
def q_open_orders_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + positive projection (P2/P5/P6/F8). Both predicates and
    the 3-column ReadSchema reach the parquet scan (pushdown + pruning)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 150000)
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")


@query(
    "case_bucket_orders",
    oracle="""
    SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
                WHEN o_totalprice < 300000 THEN 'medium'
                ELSE 'large' END AS price_bucket,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY 1
    """,
)
def q_case_bucket_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN cascade (P9) + grouped agg — the reference's 3-way
    label bucketing shape (/root/reference/src/main/main.py:97-110)
    expressed as a pure-Column conditional (no UDF)."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
        .alias("price_bucket")
    )
    return (
        orders.select(bucket, "o_totalprice")
        .groupBy("price_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            A.exact_decimal_sum("o_totalprice").alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# Joins & set ops (J*, A9)
# ---------------------------------------------------------------------------


@query(
    "segment_revenue",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact x dim equi-join (J1) + grouped agg — the enrichment-join
    shape of /root/reference/src/main/dataset_utils.py:47-50 at
    scale. customer is SF-scaled (unlike the reference's fixed 5k-row
    plane registry, which keeps the unconditional broadcast_enrich in
    plans/prepare.py), so it attaches through the size-aware
    R.dim_join: broadcast-hinted while the plan-time estimate is
    under the ceiling — no shuffle of the fact side — and left to
    AQE at SFs where a forced broadcast would OOM the executors."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = R.dim_join(orders, customer, on=orders.o_custkey == customer.c_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        A.exact_decimal_sum("o_totalprice").alias("revenue"),
    )


@query(
    "nation_revenue_multijoin",
    oracle="""
    SELECT n_name,
           COUNT(*) AS n_lineitems,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q_nation_revenue_multijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped multi-join: big-big shuffle join (lineitem x
    orders) + dims. nation/region force-broadcast (25/5 rows at any
    SF); the region-pruned customer slice SCALES with SF (~1/5 of all
    customers — billions of rows at 100 TB), so it attaches through
    the size-aware R.dim_join: hinted while the plan-time estimate
    fits, left to AQE above the ceiling. The region filter prunes
    before the joins (Catalyst pushes it through) — the join-order a
    CBO would pick, declared explicitly."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    asia_customers = (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
              nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name")
    )
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        R.dim_join(
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey),
            asia_customers,
            orders.o_custkey == asia_customers.c_custkey,
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            A.exact_decimal_sum(revenue).alias("revenue"),
        )
    )


@query(
    "segment_revenue_salted",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_segment_revenue_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe rewrite of segment_revenue: operators/layout.py's
    salted_join spreads each customer key over `factor` salt buckets
    (fact side hashed to a bucket, dim side replicated across all),
    so one power-law hot key lands on `factor` reducers instead of
    one. Same oracle as the plain join — salting must be a pure
    physical rewrite with identical semantics."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = L.salted_join(orders, customer, "custkey", factor=4)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        A.exact_decimal_sum("o_totalprice").alias("revenue"),
    )


@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (J2): the distributed rewrite of the reference's
    subtract+collect+isin pattern
    (/root/reference/src/main/dataset_utils.py:11-23)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return R.anti_join(
        customer, orders, on=customer.c_custkey == orders.o_custkey
    ).select("c_custkey", "c_name")


@query(
    "customers_with_big_orders",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice >= 400000)
    """,
)
def q_customers_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (§2c gap op): existence test without duplicating
    left rows; the filter on the right side pushes to its scan."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") >= 400000)
    return R.semi_join(customer, big, on=customer.c_custkey == big.o_custkey).select(
        "c_custkey", "c_acctbal"
    )


@query(
    "active_custkeys_except_negative",
    oracle="""
    SELECT DISTINCT o_custkey FROM orders
    EXCEPT
    SELECT c_custkey AS o_custkey FROM customer WHERE c_acctbal < 0
    """,
)
def q_active_custkeys_except_negative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT/set-difference (A9,
    /root/reference/src/main/dataset_utils.py:14) — distinct semantics,
    hash-partitioned on the full row."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    left = orders.select("o_custkey").distinct()
    right = (
        customer.filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return R.set_except(left, right)


# ---------------------------------------------------------------------------
# Aggregates (A*)
# ---------------------------------------------------------------------------


@query(
    "distinct_counts_lineitem",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS l_partkey_distinct,
           COUNT(DISTINCT l_suppkey) AS l_suppkey_distinct,
           COUNT(DISTINCT l_orderkey) AS l_orderkey_distinct
    FROM lineitem
    """,
)
def q_distinct_counts_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column exact count-distinct in ONE job (A4) — replaces the
    reference's per-column distinct().count() loop
    (/root/reference/src/main/helper_methods.py:58-62). The engine also
    exposes approx_count_distinct (HLL++) as the 100 TB path."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return A.distinct_counts(lineitem, ["l_partkey", "l_suppkey", "l_orderkey"])


@query(
    "null_counts_documents",
    oracle="""
    SELECT CAST(SUM(CAST(text IS NULL AS BIGINT)) AS BIGINT) AS text_nulls,
           CAST(SUM(CAST(lang IS NULL AS BIGINT)) AS BIGINT) AS lang_nulls,
           CAST(SUM(CAST(source IS NULL AS BIGINT)) AS BIGINT) AS source_nulls,
           CAST(SUM(CAST(n_chars IS NULL AS BIGINT)) AS BIGINT) AS n_chars_nulls
    FROM documents
    """,
)
def q_null_counts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column null counts (A5) — replaces the reference's
    per-column where(isNull).count() jobs
    (/root/reference/src/main/helper_methods.py:68)."""
    documents = load_table(spark, sf_dir, "documents")
    return A.null_counts(documents, ["text", "lang", "source", "n_chars"])


@query(
    "quantiles_quantity",
    oracle="""
    SELECT ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_quantity, 0.50), 6) AS p50,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75
    FROM lineitem
    """,
)
def q_quantiles_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (A6,
    /root/reference/src/main/helper_methods.py:70). The engine also
    ships percentile_approx (GK sketch, mergeable) for 100 TB."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return A.exact_quantiles(lineitem, "l_quantity", [0.25, 0.50, 0.75]).select(
        F.round("p25", 6).alias("p25"),
        F.round("p50", 6).alias("p50"),
        F.round("p75", 6).alias("p75"),
    )


@query(
    "corr_price_quantity",
    oracle="""
    SELECT ROUND(corr(l_extendedprice, l_quantity), 6) AS corr_val
    FROM lineitem
    """,
)
def q_corr_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation as a single-pass aggregate (A7,
    /root/reference/src/main/helper_methods.py:69)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return A.pearson_corr(lineitem, "l_extendedprice", "l_quantity").select(
        F.round("corr", 6).alias("corr_val")
    )


@query(
    "grouped_corr_price_quantity",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_extendedprice, l_quantity), 6) AS corr_val
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_grouped_corr_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 grouped form: per-group Pearson correlation in one hash agg
    (corr is a mergeable 6-moment sketch — partial-aggregates like
    sum/count, so skew and scale behave exactly like a grouped sum)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_val")
    )


@query(
    "corr_matrix_lineitem",
    oracle="""
    WITH s AS (
      SELECT l_quantity, l_extendedprice, l_discount, l_tax
      FROM lineitem
      WHERE CAST(concat('0x', substr(md5(concat_ws('_', l_orderkey, l_linenumber)), 1, 8)) AS BIGINT) % 4 = 0
    ), a AS (
      SELECT ROUND(corr(l_quantity, l_extendedprice), 6) AS c_qp,
             ROUND(corr(l_quantity, l_discount), 6) AS c_qd,
             ROUND(corr(l_quantity, l_tax), 6) AS c_qt,
             ROUND(corr(l_extendedprice, l_discount), 6) AS c_pd,
             ROUND(corr(l_extendedprice, l_tax), 6) AS c_pt,
             ROUND(corr(l_discount, l_tax), 6) AS c_dt
      FROM s
    )
    SELECT 'l_quantity' AS x, 'l_quantity' AS y, 1.0 AS corr_val FROM a
    UNION ALL SELECT 'l_quantity', 'l_extendedprice', c_qp FROM a
    UNION ALL SELECT 'l_quantity', 'l_discount', c_qd FROM a
    UNION ALL SELECT 'l_quantity', 'l_tax', c_qt FROM a
    UNION ALL SELECT 'l_extendedprice', 'l_extendedprice', 1.0 FROM a
    UNION ALL SELECT 'l_extendedprice', 'l_discount', c_pd FROM a
    UNION ALL SELECT 'l_extendedprice', 'l_tax', c_pt FROM a
    UNION ALL SELECT 'l_discount', 'l_discount', 1.0 FROM a
    UNION ALL SELECT 'l_discount', 'l_tax', c_dt FROM a
    UNION ALL SELECT 'l_tax', 'l_tax', 1.0 FROM a
    """,
)
def q_corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDA sample→correlation-matrix composite (reference
    helper_methods.py:82-90, notebook cells 4-9): deterministic 25%
    hash sample (portable md5 — reproducible across engines and
    partitionings, unlike the reference's seeded sample), then ALL
    upper-triangle Pearson pairs in one hash aggregate
    (operators.aggregates.correlation_matrix), unpivoted to long form.
    One scan, one k²-scalar shuffle — the sample predicate is a plain
    filter that pushes into the scan."""
    from flight_delay_prediction_using_pyspark_spark.operators.sampling import hash_sample

    lineitem = load_table(spark, sf_dir, "lineitem")
    sampled = hash_sample(
        lineitem,
        F.concat_ws("_", F.col("l_orderkey"), F.col("l_linenumber")),
        denominator=4,
    )
    return A.correlation_matrix(
        sampled, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


@query(
    "orders_priority_quartiles",
    oracle="""
    WITH w AS (
      SELECT o_orderpriority, o_totalprice,
             ntile(4) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS quartile,
             percent_rank() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS pr
      FROM orders
    )
    SELECT o_orderpriority, quartile,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           ROUND(MAX(pr), 6) AS max_pct_rank
    FROM w
    GROUP BY o_orderpriority, quartile
    """,
)
def q_orders_priority_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + percent_rank windows (the W-family beyond row_number/
    lag): per-priority price quartiles with a unique (price, orderkey)
    sort so bucket assignment is engine-deterministic. One shuffle on
    the partition key, then in-partition sort — the same physics as
    rank_lineitems_in_order."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderpriority",
            "o_totalprice",
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pr"),
        )
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.round(F.max("pr"), 6).alias("max_pct_rank"),
        )
    )


@query(
    "argmax_price_per_flag",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             MAX(struct_pack(p := l_extendedprice, o := l_orderkey,
                             l := l_linenumber)) AS b
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           b.p AS max_price,
           b.o AS argmax_orderkey,
           b.l AS argmax_linenumber
    FROM m
    """,
)
def q_argmax_price_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax aggregation (the max_by family) WITHOUT a window: one
    hash agg carrying max(struct(price, orderkey, linenumber)) —
    lexicographic struct order makes tie-breaks deterministic where
    bare max_by picks an arbitrary row. Partial-aggregates like any
    max: no sort, no per-group row shuffle — the scalable top-1-per-
    group form (the window row_number form shuffles whole groups)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    best = F.max(
        F.struct("l_extendedprice", "l_orderkey", "l_linenumber")
    ).alias("b")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(best)
        .select(
            "l_returnflag",
            F.col("b.l_extendedprice").alias("max_price"),
            F.col("b.l_orderkey").alias("argmax_orderkey"),
            F.col("b.l_linenumber").cast("int").alias("argmax_linenumber"),
        )
    )


@query(
    "orders_heavy_hitters",
    oracle="""
    SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS spend
    FROM orders
    GROUP BY o_custkey
    ORDER BY n_orders DESC, custkey
    LIMIT 25
    """,
)
def q_orders_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (the freqItems/top-k-frequency family,
    reference's A4 cardinality probes taken to scale): top-25
    customers by order count. Plan: partial-agg groupBy then
    TakeOrderedAndProject — per-partition top-k heaps merge on the
    driver, no global sort stage. Ties at the cutoff break on custkey
    so the selected SET is deterministic. The sketch companion
    (df.stat.freqItems, count-min-shaped) is exercised in
    tests/test_aggregates.py — its false positives make it
    un-oracle-able."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            A.exact_decimal_sum("o_totalprice").alias("spend"),
        )
        .orderBy(F.desc("n_orders"), F.asc("custkey"))
        .limit(25)
    )


@query(
    "lineitem_unpivot_metrics",
    oracle="""
    WITH long AS (
      SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT 'l_tax', l_tax FROM lineitem
    )
    SELECT metric, CAST(COUNT(value) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total,
           MIN(value) AS vmin, MAX(value) AS vmax
    FROM long
    GROUP BY metric
    """,
)
def q_lineitem_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (df.unpivot, the A11 summary family reshaped):
    four measure columns unpivoted to (metric, value) rows, then one
    grouped profile per metric. Expand is generated in-task (no
    shuffle added beyond the 4-group agg); column pruning still
    reaches the scan — only the four measures are read."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    long = lineitem.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )
    return long.groupBy("metric").agg(
        F.count("value").alias("n"),
        A.exact_decimal_sum("value").alias("total"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


@query(
    "crosstab_returnflag_linestatus",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_linestatus = 'F') AS l_linestatus_F,
           COUNT(*) FILTER (WHERE l_linestatus = 'O') AS l_linestatus_O
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_crosstab_returnflag_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table (A10 crosstab shape) as conditional counts:
    single hash agg, static schema, no extra pivot-values job."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return A.crosstab_counts(lineitem, "l_returnflag", "l_linestatus", ["F", "O"])


@query(
    "rollup_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q_rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (§2d gap op the engine adds beyond the
    reference — Spark plans a single Expand+hash-agg)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        A.exact_decimal_sum("l_quantity").alias("sum_qty"),
    )


@query(
    "numeric_profile_orders",
    oracle="""
    SELECT 'o_totalprice' AS column_name,
           COUNT(o_totalprice) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_val,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_val,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) / COUNT(o_totalprice) AS mean_val,
           ROUND(stddev_samp(o_totalprice), 4) AS stddev_val,
           CAST(SUM(CAST(o_totalprice IS NULL AS BIGINT)) AS BIGINT) AS n_nulls
    FROM orders
    """,
)
def q_numeric_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass numeric profile (C12/A11 equivalent): count, min,
    max, exact mean, stddev, nulls — one scan, one row per column,
    replacing the reference's N-jobs-per-column EDA
    (/root/reference/src/main/helper_methods.py:65-79)."""
    orders = load_table(spark, sf_dir, "orders")
    prof = A.numeric_profile(orders, ["o_totalprice"])
    return prof.select(
        "column_name",
        "n",
        "min_val",
        "max_val",
        "mean_val",
        F.round("stddev_val", 4).alias("stddev_val"),
        "n_nulls",
    )


# ---------------------------------------------------------------------------
# Dedup / windows / top-k (A8, W*, O*)
# ---------------------------------------------------------------------------


@query(
    "dedup_lineitem_per_order",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
    FROM lineitem
    QUALIFY row_number() OVER (
        PARTITION BY l_orderkey
        ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
                 l_extendedprice, l_discount, l_tax, l_shipdate) = 1
    """,
)
def q_dedup_lineitem_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic key-dedup (A8 made reproducible): first row per
    key under a TOTAL order (all columns — the synthetic lineitem has
    duplicate linenumbers) — stable under any partitioning, unlike
    dropDuplicates (/root/reference/src/main/dataset_utils.py:126)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    order_cols = [
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_shipdate",
    ]
    return R.dedup_deterministic(
        lineitem, ["l_orderkey"], [F.col(c) for c in order_cols]
    ).select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")


@query(
    "rank_lineitems_in_order",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           row_number() OVER (PARTITION BY l_orderkey
                              ORDER BY l_extendedprice DESC, l_linenumber) AS rnk
    FROM lineitem
    QUALIFY rnk <= 2
    """,
)
def q_rank_lineitems_in_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window (W1,
    /root/reference/src/main/helper_methods.py:171-179 shape): top-2
    line items per order by price with a unique tiebreaker."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    ranked = W.rank_in_group(
        lineitem,
        ["l_orderkey"],
        [F.col("l_extendedprice").desc(), F.col("l_linenumber")],
        out_col="rnk",
    )
    return ranked.filter(F.col("rnk") <= 2).select(
        "l_orderkey", "l_linenumber", F.col("rnk").cast("long").alias("rnk")
    )


@query(
    "price_ratio_global_max",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / (SELECT MAX(l_extendedprice) FROM lineitem) AS price_ratio
    FROM lineitem
    """,
)
def q_price_ratio_global_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 rewrite: global max attached to every row via scalar agg +
    broadcast cross-join — same semantics as the reference's
    single-partition unbounded window
    (/root/reference/src/main/dataset_utils.py:55-66), fully parallel."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    with_max = W.with_global_agg(
        lineitem, F.max("l_extendedprice"), out_col="__max_price"
    )
    return with_max.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") / F.col("__max_price")).alias("price_ratio"),
    )


@query(
    "top10_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed top-k (O3): TakeOrderedAndProject — per-partition
    k-heaps merged at the driver, no global sort."""
    orders = load_table(spark, sf_dir, "orders")
    return R.top_k(
        orders.select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        10,
    )


@query(
    "event_value_delta_per_user",
    oracle="""
    SELECT event_id, user_id,
           value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    """,
)
def q_event_value_delta_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() per-group delta (§2e gap op): one shuffle on user_id;
    identical operand order both engines → bit-identical doubles."""
    ensure_utc(spark)
    events = load_table(spark, sf_dir, "events")
    return W.lag_lead_delta(
        events, ["user_id"], [F.col("ts"), F.col("event_id")], "value", out_col="delta"
    ).select("event_id", "user_id", "delta")


# ---------------------------------------------------------------------------
# Events: timestamps + JSON (§2h gap ops; events table)
# ---------------------------------------------------------------------------


@query(
    "events_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_ts, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup over event time via F.window — the same
    plan Structured Streaming uses for windowed aggs (streaming/ reuses
    this logic); batch-equivalent to date_trunc('hour')."""
    ensure_utc(spark)
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            A.exact_decimal_sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_ts"), "event_type", "n_events", "sum_value"
        )
    )


@query(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS DECIMAL(30,0))) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    """,
)
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction (from_json into a typed struct, §2h gap op)
    + grouped agg. from_json is a JVM-side expression — no Python UDF."""
    events = load_table(spark, sf_dir, "events")
    parsed = events.withColumn(
        "props_struct", F.from_json(F.col("props"), "k BIGINT")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("props_struct.k")).alias("sum_k"),
    )


# ---------------------------------------------------------------------------
# Reference-parity composites (SURVEY.md §2k) on the portable synthetic
# flight tables: the SAME generator SQL text runs in Spark (via
# spark.sql) and inside the DuckDB oracle as a CTE, so even the
# flight-domain composites are hash-checkable.
# ---------------------------------------------------------------------------

from flight_delay_prediction_using_pyspark_spark.functions.features import (  # noqa: E402
    add_custom_features,
    add_time_gap_bucket,
    add_time_of_day,
    add_weekend_indicator,
)
from flight_delay_prediction_using_pyspark_spark.functions.labels import add_prediction_labels  # noqa: E402
from flight_delay_prediction_using_pyspark_spark.functions.time_parse import (  # noqa: E402
    add_cyclical_times,
    add_polar_coordinates,
)
from flight_delay_prediction_using_pyspark_spark.plans import prepare as P  # noqa: E402
from flight_delay_prediction_using_pyspark_spark.sources.synthetic import (  # noqa: E402
    flights_df,
    flights_gen_sql,
    plane_df,
    plane_gen_sql,
)

# Deterministic survivor order for unique_id dedup: columns that are
# never null in the generator, explicit NULLS FIRST on the nullable
# ones so Spark (asc = nulls first) and DuckDB agree. Built lazily —
# F.col needs an active SparkContext in classic PySpark.
def _dedup_order_spark():
    return [
        F.col("DepTime").asc_nulls_first(),
        F.col("CRSArrTime").asc_nulls_first(),
        F.col("DepDelay"),
        F.col("TaxiOut"),
        F.col("UniqueCarrier"),
        F.col("Dest"),
        F.col("CRSElapsedTime"),
    ]
_DEDUP_ORDER_SQL = (
    "DepTime ASC NULLS FIRST, CRSArrTime ASC NULLS FIRST, DepDelay, "
    "TaxiOut, UniqueCarrier, Dest, CRSElapsedTime"
)

_UID_SQL = (
    "concat_ws('_', Month, DayofMonth, DayOfWeek, FlightNum, Origin, "
    "CRSDepTime, Cancelled)"
)

# SQL fragments replicating the reference formulas (see functions/):
_MSM = lambda c: f"(({c} // 100) * 60 + {c} % 100)"  # noqa: E731
_HOUR = lambda c: f"({c} // 100)"  # noqa: E731


def _tod_sql(c: str) -> str:
    h = _HOUR(c)
    return (
        f"CASE WHEN {h} >= 5 AND {h} <= 11 THEN 'morning' "
        f"WHEN {h} >= 12 AND {h} <= 18 THEN 'afternoon' "
        f"WHEN {h} >= 19 AND {h} <= 23 THEN 'evening' "
        f"WHEN {h} >= 0 AND {h} <= 4 THEN 'night' "
        f"ELSE 'unknown' END"
    )


_GAP_SQL = f"({_MSM('CRSArrTime')} - {_MSM('CRSDepTime')})"
_GAP_BUCKET_SQL = (
    f"CASE WHEN {_GAP_SQL} <= 30 THEN 'NOT_ENOUGH' "
    f"WHEN {_GAP_SQL} > 30 AND {_GAP_SQL} <= 60 THEN 'BARELY_ENOUGH' "
    f"WHEN {_GAP_SQL} > 60 AND {_GAP_SQL} <= 120 THEN 'ENOUGH' "
    f"ELSE 'MORE_THAN_ENOUGH' END"
)
_WEEKEND_SQL = "CASE WHEN DayOfWeek IN (5,6,7) THEN 'Weekend' ELSE 'Weekday' END"

_PLANE_CLEAN_SQL = f"""
    SELECT tailnum, type, manufacturer, model, aircraft_type, engine_type,
           year AS year_plane
    FROM plane
    WHERE (CAST(tailnum IS NOT NULL AS INT) + CAST(type IS NOT NULL AS INT)
         + CAST(manufacturer IS NOT NULL AS INT) + CAST(model IS NOT NULL AS INT)
         + CAST(aircraft_type IS NOT NULL AS INT) + CAST(engine_type IS NOT NULL AS INT)
         + CAST(year IS NOT NULL AS INT)) >= 4
"""


@query(
    "flights_unique_id_stats",
    oracle=f"""
    WITH flights AS ({flights_gen_sql()})
    SELECT COUNT(*) AS n_rows, COUNT(DISTINCT {_UID_SQL}) AS n_unique
    FROM flights
    """,
)
def q_flights_unique_id_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2/F1: synthetic 7-column unique_id (concat_ws) + cardinality —
    the duplicate-injection knob of the generator shows up as
    n_unique < n_rows (/root/reference/src/main/dataset_utils.py:130-135)."""
    df = P.append_unique_id(flights_df(spark))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("unique_id").alias("n_unique"),
    )


@query(
    "flights_clean_summary",
    oracle=f"""
    WITH flights AS ({flights_gen_sql()}),
    u AS (SELECT *, {_UID_SQL} AS unique_id FROM flights),
    filt AS (SELECT * FROM u
             WHERE ArrDelay IS NOT NULL AND Cancelled = 0 AND Distance IS NOT NULL),
    ded AS (SELECT * FROM filt
            QUALIFY row_number() OVER (PARTITION BY unique_id
                                       ORDER BY {_DEDUP_ORDER_SQL}) = 1)
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(ArrDelay) AS BIGINT) AS sum_arrdelay,
           CAST(SUM(DepDelay) AS BIGINT) AS sum_depdelay
    FROM ded
    """,
)
def q_flights_clean_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1+C2+C3: forbidden-column drop, null/cancelled filters,
    deterministic unique_id dedup
    (/root/reference/src/main/dataset_utils.py:121-135)."""
    df = P.drop_forbidden(flights_df(spark))
    df = P.append_unique_id(df)
    df = P.clean_data(df, dedup_order=_dedup_order_spark())
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("ArrDelay").cast("long").alias("sum_arrdelay"),
        F.sum("DepDelay").cast("long").alias("sum_depdelay"),
    )


@query(
    "flights_cyclical_time",
    oracle=f"""
    WITH flights AS ({flights_gen_sql()})
    SELECT row_id,
           (ROUND(cos(2.0 * pi() * {_MSM('CRSDepTime')} / 1440), 6) + 0.0) AS crsdep_min_cos,
           (ROUND(sin(2.0 * pi() * {_MSM('CRSDepTime')} / 1440), 6) + 0.0) AS crsdep_min_sin,
           (ROUND(cos(2.0 * pi() * {_HOUR('DepTime')} / 24), 6) + 0.0) AS dep_hour_cos,
           (ROUND(sin(2.0 * pi() * {_HOUR('DepTime')} / 24), 6) + 0.0) AS dep_hour_sin,
           (ROUND(cos(2.0 * pi() * {_MSM('CRSArrTime')} / 1440), 6) + 0.0) AS crsarr_min_cos
    FROM flights
    WHERE DepTime IS NOT NULL AND CRSArrTime IS NOT NULL
    """,
)
def q_flights_cyclical_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cyclical HHMM encodings
    (/root/reference/src/main/dataset_utils.py:79-117): junk-tolerant
    parse → minutes/hours sin/cos; null-time rows filtered by the
    operator itself."""
    df = add_cyclical_times(flights_df(spark))
    return df.select(
        "row_id",
        (F.round("CRSDepTime_minutes_cosine", 6) + 0.0).alias("crsdep_min_cos"),
        (F.round("CRSDepTime_minutes_sine", 6) + 0.0).alias("crsdep_min_sin"),
        (F.round("DepTime_hours_cosine", 6) + 0.0).alias("dep_hour_cos"),
        (F.round("DepTime_hours_sine", 6) + 0.0).alias("dep_hour_sin"),
        (F.round("CRSArrTime_minutes_cosine", 6) + 0.0).alias("crsarr_min_cos"),
    )


@query(
    "flights_polar_coordinates",
    oracle=f"""
    WITH flights AS ({flights_gen_sql()})
    SELECT row_id,
           (ROUND(cos(2.0 * pi() * (Month - 1) / (SELECT MAX(Month) FROM flights) + pi() / 2.0), 6) + 0.0) AS month_polar_x,
           (ROUND(sin(2.0 * pi() * (Month - 1) / (SELECT MAX(Month) FROM flights) + pi() / 2.0), 6) + 0.0) AS month_polar_y,
           (ROUND(cos(2.0 * pi() * (DayOfWeek - 1) / (SELECT MAX(DayOfWeek) FROM flights) + pi() / 2.0), 6) + 0.0) AS dow_polar_x,
           (ROUND(sin(2.0 * pi() * (DayOfWeek - 1) / (SELECT MAX(DayOfWeek) FROM flights) + pi() / 2.0), 6) + 0.0) AS dow_polar_y
    FROM flights
    """,
)
def q_flights_polar_coordinates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 polar month/week encodings — global max via parallel scalar
    agg + broadcast, replacing the reference's single-partition window
    (/root/reference/src/main/dataset_utils.py:55-76; SURVEY.md §4.1)."""
    df = add_polar_coordinates(flights_df(spark), ["Month", "DayOfWeek"])
    return df.select(
        "row_id",
        (F.round("Month_polar_x", 6) + 0.0).alias("month_polar_x"),
        (F.round("Month_polar_y", 6) + 0.0).alias("month_polar_y"),
        (F.round("DayOfWeek_polar_x", 6) + 0.0).alias("dow_polar_x"),
        (F.round("DayOfWeek_polar_y", 6) + 0.0).alias("dow_polar_y"),
    )


@query(
    "flights_enrich_manufacturer",
    oracle=f"""
    WITH flights AS ({flights_gen_sql()}),
    plane AS ({plane_gen_sql()}),
    dim AS ({_PLANE_CLEAN_SQL})
    SELECT manufacturer,
           COUNT(*) AS n_flights,
           COUNT(DISTINCT flights.TailNum) AS n_tails
    FROM flights JOIN dim ON flights.TailNum = dim.tailnum
    GROUP BY manufacturer
    """,
)
def q_flights_enrich_manufacturer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 enrichment join (/root/reference/src/main/dataset_utils.py:33-52):
    dimension cleanup (na.drop thresh=4), broadcast inner join on
    TailNum — unmatched fact rows drop, as in the reference."""
    joined = P.extend_with_plane_data(flights_df(spark), plane_df(spark))
    return joined.groupBy("manufacturer").agg(
        F.count(F.lit(1)).alias("n_flights"),
        F.countDistinct("TailNum").alias("n_tails"),
    )


@query(
    "flights_missing_tailnum",
    oracle=f"""
    WITH flights AS ({flights_gen_sql()}),
    plane AS ({plane_gen_sql()}),
    dim AS ({_PLANE_CLEAN_SQL}),
    m AS (SELECT COUNT(*) AS missing_rows FROM flights f
          WHERE NOT EXISTS (SELECT 1 FROM dim d WHERE d.tailnum = f.TailNum)),
    t AS (SELECT COUNT(*) AS total_rows FROM flights)
    SELECT missing_rows, total_rows,
           missing_rows / total_rows * 100 AS missing_pct
    FROM m, t
    """,
)
def q_flights_missing_tailnum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14 rewritten scalable (anti-join + agg, no driver collect/isin
    round-trip — /root/reference/src/main/dataset_utils.py:11-23,
    SURVEY.md §4.2)."""
    return P.missing_tailnum_ratio(
        flights_df(spark), P.clean_plane_data(plane_df(spark))
    )


_TOD_ORACLE = f"""
    WITH flights AS ({flights_gen_sql()})
    SELECT {_tod_sql('DepTime')} AS DepTime_TOD,
           {_tod_sql('CRSDepTime')} AS CRSDepTime_TOD,
           {_tod_sql('CRSArrTime')} AS CRSArrTime_TOD,
           COUNT(*) AS n
    FROM flights
    GROUP BY 1, 2, 3
    """


@query("flights_tod_buckets", oracle=_TOD_ORACLE)
def q_flights_tod_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 time-of-day bucketing as a pure-Column when-cascade (the
    codegen-friendly rewrite of the reference's row-at-a-time UDF,
    /root/reference/src/main/custom_features.py:7-47); NULL hour →
    'unknown' preserved."""
    df = add_time_of_day(flights_df(spark))
    return df.groupBy("DepTime_TOD", "CRSDepTime_TOD", "CRSArrTime_TOD").agg(
        F.count(F.lit(1)).alias("n")
    )


@query("flights_tod_buckets_udf", oracle=_TOD_ORACLE)
def q_flights_tod_buckets_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 parity: the same bucketing through a plain Python UDF
    (/root/reference/src/main/custom_features.py:36) — kept to
    demonstrate UDF-surface parity and to measure the Python-boundary
    tax vs the native cascade; same oracle as the native form."""
    df = add_time_of_day(flights_df(spark), use_udf=True)
    return df.groupBy("DepTime_TOD", "CRSDepTime_TOD", "CRSArrTime_TOD").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "flights_weekend_timegap",
    oracle=f"""
    WITH flights AS ({flights_gen_sql()})
    SELECT {_WEEKEND_SQL} AS Weekend,
           {_GAP_BUCKET_SQL} AS TimeBetweenDepartures,
           COUNT(*) AS n
    FROM flights
    GROUP BY 1, 2
    """,
)
def q_flights_weekend_timegap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8+C9 (/root/reference/src/main/custom_features.py:52-90):
    weekend flag ([5,6,7] — src semantics) and scheduled-gap buckets,
    incl. the NULL→MORE_THAN_ENOUGH fall-through quirk."""
    df = add_time_gap_bucket(add_weekend_indicator(flights_df(spark)))
    return df.groupBy("Weekend", "TimeBetweenDepartures").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "flights_label_confusion",
    oracle=f"""
    WITH flights AS ({flights_gen_sql()})
    SELECT CASE WHEN ArrDelay * 0.95 >= 10 THEN 'delayed'
                WHEN ArrDelay * 0.95 <= -10 THEN 'early'
                ELSE 'on time' END AS predicted_label,
           CASE WHEN ArrDelay >= 10 THEN 'delayed'
                WHEN ArrDelay <= -10 THEN 'early'
                ELSE 'on time' END AS actual_label,
           COUNT(*) AS n
    FROM flights
    GROUP BY 1, 2
    """,
)
def q_flights_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11 ±10-minute label derivation + confusion counts
    (/root/reference/src/main/main.py:94-113; A10 crosstab shape).
    A shrunk copy of ArrDelay stands in for the model prediction."""
    df = flights_df(spark).withColumn("prediction", F.col("ArrDelay") * 0.95)
    df = add_prediction_labels(df)
    return df.groupBy("predicted_label", "actual_label").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "flights_tod_prediction_means",
    oracle=f"""
    WITH flights AS ({flights_gen_sql()})
    SELECT {_tod_sql('DepTime')} AS DepTime_TOD,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(ArrDelay AS BIGINT)) AS DOUBLE) / COUNT(*), 6)
             AS mean_actual,
           ROUND(CAST(0.95 AS DOUBLE) * CAST(SUM(CAST(ArrDelay AS BIGINT)) AS DOUBLE) / COUNT(*), 6)
             AS mean_pred
    FROM flights
    WHERE ArrDelay IS NOT NULL
    GROUP BY 1
    """,
)
def q_flights_tod_prediction_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-time-window actual-vs-predicted report rollup
    (/root/reference/tools/generate_report_figures.py:122-126:
    `df.groupby(DepTime_TOD).agg(actual=mean(ArrDelay),
    pred=mean(prediction))` — the data behind figure E). The same
    deterministic 0.95-shrunk stand-in prediction as
    flights_label_confusion keeps it SQL-expressible; both means are
    derived from ONE exact integer SUM(ArrDelay) per group (mean_pred
    = 0.95 · mean_actual algebraically), so no float-summation-order
    divergence between engines can reach the hash."""
    df = flights_df(spark).filter(F.col("ArrDelay").isNotNull())
    df = add_time_of_day(df)
    s = F.sum(F.col("ArrDelay").cast("long")).cast("double")
    n = F.count(F.lit(1))
    return df.groupBy("DepTime_TOD").agg(
        n.alias("n"),
        F.round(s / n, 6).alias("mean_actual"),
        F.round(F.lit(0.95) * s / n, 6).alias("mean_pred"),
    )


@query(
    "flights_residual_histogram",
    oracle=f"""
    WITH flights AS ({flights_gen_sql()})
    SELECT CAST(FLOOR(ArrDelay * CAST(0.95 AS DOUBLE) - ArrDelay) AS BIGINT) AS residual_bucket,
           COUNT(*) AS n
    FROM flights
    WHERE ArrDelay IS NOT NULL
    GROUP BY 1
    """,
)
def q_flights_residual_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-distribution histogram
    (/root/reference/tools/generate_report_figures.py:43-68: res =
    prediction − actual, histplot bins — figure B). Width-1-minute
    integer buckets via FLOOR of the residual; the subtraction is done
    in the same order as the reference (pred − actual) and both
    engines evaluate the identical IEEE-double expression, so FLOOR is
    bit-deterministic. Distributed shape: one map + one groupBy on a
    small integer key — the figure's input at any scale."""
    df = flights_df(spark).filter(F.col("ArrDelay").isNotNull())
    residual = F.col("ArrDelay") * 0.95 - F.col("ArrDelay")
    return (
        df.select(F.floor(residual).cast("long").alias("residual_bucket"))
        .groupBy("residual_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "flights_residual_summary",
    oracle=f"""
    WITH flights AS ({flights_gen_sql()}),
    r AS (
      SELECT ArrDelay * CAST(0.95 AS DOUBLE) - ArrDelay AS res,
             CAST(ArrDelay AS DOUBLE) AS y,
             ArrDelay * CAST(0.95 AS DOUBLE) AS yhat
      FROM flights WHERE ArrDelay IS NOT NULL
    )
    SELECT COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(FLOOR(res * 100) AS BIGINT)) AS DOUBLE)
                 / 100 / COUNT(*), 6) AS mean_residual,
           ROUND(quantile_cont(res, 0.5), 6) AS median_residual,
           ROUND(CAST(SUM(CAST(FLOOR(ABS(yhat - y) * 100) AS BIGINT)) AS DOUBLE)
                 / 100 / COUNT(*), 6) AS mae_cents
    FROM r
    """,
)
def q_flights_residual_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The residual figure's annotation metrics
    (/root/reference/tools/generate_report_figures.py:75-77 mean/median
    markers; :83-85 MAE). Float sums are made order-independent by
    summing FLOOR(value·100) integer centiminutes — the L9 evaluator
    (ml/train.evaluate_regression) computes the true float MAE/RMSE;
    this catalog entry is its hash-checkable integer twin."""
    df = flights_df(spark).filter(F.col("ArrDelay").isNotNull())
    res = F.col("ArrDelay") * 0.95 - F.col("ArrDelay")
    yhat_err = F.abs(F.col("ArrDelay") * 0.95 - F.col("ArrDelay").cast("double"))
    proj = df.select(
        res.alias("res"),
        F.floor(res * 100).cast("long").alias("res_c"),
        F.floor(yhat_err * 100).cast("long").alias("err_c"),
    )
    n = F.count(F.lit(1))
    stats = proj.agg(
        n.alias("n"),
        F.round(F.sum("res_c").cast("double") / 100 / n, 6).alias("mean_residual"),
        F.round(F.expr("percentile(res, 0.5)"), 6).alias("median_residual"),
        F.round(F.sum("err_c").cast("double") / 100 / n, 6).alias("mae_cents"),
    )
    return stats


@query(
    "flights_prepare_summary",
    oracle=f"""
    WITH flights AS ({flights_gen_sql()}),
    plane AS ({plane_gen_sql()}),
    dim AS ({_PLANE_CLEAN_SQL}),
    u AS (SELECT *, {_UID_SQL} AS unique_id FROM flights),
    filt AS (SELECT * FROM u
             WHERE ArrDelay IS NOT NULL AND Cancelled = 0 AND Distance IS NOT NULL),
    ded AS (SELECT * FROM filt
            QUALIFY row_number() OVER (PARTITION BY unique_id
                                       ORDER BY {_DEDUP_ORDER_SQL}) = 1),
    cyc AS (SELECT * FROM ded WHERE DepTime IS NOT NULL AND CRSArrTime IS NOT NULL),
    joined AS (SELECT cyc.*, dim.type, dim.manufacturer, dim.model, dim.aircraft_type, dim.engine_type, dim.year_plane FROM cyc JOIN dim ON cyc.TailNum = dim.tailnum)
    SELECT {_WEEKEND_SQL} AS Weekend,
           {_GAP_BUCKET_SQL} AS TimeBetweenDepartures,
           COUNT(*) AS n,
           CAST(SUM(DepDelay) AS BIGINT) AS sum_depdelay
    FROM joined
    GROUP BY 1, 2
    """,
)
def q_flights_prepare_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10 end-to-end (/root/reference/src/main/dataset_utils.py:138-147):
    unique_id → clean → cyclical filters → enrichment join → engineered
    categoricals → 18-col select, summarized by the engineered buckets.
    The full lineage is oracle-checked via the same generator CTE."""
    prepared = P.prepare_data(
        flights_df(spark), plane_df(spark), dedup_order=_dedup_order_spark()
    )
    return prepared.groupBy("Weekend", "TimeBetweenDepartures").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("DepDelay").cast("long").alias("sum_depdelay"),
    )


# ---------------------------------------------------------------------------
# ML pipeline surface (SURVEY.md §2j) — model stages are not
# SQL-expressible, so these are rows-only entries (the driver records a
# weaker rows/schema check); the mean-fallback predictor IS expressible
# and gets a real oracle.
# ---------------------------------------------------------------------------

from flight_delay_prediction_using_pyspark_spark.ml.pipeline import (  # noqa: E402
    build_feature_pipeline,
    impute_numeric,
)
from flight_delay_prediction_using_pyspark_spark.ml.train import (  # noqa: E402
    evaluate_regression,
    mean_fallback_predictions,
    train_decision_tree,
    train_linear_regression,
)

_ML_N = 2000  # small synthetic frame: queries re-run per driver round;
# sized so the whole ml_* block (3 fits) stays a few seconds — the
# catalog entries demonstrate the L1-L12 operators, not model quality
# (tests/test_ml.py asserts learning on its own 4000-row frame).


def _prepared_flights(spark: SparkSession):
    return P.prepare_data(
        flights_df(spark, _ML_N), plane_df(spark), dedup_order=_dedup_order_spark()
    )


# The ml_* queries share one fitted pipeline: fitting is
# deterministic (same frame, same seeds), so re-fitting per query only
# burns time. The cached encoded frame is persist()ed.
def _encoded_flights(spark: SparkSession):
    def build():
        # Compact the (small) training frame before fitting: estimator
        # fits and tree induction run dozens of internal jobs over it,
        # and 64 near-empty partitions mean 64 scheduled tasks per job.
        # Size partitions to the data, not the session default — 2
        # measured fastest for the ~1.2k-row catalog frame (vs 8:
        # −3 s; vs coalesce(1): task-launch savings lose to the serial
        # stats pass). At real scale this knob is rows/partition, not
        # a constant.
        prepared = _prepared_flights(spark).repartition(2).persist()
        pipeline = build_feature_pipeline(P.CATEGORICAL_FEATURES, P.NUMERIC_FEATURES)
        model = pipeline.fit(prepared)
        return model, model.transform(prepared).persist()

    return session_memo(spark, ("encoded_flights",), build)


@query("ml_feature_pipeline_stats")
def q_ml_feature_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1-L6 (StringIndexer keep → OneHotEncoder → VectorAssembler →
    RobustScaler → final assembler,
    /root/reference/src/main/helper_methods.py:252-278): fit+transform
    on the synthetic prepare_data output; returns the encoded frame's
    row count and (constant) feature-vector dimensionality."""
    from pyspark.ml.functions import vector_to_array

    _, encoded = _encoded_flights(spark)
    return encoded.select(
        F.size(vector_to_array("features")).alias("dim")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("dim").alias("feat_dim_min"),
        F.max("dim").alias("feat_dim_max"),
        # self-check: a healthy pipeline encodes a non-empty frame
        # with ONE constant vector width (assembler output is ragged
        # only when an upstream stage broke).
        (
            (F.count(F.lit(1)) > 0)
            & (F.min("dim") == F.max("dim"))
            & (F.min("dim") > 0)
        ).alias("contract_ok"),
    )


def _trained_tree(spark: SparkSession):
    """Memoized DT fit on the shared encoded frame (same seeds ⇒ same
    model; the metrics and importance queries share one training)."""
    return session_memo(
        spark, ("trained_tree",), lambda: train_decision_tree(_encoded_flights(spark)[1])
    )


def _metrics_row(spark: SparkSession, metrics: dict) -> DataFrame:
    """Shared (mae, rmse, n_val, contract_ok) row for the rows-only
    estimator queries: the driver's weaker rows-only check becomes
    meaningful because a broken training run (NaN/zero metrics, empty
    validation split, rmse < mae — impossible for real residuals)
    surfaces as contract_ok=false in the recorded row."""
    import math

    mae, rmse, n_val = float(metrics["mae"]), float(metrics["rmse"]), metrics["rows"]
    ok = (
        math.isfinite(mae)
        and math.isfinite(rmse)
        and 0 < mae <= rmse
        and n_val > 0
    )
    return spark.createDataFrame(
        [(mae, rmse, n_val, ok)],
        "mae double, rmse double, n_val long, contract_ok boolean",
    )


@query("ml_decision_tree_metrics")
def q_ml_decision_tree_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7+L9 (/root/reference/src/main/helper_methods.py:301,341-369):
    DecisionTreeRegressor maxDepth=15/maxBins=60/seed=42 on a 90/10
    split; returns MAE/RMSE/val-count as one row."""
    _, val_preds = _trained_tree(spark)
    return _metrics_row(spark, evaluate_regression(val_preds))


@query("ml_feature_importance")
def q_ml_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L11 (/root/reference/src/main/helper_methods.py:182-195): the
    fitted tree's featureImportances vector decoded back to feature
    names via ml_attr column metadata; top 10 by score. Rows-only —
    tree induction is not SQL-expressible."""
    from flight_delay_prediction_using_pyspark_spark.ml.train import (
        extract_feature_importance,
    )
    from flight_delay_prediction_using_pyspark_spark.plans import prepare as P

    model, _ = _trained_tree(spark)
    _, encoded = _encoded_flights(spark)
    top = extract_feature_importance(
        model, encoded, top_k=10, numeric_cols=P.NUMERIC_FEATURES
    )
    # self-check for the rows-only gate: <= 10 rows, every importance
    # in [0, 1], non-increasing order (extract sorts by score), and
    # the top-k mass cannot exceed the full vector's total of 1.
    scores = [score for _, score in top]
    ok = (
        len(top) <= 10
        and all(0.0 <= x <= 1.0 for x in scores)
        and all(scores[i] >= scores[i + 1] for i in range(len(scores) - 1))
        and sum(scores) <= 1.0 + 1e-9
    )
    return spark.createDataFrame(
        [(name, round(score, 6), ok) for name, score in top],
        "feature string, importance double, contract_ok boolean",
    )


@query("ml_linear_regression_metrics")
def q_ml_linear_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L8+L9 (notebook cell 14 config): LinearRegression baseline
    maxIter=3/regParam=0.01/elasticNetParam=0.5."""
    _, encoded = _encoded_flights(spark)
    _, val_preds = train_linear_regression(encoded)
    return _metrics_row(spark, evaluate_regression(val_preds))


@query("ml_random_forest_metrics")
def q_ml_random_forest_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble extension beyond the reference's L7 single tree:
    RandomForestRegressor (catalog config: 10 trees, depth 8, bins 60,
    70% bootstrap, seed 42) on the same encoded frame and 90/10 split
    — the variance-reduction upgrade a production delay model would
    ship. Rows-only check (training is iterative, not
    SQL-expressible); the MAE/RMSE envelope is asserted in
    tests/test_ml.py. Shallower-than-DT depth is deliberate: forests
    trade per-tree depth for averaging, and each depth level is a
    sequential round of per-node stats jobs over the cluster."""
    from flight_delay_prediction_using_pyspark_spark.ml.train import train_random_forest

    _, encoded = _encoded_flights(spark)
    _, val_preds = train_random_forest(encoded, num_trees=10, max_depth=8)
    return _metrics_row(spark, evaluate_regression(val_preds))


@query("ml_gbt_metrics")
def q_ml_gbt_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted trees (ml.train.train_gbt: 10 rounds of
    depth-5 trees, bins 60, step 0.1, seed 42) on the shared encoded
    frame and 90/10 split — completes the tree family (single DT,
    random forest, GBT). Rows-only check (boosting is iterative);
    the MAE/RMSE envelope is asserted in tests/test_ml.py."""
    from flight_delay_prediction_using_pyspark_spark.ml.train import train_gbt

    _, encoded = _encoded_flights(spark)
    _, val_preds = train_gbt(encoded)
    return _metrics_row(spark, evaluate_regression(val_preds))


@query("ml_cross_validation")
def q_ml_cross_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L10 CrossValidator surface (notebook cells 17-18): 3-fold CV
    over a maxDepth×maxBins grid on the shared encoded frame, one row
    per grid point with its avgMetrics RMSE and a best-params flag.
    Rows-only check (CV training is iterative, not SQL-expressible) —
    so the query is SELF-CHECKING: it also emits the shape contract
    the fold metrics must satisfy (one row per grid point, exactly one
    best, every RMSE finite and positive) pre-evaluated into a single
    `contract_ok` boolean, making the driver's weaker rows-only pass
    meaningful (any broken run surfaces as contract_ok=false, visible
    in the recorded rows). The grid is kept to 2 points so the catalog
    entry demonstrates the operator without dominating round runtime
    (the full reference grid is ml.train.cross_validate_tree's
    default)."""
    import math

    from flight_delay_prediction_using_pyspark_spark.ml.train import (
        cross_validate_tree,
    )

    depth_grid, bins_grid = [5, 10], [60]
    _, encoded = _encoded_flights(spark)
    _, rows = cross_validate_tree(
        encoded, max_depth_grid=depth_grid, max_bins_grid=bins_grid
    )
    expected = len(depth_grid) * len(bins_grid)
    n_best = sum(1 for r in rows if r[3])
    finite = all(math.isfinite(r[2]) and r[2] > 0 for r in rows)
    best_is_min = all(
        r[2] == min(x[2] for x in rows) for r in rows if r[3]
    )
    contract_ok = (
        len(rows) == expected and n_best == 1 and finite and best_is_min
    )
    out = [
        r + (expected, n_best, finite, contract_ok) for r in rows
    ]
    return spark.createDataFrame(
        out,
        "max_depth int, max_bins int, avg_rmse double, is_best boolean, "
        "grid_size int, n_best int, metrics_finite boolean, contract_ok boolean",
    )


@query(
    "ml_mean_fallback",
    oracle=f"""
    WITH flights AS ({flights_gen_sql()})
    SELECT COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(ArrDelay AS BIGINT)) AS DOUBLE)
                 / COUNT(ArrDelay), 6) AS prediction
    FROM flights
    WHERE ArrDelay IS NOT NULL
    """,
)
def q_ml_mean_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L12 (/root/reference/src/main/helper_methods.py:329-339): the
    untrainable-input fallback — constant global-mean prediction,
    attached via scalar-agg broadcast (no driver collect). Verified
    against an exact integer-sum oracle."""
    flights = flights_df(spark).filter(F.col("ArrDelay").isNotNull())
    preds = mean_fallback_predictions(flights)
    return preds.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.first("prediction"), 6).alias("prediction"),
    )


@query(
    "ml_imputer_stats",
    oracle=f"""
    WITH flights AS ({flights_gen_sql()}),
    m AS (
      SELECT AVG(CAST(ArrDelay AS DOUBLE)) AS mean_arrdelay,
             AVG(CAST(Distance AS DOUBLE)) AS mean_distance
      FROM flights
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN ArrDelay IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_imputed_arrdelay,
           CAST(SUM(CASE WHEN Distance IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_imputed_distance,
           ROUND(AVG(COALESCE(CAST(ArrDelay AS DOUBLE), m.mean_arrdelay)), 6)
             AS mean_arrdelay_imp,
           ROUND(AVG(COALESCE(CAST(Distance AS DOUBLE), m.mean_distance)), 6)
             AS mean_distance_imp
    FROM flights, m
    """,
)
def q_ml_imputer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-strategy null imputation (ml.pipeline.impute_numeric, one
    multi-column MLlib Imputer) on the columns the generator injects
    nulls into; verified against the COALESCE(col, AVG(col)) oracle.
    The reference drops these rows (dataset_utils.py:21-28) — this is
    the keep-the-rows alternative a 100 TB pipeline wants."""
    flights = flights_df(spark).select(
        F.col("ArrDelay").cast("double"), F.col("Distance").cast("double")
    )
    imputed = impute_numeric(flights, ["ArrDelay", "Distance"])
    return imputed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("ArrDelay").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_imputed_arrdelay"),
        F.sum(F.when(F.col("Distance").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_imputed_distance"),
        F.round(F.avg("ArrDelay_imp"), 6).alias("mean_arrdelay_imp"),
        F.round(F.avg("Distance_imp"), 6).alias("mean_distance_imp"),
    )


# Extension catalogs register themselves via the @query decorator on
# import (text/dedup/similarity — SURVEY.md §7 step 10).
from flight_delay_prediction_using_pyspark_spark.plans import text_queries  # noqa: E402,F401
from flight_delay_prediction_using_pyspark_spark.plans import similarity_queries  # noqa: E402,F401
from flight_delay_prediction_using_pyspark_spark.plans import multimodal_queries  # noqa: E402,F401
from flight_delay_prediction_using_pyspark_spark.plans import streaming_queries  # noqa: E402,F401
from flight_delay_prediction_using_pyspark_spark.plans import temporal_queries  # noqa: E402,F401
from flight_delay_prediction_using_pyspark_spark.plans import relational_queries  # noqa: E402,F401
from flight_delay_prediction_using_pyspark_spark.plans import graph_queries  # noqa: E402,F401


@query("ml_isotonic_calibration")
def q_ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib IsotonicRegression as a prediction CALIBRATOR — the
    estimator family the catalog lacked: take the session's shared
    decision tree (_trained_tree), then fit an isotonic (monotone,
    PAVA) map from raw prediction to label on its validation frame
    and score with it. Rows-only check (PAVA is an iterative
    pooled-adjacent-violators solve, not SQL-expressible), so the row
    is SELF-CHECKING with two exact mathematical contracts: (a) the calibrated prediction is monotone
    non-decreasing in the raw prediction (checked with one lag window
    over the scored frame, sorted by raw), and (b) on the frame the
    isotonic map was fit on, calibrated MSE ≤ raw MSE + eps — the
    identity is itself a monotone map, and PAVA returns the
    squared-error-optimal monotone map, so calibration can never lose
    on its own training frame. Both folded into contract_ok."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import IsotonicRegression
    from pyspark.sql import Window as W

    _, val_preds = _trained_tree(spark)
    base = val_preds.select(
        F.col("ArrDelay").cast("double").alias("label"),
        F.col("prediction").alias("raw"),
    )
    assembled = VectorAssembler(inputCols=["raw"], outputCol="rawvec").transform(
        base
    )
    iso = IsotonicRegression(
        featuresCol="rawvec", labelCol="label", predictionCol="cal", isotonic=True
    ).fit(assembled)
    scored = scratch_persist(iso.transform(assembled).select("label", "raw", "cal"))
    w = W.orderBy("raw", "cal")  # validation-sized frame; audit window
    mono = scored.select(
        (F.col("cal") >= F.coalesce(F.lag("cal").over(w), F.lit(float("-inf"))))
        .alias("ok")
    ).agg(F.min("ok").alias("monotone_ok"))
    stats = scored.agg(
        F.count(F.lit(1)).alias("n_val"),
        F.avg((F.col("label") - F.col("raw")) ** 2).alias("raw_mse"),
        F.avg((F.col("label") - F.col("cal")) ** 2).alias("cal_mse"),
    )
    row = stats.crossJoin(mono).first()
    improved = row["cal_mse"] <= row["raw_mse"] + 1e-9
    return spark.createDataFrame(
        [
            (
                int(row["n_val"]),
                round(float(row["raw_mse"]), 6),
                round(float(row["cal_mse"]), 6),
                bool(row["monotone_ok"]),
                bool(improved),
                bool(row["monotone_ok"]) and improved,
            )
        ],
        "n_val long, raw_mse double, cal_mse double, monotone_ok boolean, "
        "improved_ok boolean, contract_ok boolean",
    )


# Transpiled-tree scoring (round 8): fit memoized per session — the
# synthetic frame is SF-independent, so one small deterministic fit
# serves every invocation.
_TREESQL_FEATURES = ["DepDelay", "Distance", "DepTime"]


def _parity_mismatches(model, assembled: DataFrame, scored_col) -> tuple[int, int]:
    """(n_rows, mismatches) of model.transform vs an alternative
    scoring column over the assembled frame."""
    scored = model.transform(assembled).withColumn("alt_pred", scored_col)
    r = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(
            F.when(F.col("prediction") != F.col("alt_pred"), 1)
        ).alias("mism"),
    ).first()
    return int(r["n"]), int(r["mism"])


def _treesql_fit(spark: SparkSession):
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import (
        DecisionTreeRegressor,
        GBTRegressor,
        RandomForestRegressor,
    )

    def build():
        df = (
            flights_df(spark, 2000)
            .select(
                *[F.col(c).cast("double") for c in _TREESQL_FEATURES],
                F.col("ArrDelay").cast("double").alias("label"),
            )
            .dropna()
        )
        assembled = (
            VectorAssembler(
                inputCols=_TREESQL_FEATURES, outputCol="features"
            )
            .transform(df)
            # compact before fitting — tree induction runs dozens of
            # internal jobs (the _encoded_flights sizing rule)
            .repartition(2)
            .persist()
        )
        tree = DecisionTreeRegressor(maxDepth=4, seed=42).fit(assembled)
        rf = RandomForestRegressor(
            numTrees=5, maxDepth=3, seed=42, bootstrap=True
        ).fit(assembled)
        gbt = GBTRegressor(maxIter=5, maxDepth=3, seed=42, stepSize=0.1).fit(
            assembled
        )
        return tree, rf, gbt, assembled

    return session_memo(spark, ("treesql_fit",), build)


@query(
    "ml_tree_sql_scoring_parity",
    oracle="""
    SELECT CAST(1858 AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS tree_mismatch,
           CAST(0 AS BIGINT) AS rf_mismatch,
           CAST(0 AS BIGINT) AS gbt_mismatch,
           TRUE AS has_splits,
           TRUE AS leaves_bounded
    """,
)
def q_ml_tree_sql_scoring_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-to-SQL transpilation parity (ml/tree_sql.py) across all
    three tree families: fit a small numeric-feature DecisionTree,
    RandomForest (5×depth-3, averaged), and GBT (5 rounds, weighted
    sum) on the deterministic synthetic flights frame, export each as
    a pure Catalyst expression over the raw columns, score the SAME
    frame through model.transform AND the transpiled expression, and
    emit the oracle-pinned invariants — row count (the generator is
    deterministic and SF-independent, so 1858 is exact), ZERO
    bit-level score mismatches for EVERY family (MLlib routes
    `value <= threshold` and evaluates ensemble members sequentially;
    the SQL uses identical comparisons on repr-round-tripped doubles
    and a left-fold sum in tree order), a non-trivial tree, and the
    2^maxDepth leaf bound that keeps each expression a bounded driver
    artifact.

    Why it matters at 100 TB: a transpiled ensemble scores as ONE
    whole-stage-codegen projection — no MLlib at inference, usable
    from SQL views, streaming selects, and non-JVM readers of the
    exported expression. This is the catalog's first ORACLE-GATED ML
    inference row (the estimator fits themselves stay rows-only by
    nature)."""
    from flight_delay_prediction_using_pyspark_spark.ml.tree_sql import (
        count_leaves,
        forest_to_sql_expr,
        tree_to_arrays,
        tree_to_case_expr,
    )

    tree, rf, gbt, assembled = _treesql_fit(spark)
    arrays = tree_to_arrays(tree)
    # the three family parities are independent deterministic aggs
    # over the same assembled frame — overlap them (guide §2.6)
    (n, tree_mism), (_, rf_mism), (_, gbt_mism) = run_concurrently(
        lambda: _parity_mismatches(
            tree, assembled, F.expr(tree_to_case_expr(arrays, _TREESQL_FEATURES))
        ),
        lambda: _parity_mismatches(
            rf, assembled, F.expr(forest_to_sql_expr(rf, _TREESQL_FEATURES))
        ),
        lambda: _parity_mismatches(
            gbt, assembled, F.expr(forest_to_sql_expr(gbt, _TREESQL_FEATURES))
        ),
    )
    n_leaves = count_leaves(arrays)
    return spark.createDataFrame(
        [
            (
                n,
                tree_mism,
                rf_mism,
                gbt_mism,
                n_leaves >= 2,
                n_leaves <= 2**4,
            )
        ],
        "n_rows long, tree_mismatch long, rf_mismatch long, "
        "gbt_mismatch long, has_splits boolean, leaves_bounded boolean",
    )


# ---------------------------------------------------------------------------
# Tree-SQL codegen ceiling at the reference's own depth-15 config
# (round 9 — measured, not assumed; see ml/tree_sql.py module
# docstring for the full probe table)
# ---------------------------------------------------------------------------

_DEEP_FEATS = ["f1", "f2", "f3"]


def _deep_synth(spark: SparkSession, n_rows: int) -> DataFrame:
    """Deterministic numeric frame for deep-tree fits: md5-derived
    features over an EXPLICITLY 4-partitioned range (range's default
    slice count follows defaultParallelism, and MLlib's split-candidate
    sampling follows partitioning — pinning the layout pins the fitted
    tree bit-for-bit across local[8]/local[32] sessions)."""
    h = lambda c, m: (  # noqa: E731
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast(
            "double"
        )
        % m
    )
    df = spark.range(0, n_rows, 1, 4).select(
        h(F.col("id"), 997).alias("f1"),
        h(F.col("id") + 1000000, 613).alias("f2"),
        h(F.col("id") + 2000000, 211).alias("f3"),
    )
    return df.withColumn(
        "label",
        (
            F.col("f1") * 0.37
            + F.col("f2") * F.col("f3") % 97
            + h(F.col("f1") * 7 + F.col("f2"), 53)
        ).cast("double"),
    )


def _deep_assembled(spark: SparkSession, n_rows: int) -> DataFrame:
    """The deep synth frame with its `features` vector assembled."""
    from pyspark.ml.feature import VectorAssembler

    return VectorAssembler(inputCols=_DEEP_FEATS, outputCol="features").transform(
        _deep_synth(spark, n_rows)
    )


def _deep_fit(spark: SparkSession, n_rows: int, depth: int):
    """DecisionTreeRegressor(maxDepth=depth, maxBins=60, seed=42) — the
    reference's own tree config (reference src/main/helper_methods.py:301
    uses maxDepth=15, maxBins=60) — on the deterministic synth frame,
    which is SF-independent and partition-pinned, so one memoized fit
    serves the session."""
    from pyspark.ml.regression import DecisionTreeRegressor

    def build():
        assembled = _deep_assembled(spark, n_rows).persist()
        try:
            return DecisionTreeRegressor(
                maxDepth=depth, maxBins=60, seed=42
            ).fit(assembled)
        finally:
            assembled.unpersist()

    return session_memo(spark, ("deep_fit", n_rows, depth), build)


def _no_wholestage(spark: SparkSession) -> SparkSession:
    """A child session (shared SparkContext and cache, its own SQL
    conf) with whole-stage codegen off, so a parity action over a
    transpiled tree past the janino ceiling reaches split-method
    expression codegen directly instead of first paying the doomed
    whole-stage compile — without touching the caller's session conf
    (measured on the depth-15 parity agg: ~1.0 s off vs 1.2-2.3 s on)."""
    child = spark.newSession()
    child.conf.set("spark.sql.codegen.wholeStage", "false")
    return child


# The two ceiling queries memoize their whole result row: every leg
# (fit, doomed-compile probe, parse of a 74-87 KB expression, parity
# agg) is deterministic per session, and the expensive one IS the
# measurement — pay it once, serve repeats from the tuple.


@query(
    "ml_tree_sql_codegen_ceiling",
    oracle="""
    SELECT TRUE AS small_under_ceiling,
           TRUE AS large_over_ceiling,
           TRUE AS small_in_wholestage,
           FALSE AS large_in_wholestage,
           CAST(0 AS BIGINT) AS small_mismatch,
           CAST(0 AS BIGINT) AS large_mismatch
    """,
)
def q_ml_tree_sql_codegen_ceiling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The transpiler's whole-stage-codegen ceiling, MEASURED in-query
    (round-9 mandate): fit two trees at the reference's maxBins=60 /
    seed=42 config on the deterministic synth frame — depth 8 (251
    leaves / 14 KB SQL, under the measured ~940-leaf janino 64 KB
    method limit) and depth 11 (1,340 leaves / 74 KB SQL, over it) —
    transpile both, janino-compile each scoring projection's
    WholeStageCodegen subtree via `wholestage_compiles`, and verify
    scoring parity holds on BOTH SIDES of the ceiling (above it Spark
    silently falls back to split-method expression codegen;
    correctness never degrades, fusion does). The oracle pins the
    measured truth: the small tree stays in whole-stage, the large one
    does NOT — the boolean the scale rationale of tree→SQL scoring
    rests on. The probed projection is built over the raw (non-cached,
    exchange-free) synth lineage so AQE never wraps the plan and the
    codegen subtree stays visible. Both expressions stay far below the
    OTHER measured ceiling — ANTLR parse of a ≳160 KB nested CASE can
    OOM a default 1 GiB driver heap, and that OOM poisons the shared
    session, so driver-battery queries must never go near it. The
    large tree's parity action runs on a `_no_wholestage` child
    session to reach the split-method codegen path directly instead of
    paying the doomed compile a second time (the probe already
    measured the failure)."""
    from flight_delay_prediction_using_pyspark_spark.ml.tree_sql import (
        WHOLESTAGE_SAFE_LEAVES,
        count_leaves,
        tree_to_arrays,
        tree_to_case_expr,
        wholestage_compiles,
    )

    def build():
        n_rows = 20000
        # the two fits are independent deterministic jobs — overlap
        # them (guide §2.6); likewise the two codegen probes (the
        # doomed 74 KB janino compile is single-threaded driver JVM
        # work the small arm's jobs can back-fill) and the two parity
        # aggs (the large arm's codegen conf lives on its own session)
        small, large = run_concurrently(
            lambda: _deep_fit(spark, n_rows, 8),
            lambda: _deep_fit(spark, n_rows, 11),
        )
        arrays = {"small": tree_to_arrays(small), "large": tree_to_arrays(large)}
        exprs = {t: tree_to_case_expr(a, _DEEP_FEATS) for t, a in arrays.items()}
        raw = _deep_synth(spark, n_rows)
        (small_ws, small_n), (large_ws, large_n) = run_concurrently(
            lambda: wholestage_compiles(
                raw.select(F.expr(exprs["small"]).alias("sql_pred"))
            ),
            lambda: wholestage_compiles(
                raw.select(F.expr(exprs["large"]).alias("sql_pred"))
            ),
        )
        (_, small_mism), (_, large_mism) = run_concurrently(
            lambda: _parity_mismatches(
                small, _deep_assembled(spark, n_rows), F.expr(exprs["small"])
            ),
            lambda: _parity_mismatches(
                large,
                _deep_assembled(_no_wholestage(spark), n_rows),
                F.expr(exprs["large"]),
            ),
        )
        return (
            count_leaves(arrays["small"]) <= WHOLESTAGE_SAFE_LEAVES,
            count_leaves(arrays["large"]) > WHOLESTAGE_SAFE_LEAVES,
            small_ws and small_n > 0,
            large_ws and large_n > 0,
            small_mism,
            large_mism,
        )
    return spark.createDataFrame(
        [session_memo(spark, ("deep_result", "ceiling"), build)],
        "small_under_ceiling boolean, large_over_ceiling boolean, "
        "small_in_wholestage boolean, large_in_wholestage boolean, "
        "small_mismatch long, large_mismatch long",
    )


@query(
    "ml_tree_sql_depth15_parity",
    oracle="""
    SELECT CAST(2000 AS BIGINT) AS n_rows,
           TRUE AS leaves_over_ceiling,
           TRUE AS strategy_vectorized,
           CAST(0 AS BIGINT) AS sql_mismatch,
           CAST(0 AS BIGINT) AS udf_mismatch
    """,
)
def q_ml_tree_sql_depth15_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scoring parity at the reference's OWN tree config (maxDepth=15,
    maxBins=60, seed=42 — reference src/main/helper_methods.py:301),
    where the tree grows far past the whole-stage ceiling: both the
    transpiled SQL expression AND the vectorized-Arrow scorer
    (tree_to_arrays + vectorized_tree_scorer, the above-ceiling
    strategy) must score bit-equal to model.transform, and
    scoring_strategy must route this tree to the vectorized path.

    Sizing: 2,000 fit rows grow the depth-15 tree to 1,642 leaves
    (87 KB SQL) — decisively over the ~940-leaf janino ceiling while
    staying under the measured driver-parse ceiling (a 160 KB nested
    CASE OOM'd a default 1 GiB driver heap and poisoned the session —
    the shared driver battery must never risk that; the FULL-size
    demonstration, 12,741 leaves with a 16 GiB heap, lives in the
    pytest tier and the module docstring's probe table).

    Both parity actions run on a `_no_wholestage` child session: the
    expression is correct either way, but default mode would first
    attempt — and pay for — a doomed multi-megabyte janino compile
    (measured 19 s at 12,741 leaves) before silently falling back to
    the same split-method expression codegen the child session
    reaches directly. That tax, and the
    driver-heap cost of parsing a megabyte CASE cascade, are exactly
    why the strategy flips to the vectorized scorer above the
    ceiling. The vectorized arm's mismatch count does not depend on
    the codegen mode, so the two aggs share the child session and
    overlap (guide §2.6)."""
    from flight_delay_prediction_using_pyspark_spark.ml.tree_sql import (
        WHOLESTAGE_SAFE_LEAVES,
        count_leaves,
        scoring_strategy,
        tree_to_arrays,
        tree_to_case_expr,
        vectorized_tree_scorer,
    )

    def build():
        n_rows = 2000
        model = _deep_fit(spark, n_rows, 15)
        arrays = tree_to_arrays(model)
        expr = F.expr(tree_to_case_expr(arrays, _DEEP_FEATS))
        udf = vectorized_tree_scorer(arrays)(*[F.col(c) for c in _DEEP_FEATS])
        assembled = _deep_assembled(_no_wholestage(spark), n_rows)
        (n, sql_mism), (_, udf_mism) = run_concurrently(
            lambda: _parity_mismatches(model, assembled, expr),
            lambda: _parity_mismatches(model, assembled, udf),
        )
        return (
            n,
            count_leaves(arrays) > WHOLESTAGE_SAFE_LEAVES,
            scoring_strategy(arrays) == "vectorized",
            sql_mism,
            udf_mism,
        )

    return spark.createDataFrame(
        [session_memo(spark, ("deep_result", "depth15"), build)],
        "n_rows long, leaves_over_ceiling boolean, "
        "strategy_vectorized boolean, sql_mismatch long, "
        "udf_mismatch long",
    )
