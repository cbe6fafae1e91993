"""Distributed graph analytics over edge DataFrames.

The reference has no graph surface at all; these are the item-graph
operations a recommendation / data-curation pipeline runs over
co-occurrence edges (SURVEY.md §2 extension families). Everything is
plain DataFrame joins + aggs — no GraphFrames dependency — designed
around the two classic scale tricks:

- **Triangle counting, degree-oriented** (`triangle_stats`): orient
  every undirected edge from the (degree, id)-smaller endpoint to the
  larger. Each triangle then has exactly ONE wedge, at its minimum
  vertex, and wedge generation is a self-join on the oriented source
  whose fan-out is bounded by OUT-degree ≤ O(sqrt(m)) on any graph —
  the Suri-Vassilvitskii / Schank trick that keeps hub vertices from
  exploding the candidate set. Candidates close against the oriented
  edge set with one more equi-join. Three shuffles total, all on
  node/edge keys.
- **PageRank, exact integer arithmetic** (`pagerank_integer`): the
  damped power iteration with all values scaled to integer units and
  `div`-based flooring, so every iteration is bit-identical in any
  engine (an unrolled-CTE SQL oracle can replay it exactly — no IEEE
  summation-order drift). Each iteration is one join edges⋈ranks on
  src + one groupBy dst; ranks persist between iterations to truncate
  lineage.

Connected components live in text.dedup (minhash cluster stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SCALE = 1_000_000


def degrees(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Undirected degree per node from a distinct (a<b) edge list."""
    nodes = edges.select(F.col(a).alias("node")).unionAll(
        edges.select(F.col(b).alias("node"))
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))


def triangle_stats(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """One-row frame: n_nodes, n_edges, n_wedges (undirected open
    wedge count Σ d(d-1)/2), n_triangles, global clustering
    coefficient ROUND(3·tri/wedges, 6). `edges` must be distinct with
    a < b.

    The edge list and the degree frame are persisted for the duration
    of the computation: `edges` has FOUR consumers here (two degree
    scans, the orientation join and the wedge-close semi-join via
    `e`), and without the persist each one re-runs the caller's full
    edge-derivation lineage — for co-purchase graphs that is the
    per-order pair-generation shuffle, four times. n_edges has no scan
    of its own: it comes from the degree aggregate as Σdeg div 2, and
    is 0 (not NULL) on an empty edge set, as in the SQL oracle.
    All outputs are materialized eagerly so the caches can be released
    before returning; the returned one-row frame is built from
    literals."""
    # Respect a caller-managed cache: if `edges` is already persisted
    # (e.g. the catalog's shared co-purchase edge cache), do not
    # re-persist and — critically — do not unpersist it on exit
    # (unpersist matches by plan equality, so it would evict the
    # caller's entry too).
    # Inspect the StorageLevel fields, not its repr (the repr format is
    # not a stable API across PySpark versions; a silent mismatch would
    # leave the five-consumer edge frame unpersisted — round-4 advice).
    sl = edges.storageLevel
    manage = not (sl.useMemory or sl.useDisk or sl.useOffHeap)
    if manage:
        edges = edges.persist()
    deg = degrees(edges, a, b).persist()

    def keyed(col_node: str, alias_prefix: str) -> DataFrame:
        return deg.select(
            F.col("node").alias(col_node),
            F.col("deg").alias(f"{alias_prefix}_deg"),
        )

    # Orient each edge from the (deg, id)-smaller endpoint.
    e = (
        edges.join(keyed(a, "a"), a)
        .join(keyed(b, "b"), b)
        .select(
            F.when(
                (F.col("a_deg") < F.col("b_deg"))
                | ((F.col("a_deg") == F.col("b_deg")) & (F.col(a) < F.col(b))),
                F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
            )
            .otherwise(F.struct(F.col(b).alias("src"), F.col(a).alias("dst")))
            .alias("o")
        )
        .select("o.src", "o.dst")
    )
    # Total order for wedge-pair dedup must match the orientation
    # order. Persisted: the wedge self-join consumes od twice and the
    # triangle close consumes e once more.
    od = e.join(
        deg.select(F.col("node").alias("dst"), F.col("deg").alias("dst_deg")), "dst"
    ).persist()
    wedges = (
        od.alias("x")
        .join(od.alias("y"), F.col("x.src") == F.col("y.src"))
        .filter(
            (F.col("x.dst_deg") < F.col("y.dst_deg"))
            | (
                (F.col("x.dst_deg") == F.col("y.dst_deg"))
                & (F.col("x.dst") < F.col("y.dst"))
            )
        )
        .select(F.col("x.dst").alias("src"), F.col("y.dst").alias("dst"))
    )
    # Two independent actions remain: the wedge-close count (the big
    # job) and the one-row degree aggregate. n_edges needs no job of
    # its own — every undirected edge contributes exactly 2 to Σdeg,
    # so |E| = Σdeg div 2 exactly (integer state throughout) — and the
    # two survivors overlap on driver threads (guide §2.6) so the tiny
    # degree agg hides entirely under the wedge join instead of
    # queueing behind it. The concurrent consumers race to fill the
    # deg/edges caches; the block-level get-or-compute computes each
    # block once. Round-14: 3 sequential jobs → 2 overlapped,
    # 3.40 → 2.9 s warm at sf0.1, outputs bit-identical.
    from flight_delay_prediction_using_pyspark_spark.plans.queries import (
        run_concurrently,
    )

    n_tri, drow = run_concurrently(
        lambda: wedges.join(e, ["src", "dst"], "left_semi").count(),
        lambda: deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
            .cast("bigint")
            .alias("n_wedges"),
            F.expr("coalesce(sum(deg) div 2, 0)").alias("n_edges"),
        ).first(),
    )
    n_edges = drow["n_edges"]
    spark = edges.sparkSession
    od.unpersist()
    deg.unpersist()
    if manage:
        edges.unpersist()
    return spark.range(1).select(
        F.lit(drow["n_nodes"]).cast("bigint").alias("n_nodes"),
        F.lit(n_edges).cast("bigint").alias("n_edges"),
        F.lit(drow["n_wedges"]).cast("bigint").alias("n_wedges"),
        F.lit(n_tri).cast("bigint").alias("n_triangles"),
        # NULL, not an ANSI DIVIDE_BY_ZERO, on a wedge-free graph
        F.round(F.try_divide(F.lit(3.0 * n_tri), F.lit(drow["n_wedges"])), 6).alias("clustering"),
    )


def pagerank_integer(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    iters: int = 3,
    scale: int = PR_SCALE,
) -> DataFrame:
    """Damped PageRank over the symmetrized edge list, exact integer
    arithmetic: pr0 = scale; pr' = 0.15·scale + floor(0.85·Σ
    floor(pr_nbr/deg_nbr)) with all divisions integral (`div`), so the
    fixed-iteration result is engine-portable bit-for-bit. Symmetric
    graph ⇒ no dangling mass. Returns (node, pr)."""
    # Persist the symmetrized edge list ONCE — every iteration joins
    # against it, and without the persist each join would re-derive the
    # whole upstream edge lineage (for co-purchase graphs that is the
    # full pair-generation shuffle) per iteration — and pre-shuffle it
    # by src ONCE: the cached frame then carries HashPartitioning(src),
    # so the degree agg and every per-iteration contribution join reuse
    # that layout instead of re-exchanging the edge list each round
    # (iters×|E| shuffled bytes → 1×|E|). This is the cached-frame
    # analogue of Pregel/GraphX vertex-cut placement: ship the small
    # rank vector to the static edge partitions, never the reverse.
    sym = (
        edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionAll(edges.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .repartition("src")
        .persist()
    )  # sym is a new plan (union), so persisting it never collides
    # with a caller-managed cache on `edges` itself.
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # Per-iteration rank state is materialized with localCheckpoint
    # (eager), NOT persist: persist keeps the full logical lineage, so
    # by iteration k the analyzer/optimizer re-walk a tree containing
    # every previous iteration AND the caller's whole edge derivation —
    # the final rank frame's explain text measured 1.8 MB, and plan
    # machinery (not tasks) dominated each round (guide §3.3/§5:
    # materialize to truncate the plan). localCheckpoint cuts the
    # lineage to a LogicalRDD, making per-iteration planning O(1);
    # measured 5.6 s → 2.8 s warm at sf0.1, bit-identical ranks (the
    # vertex-sized rank state is exactly what iterative graph engines
    # checkpoint). Durability note: localCheckpoint is executor-local —
    # on a cluster where executor loss must be survivable, swap in
    # reliable checkpoint() at a sparser cadence.
    ranks = deg.select(
        "src", F.lit(scale).cast("long").alias("pr"), "deg"
    ).localCheckpoint()
    base = int(0.15 * scale)
    for _ in range(iters):
        contrib = sym.join(ranks, "src").select(
            F.col("dst").alias("node"), F.expr("pr div deg").alias("c")
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        # (src, deg) comes off the checkpointed ranks frame — no
        # recompute of the degree aggregation each round.
        ranks = (
            ranks.select("src", "deg")
            .join(sums, ranks.src == sums.node, "left")
            .select(
                F.col("src"),
                (F.lit(base) + F.expr("coalesce((17 * s) div 20, 0)"))
                .cast("long")
                .alias("pr"),
                F.col("deg"),
            )
            .localCheckpoint()
        )
    sym.unpersist()
    return ranks.select(F.col("src").alias("node"), "pr")


def kcore_peel(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 3,
    a: str = "a",
    b: str = "b",
    partitions: int = 8,
) -> list[tuple[int, int, int]]:
    """k-core peeling, fixed number of rounds: each round drops every
    node whose remaining degree is < k, then drops edges touching a
    dropped node. Returns [(round, n_nodes, n_edges)] with n_nodes =
    distinct endpoints of the surviving edge set — the standard
    community-core / spam-subgraph extraction primitive. Fixed rounds
    (not run-to-fixpoint) keep the computation replayable by an
    unrolled SQL oracle, same convention as pagerank_integer; at a
    fixpoint round the counts simply stop changing.

    `partitions` sizes only the INITIAL symmetrized checkpoint (the
    per-round frames inherit the window shuffle's AQE-coalesced
    layout); the default suits the bench-scale co-purchase graph —
    at production edge counts pass ≈ |E|·row_bytes / 256 MB so the
    first checkpoint write is not a handful of giant tasks. Results
    are partition-independent (exact counts).

    Scale shape (round-4 rewrite): the graph is held SYMMETRIZED
    (each undirected edge as two directed rows), so a node's degree is
    a plain window count over `src` — peeling a round is two window
    counts and a filter, materialized by a localCheckpoint that keeps
    lineage O(1) deep. The rounds peel on the calling thread; then the
    rounds' survivor-count aggregates, one job per checkpoint, overlap
    on run_concurrently threads. The previous broadcast-semi-join
    formulation launched two broadcast builds plus a degree job per
    round (2.4x slower on the co-purchase bench graph) and assumed the
    survivor node SET fits in a driver broadcast — false for
    billion-node graphs, while the window shuffle partitions by node
    id with no size assumption (a pathological super-node key is a
    salting problem, not a capacity wall)."""
    from pyspark.sql import Window

    from flight_delay_prediction_using_pyspark_spark.plans.queries import (
        run_concurrently,
    )

    sym = (
        edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionByName(edges.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .repartition(partitions)
        .localCheckpoint()
    )
    survivors = []
    for _ in range(rounds):
        deg_src = F.count(F.lit(1)).over(Window.partitionBy("src"))
        deg_dst = F.count(F.lit(1)).over(Window.partitionBy("dst"))
        # localCheckpoint, not persist: truncates the per-round
        # lineage so round k's planning does not re-walk rounds
        # 1..k-1 plus the caller's edge derivation (same rationale,
        # measurement and durability note as pagerank_integer).
        sym = (
            sym.withColumn("__ds", deg_src)
            .withColumn("__dd", deg_dst)
            .filter((F.col("__ds") >= k) & (F.col("__dd") >= k))
            .select("src", "dst")
            .localCheckpoint()
        )
        survivors.append(sym)
    # Each count reads an already-materialized checkpoint, so the
    # counts are independent jobs (guide §2.6).
    counts = run_concurrently(
        *[
            frame.agg(
                F.countDistinct("src").alias("n_nodes"),
                F.count(F.lit(1)).alias("n_dir_edges"),
            ).first
            for frame in survivors
        ]
    )
    return [
        (r, int(row["n_nodes"]), int(row["n_dir_edges"]) // 2)
        for r, row in enumerate(counts, start=1)
    ]
