"""Deterministic distributed k-means (Lloyd's) over integer-quantized
embeddings — the coarse/product quantizer trainer for IVF and PQ
similarity search, built so a second SQL engine can replay every
iteration bit-for-bit.

Why a second k-means next to similarity/ivf.py (MLlib): MLlib's
trainer accumulates float centroid sums whose value depends on
reduction order and partitioning, so its centroids can't be pinned by
the DuckDB oracle (the IVF catalog entry is rows-only for exactly that
reason). This trainer removes every source of nondeterminism while
keeping the distributed shape:

- vector components quantized to BIGINT (``floor(x * scale)``) →
  per-cluster component sums are exact integer arithmetic —
  associative, so identical under ANY reduction order, partitioning,
  or engine;
- a centroid component is ``double(sum) / double(count)`` — one
  correctly-rounded IEEE division of exactly-representable integers,
  identical in Python, Spark, and DuckDB;
- per-row distance is a LEFT FOLD over the fixed-length component
  array with the centroid inlined as a literal — Spark's
  ``aggregate(zip_with(...))`` and DuckDB's
  ``list_reduce(list_prepend(0.0, list_transform(...)))`` execute the
  same IEEE ops in the same order → bit-identical doubles;
- argmin ties break to the lowest cluster id (strict ``<`` while
  scanning ids ascending ≡ SQL ``ORDER BY dist, cid``);
- init picks the k rows with the smallest ``md5(CAST(id AS VARCHAR))``
  (both engines emit the same lowercase hex) — a deterministic,
  hash-spread seeding;
- an empty cluster keeps its previous centroid (both sides).

Scale shape (the part that matters at 100 TB): assignment is a pure
projection — the centroid table is inlined as literals, a bounded
artifact of k×(d+1) numbers, the same economics as the BPE merge list
and the quality-classifier weights (tokenizer-as-expression pattern).
The ONLY shuffle per iteration is the k-row (or k·m-row, grouped)
centroid recompute ``groupBy`` with map-side partial aggregation; the
driver round-trips once per iteration carrying k×(d+1) integers.
Nothing data-sized ever reaches the driver.

Used by (plans/similarity_queries.py):
- ``embedding_kmeans_clusters`` — the trained state itself;
- ``ann_ivf_kmeans_topk`` — IVF with an oracle-replayable coarse
  quantizer (upgrades IVF from the rows-only MLlib gate);
- ``ann_pq_adc_topk`` / ``ann_pq_recall_eval`` — product quantization
  (grouped k-means codebooks, ADC scoring) and its raw-vs-reranked
  recall audit;
- ``semdedup_kmeans_cells`` — SemDeDup on the paper's own learned
  cells;
- ``embedding_kmeans_pp_candidates`` / ``embedding_kmeans_init_quality``
  — the k-means|| oversampling init and the equal-budget
  init-quality comparison;
- ``ann_ivf_streaming_ingest`` — streaming index maintenance with a
  frozen quantizer artifact.

References: Lloyd 1982 (k-means); Jégou, Douze, Schmid 2011 (Product
Quantization for Nearest Neighbor Search) — public literature; the
reference repo has no clustering surface (its MLlib usage is
supervised, /root/reference/src/main/helper_methods.py).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SCALE = 100_000


# --- quantization -------------------------------------------------------------


def quantize_sql(vec_expr: str, scale: int = DEFAULT_SCALE) -> str:
    """DuckDB twin of quantize_sql_expr (identical IEEE ops)."""
    return (
        f"list_transform(CAST({vec_expr} AS DOUBLE[]), "
        f"x -> CAST(floor(x * {float(scale)!r}) AS BIGINT))"
    )


def quantize_sql_expr(vec_sql: str, scale: int = DEFAULT_SCALE) -> str:
    """array<float|double> → array<bigint>: floor(x · scale), as Spark
    SQL text (callers parse it with F.expr or compose it into other
    SQL-text expressions).

    Exactness bound: |component| ≤ ~10 and corpora ≤ ~10^9 rows keep
    per-cluster component sums < 2^53 ≪ BIGINT, so group sums are
    exact and order-independent — the property the whole oracle
    contract rests on."""
    return (
        f"transform({vec_sql}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {repr(float(scale))}D) AS BIGINT))"
    )


# --- distance + assignment expressions ----------------------------------------
#
# Literal-heavy expressions are built as SQL TEXT and parsed with ONE
# F.expr call (round-13 optimization, guide §1/§4 "the Python
# boundary" applied to the DRIVER): building the same tree through the
# Column API costs one py4j round-trip per literal/operator — measured
# 1.9-7.9 s per assignment expression at k=8·d=64 (and every Lloyd's
# iteration builds a fresh one), vs ~3 ms for the parse of the
# equivalent SQL string. The parsed tree is the SAME expression
# (identical functions, literals, fold order), so results are
# bit-identical to the py_* driver twins and the DuckDB oracles —
# pinned by tests/test_similarity.py's sql-text parity test. Vector
# arguments are therefore SQL expression TEXT only (a column name or
# e.g. "slice(rq, 1, 8)").
#
# CONTRACT of the string arguments (round-13 ADVICE): a string is
# interpolated UNQUOTED into the generated SQL, so it must be a plain
# identifier or already-valid SQL expression text. A column name that
# needs backtick quoting (reserved word, special characters) must be
# passed pre-quoted ("`my col`").


def _dbl(x: float) -> str:
    """SQL double literal that round-trips exactly: repr() emits the
    shortest digits that parse back to the same IEEE double (verified
    incl. denormals, -0.0, DBL_MAX), and the D suffix keeps Spark's
    parser from reading it as DECIMAL. Non-finite values would emit
    unparseable text ('nanD'/'infD') and surface as a cryptic parse
    error deep inside a query — fail fast with context instead
    (round-13 ADVICE)."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(
            f"non-finite centroid/LUT component {x!r} cannot be emitted "
            "as a SQL double literal"
        )
    return repr(x) + "D"


def _sq_dist_sql_expr(qv_sql: str, centroid: list[float]) -> str:
    """Σ_j (double(qv_j) − c_j)² as Spark SQL text: a left fold in
    array order — operand-order-identical to _sq_dist_sql and
    py_sq_dist."""
    arr = "array(" + ",".join(_dbl(c) for c in centroid) + ")"
    return (
        f"aggregate(zip_with({qv_sql}, {arr}, (x, c) -> "
        "(CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), "
        "0.0D, (a, b) -> a + b)"
    )


def _sq_dist_sql(qv_expr: str, centroid_expr: str, d: int) -> str:
    """DuckDB twin: left fold from 0.0 over positions 1..d."""
    term = (
        f"(CAST({qv_expr}[i] AS DOUBLE) - {centroid_expr}[i])"
        f" * (CAST({qv_expr}[i] AS DOUBLE) - {centroid_expr}[i])"
    )
    return (
        f"list_reduce(list_prepend(0.0, "
        f"list_transform(generate_series(1, {d}), i -> {term})), "
        f"(a, b) -> a + b)"
    )


def py_sq_dist(q: list[int], c: list[float]) -> float:
    """Driver-side twin of _sq_dist_sql_expr/_sq_dist_sql: the SAME left
    fold (acc starts 0.0, terms in index order), so centroid-ranking
    decisions made on the driver (IVF probe lists, PQ LUTs) are
    bit-equal to what either engine would compute."""
    acc = 0.0
    for x, cj in zip(q, c):
        diff = float(x) - cj
        acc = acc + diff * diff
    return acc


def centroid_components(n: int, sums: list[int]) -> list[float]:
    """Exact-integer state → double centroid (one correctly-rounded
    division per component; bit-equal to DuckDB's
    CAST(s AS DOUBLE)/n)."""
    return [s / n for s in sums]


def _argmin_sql_expr(terms: list[tuple[str, str]]) -> str:
    """Argmin over (distance SQL, id SQL) pairs as Spark SQL text:
    array_min of (d, c) structs — lexicographic struct ordering ≡ SQL
    ``ORDER BY d, c`` (ties → lowest id). Each distance fold appears
    ONCE in the expression (a nested when-chain duplicates it O(k²)
    times — measured 5.8 MB task binaries at k=8·m=4 vs ~1.5 MB this
    way). No candidates (an empty centroid set or codebook) → a typed
    NULL: no row has a nearest centroid."""
    if not terms:
        return "CAST(NULL AS INT)"
    entries = ", ".join(f"struct({d} AS d, {c} AS c)" for d, c in terms)
    return f"array_min(array({entries})).c"


def _nearest_sql_expr(
    qv_sql: str, centroids: dict[int, tuple[int, list[int]]]
) -> str:
    """SQL text of nearest_expr's tree."""
    return _argmin_sql_expr(
        [
            (_sq_dist_sql_expr(qv_sql, centroid_components(*centroids[cid])), str(int(cid)))
            for cid in sorted(centroids)
        ]
    )


def nearest_expr(
    qv_col: str, centroids: dict[int, tuple[int, list[int]]]
) -> Column:
    """Argmin cluster id over inlined centroid literals
    (_argmin_sql_expr over the fold distances)."""
    return F.expr(_nearest_sql_expr(qv_col, centroids))


# --- the trainer ---------------------------------------------------------------


def init_centroids(
    df: DataFrame, k: int, *, qv_col: str = "qv", id_col: str = "vec_id"
) -> dict[int, tuple[int, list[int]]]:
    """Seed with the k rows of smallest md5(id): cid i = i-th smallest.
    A driver-side k-row collect — the bounded artifact, not data."""
    rows = (
        df.select(F.md5(F.col(id_col).cast("string").cast("binary")).alias("h"), qv_col)
        .orderBy("h")
        .limit(k)
        .collect()
    )
    return {i: (1, [int(x) for x in r[qv_col]]) for i, r in enumerate(rows)}


def kmeans_fit(
    df: DataFrame,
    *,
    k: int,
    iters: int,
    d: int,
    qv_col: str = "qv",
    id_col: str = "vec_id",
) -> dict[int, tuple[int, list[int]]]:
    """Lloyd's with exact-integer centroid state.

    Per iteration: ONE wide-dependency job — a projection (assignment
    via inlined literals, no join/shuffle) feeding a k-row groupBy
    with map-side combine; the driver collects k×(d+1) integers.
    Empty clusters carry their previous state forward."""
    cent = init_centroids(df, k, qv_col=qv_col, id_col=id_col)
    return kmeans_fit_from_seeds(df, cent, iters=iters, d=d, qv_col=qv_col)


def kmeans_fit_from_seeds(
    df: DataFrame,
    seeds: dict[int, tuple[int, list[int]]],
    *,
    iters: int,
    d: int,
    qv_col: str = "qv",
) -> dict[int, tuple[int, list[int]]]:
    """The iteration loop of kmeans_fit from an arbitrary seed state —
    lets alternative inits (k-means|| candidates, a shipped centroid
    artifact) run through the identical trainer."""
    cent = dict(seeds)
    sums = [F.sum(F.col(qv_col)[j]).alias(f"s{j}") for j in range(d)]
    for _ in range(iters):
        stats = (
            df.withColumn("__cid", nearest_expr(qv_col, cent))
            .groupBy("__cid")
            .agg(F.count(F.lit(1)).alias("n"), *sums)
            .collect()
        )
        new = {
            int(r["__cid"]): (int(r["n"]), [int(r[f"s{j}"]) for j in range(d)])
            for r in stats
        }
        cent = {cid: new.get(cid, cent[cid]) for cid in cent}
    return cent


def inertia_expr(
    qv_col: str, centroids: dict[int, tuple[int, list[int]]]
) -> Column:
    """floor of the min squared distance to any centroid — the
    per-row inertia contribution, floor-quantized to BIGINT so the
    corpus sum is exact and order-free (the double min is
    bit-identical both engines; only the cross-row SUM needs the
    integer armor). No centroids → a typed NULL, as in
    _argmin_sql_expr."""
    if not centroids:
        return F.expr("CAST(NULL AS BIGINT)")
    ds = [
        _sq_dist_sql_expr(qv_col, centroid_components(*centroids[cid]))
        for cid in sorted(centroids)
    ]
    md = ds[0] if len(ds) == 1 else f"least({', '.join(ds)})"
    return F.expr(f"CAST(floor({md}) AS BIGINT)")


def inertia_sql(q_cte: str, cent_cte: str, d: int) -> str:
    """DuckDB twin of an inertia scan: SUM(floor(min dist²)) as an
    exact DECIMAL(38,0) cast back to BIGINT."""
    dist = _sq_dist_sql(f"{q_cte}.qv", "c.c", d)
    return (
        f"(SELECT CAST(SUM(CAST(md AS DECIMAL(38, 0))) AS BIGINT) FROM"
        f" (SELECT floor(MIN({dist})) AS md FROM {q_cte}"
        f" CROSS JOIN (SELECT cid, list_transform(s, x ->"
        f" CAST(x AS DOUBLE) / n) AS c FROM {cent_cte}) c"
        f" GROUP BY {q_cte}.vid))"
    )


def kmeans_fit_grouped(
    df: DataFrame,
    *,
    k: int,
    iters: int,
    d: int,
    group_col: str,
    qv_col: str = "qv",
    id_col: str = "vec_id",
) -> dict[int, dict[int, tuple[int, list[int]]]]:
    """Per-group k-means in ONE set of jobs (the PQ trainer: one group
    per subspace). Identical math to running kmeans_fit per group, but
    every iteration is a single groupBy(group, cid) over the reshaped
    frame — m codebooks for the job cost of one."""
    # init: same k smallest-md5 ids in every group (md5 of the id only,
    # so the seeding is one k-row collect, reused across groups)
    per_group: dict[int, dict[int, tuple[int, list[int]]]] = {}
    seed_ids = [
        r[id_col]
        for r in (
            df.select(id_col)
            .distinct()
            .orderBy(F.md5(F.col(id_col).cast("string").cast("binary")))
            .limit(k)
            .collect()
        )
    ]
    order = {v: i for i, v in enumerate(seed_ids)}
    seed_rows = df.filter(F.col(id_col).isin(seed_ids)).collect()
    for r in seed_rows:
        g = int(r[group_col])
        per_group.setdefault(g, {})[order[r[id_col]]] = (
            1,
            [int(x) for x in r[qv_col]],
        )
    return grouped_fit_from_seeds(
        df, per_group, iters=iters, d=d, group_col=group_col, qv_col=qv_col
    )


def grouped_fit_from_seeds(
    df: DataFrame,
    per_group: dict[int, dict[int, tuple[int, list[int]]]],
    *,
    iters: int,
    d: int,
    group_col: str,
    qv_col: str = "qv",
) -> dict[int, dict[int, tuple[int, list[int]]]]:
    """The shared grouped-Lloyd's loop: one projection (a CASE over
    the group column, each branch that group's inlined-literal argmin)
    feeding ONE (group, cid) groupBy with map-side combine per
    iteration — whether the groups are PQ subspaces (every vid in all
    m groups) or IVF coarse cells (each vid in exactly one group), the
    job shape and the exact-integer state are identical."""
    sums = [F.sum(F.col(qv_col)[j]).alias(f"s{j}") for j in range(d)]
    for _ in range(iters):
        assign = _grouped_nearest_expr(group_col, qv_col, per_group)
        stats = (
            df.withColumn("__cid", assign)
            .groupBy(group_col, "__cid")
            .agg(F.count(F.lit(1)).alias("n"), *sums)
            .collect()
        )
        new: dict[int, dict[int, tuple[int, list[int]]]] = {}
        for r in stats:
            new.setdefault(int(r[group_col]), {})[int(r["__cid"])] = (
                int(r["n"]),
                [int(r[f"s{j}"]) for j in range(d)],
            )
        per_group = {
            g: {cid: new.get(g, {}).get(cid, cent[cid]) for cid in cent}
            for g, cent in per_group.items()
        }
    return per_group


def _grouped_nearest_expr(
    group_col: str,
    qv_col: str,
    per_group: dict[int, dict[int, tuple[int, list[int]]]],
) -> Column:
    """CASE over the group column, each branch the group's argmin —
    one projection covers all m codebooks, built as one parsed SQL
    expression. No ELSE: a missing group yields NULL, and so does an
    empty codebook."""
    whens = " ".join(
        f"WHEN {group_col} = {int(g)} THEN"
        f" {_nearest_sql_expr(qv_col, per_group[g])}"
        for g in sorted(per_group)
    )
    return F.expr(f"CASE {whens} END" if whens else _argmin_sql_expr([]))


# --- two-level (hierarchical) IVF: coarse cells, per-cell fine lists -----------
#
# At production k ≈ √n a FLAT quantizer is the wrong shape twice over:
# the assignment expression carries k·d literals (SCALE.md's
# assignment ceiling), and every query's probe selection
# ranks all k centroids. The IVF answer (Jégou et al., TPAMI 2011 §V;
# FAISS's IVF over a coarse quantizer) is hierarchical: a small coarse
# level (e.g. 256 cells) assigned via inlined literals, then an
# independent small codebook PER CELL — total lists kc·kf ≈ √n while
# every expression the plan carries stays kc·d or kf·d sized, and a
# query touches only the probed cells' codebooks.


def fine_seeds_per_cell(
    df: DataFrame,
    kf: int,
    *,
    group_col: str = "gid",
    qv_col: str = "qv",
    id_col: str = "vec_id",
) -> dict[int, dict[int, tuple[int, list[int]]]]:
    """Per-cell deterministic seeding: within each coarse cell, the kf
    rows of smallest md5(id) seed fine cids 0..kf-1 (cells smaller
    than kf get what they have). One window-ranked scan collecting a
    bounded kc·kf-row artifact — the per-cell twin of init_centroids,
    replayed in SQL by two_level_cte_sql's fseed CTE."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy("__h")
    rows = (
        df.select(
            group_col,
            qv_col,
            F.md5(F.col(id_col).cast("string").cast("binary")).alias("__h"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= kf)
        .collect()
    )
    per_group: dict[int, dict[int, tuple[int, list[int]]]] = {}
    for r in rows:
        per_group.setdefault(int(r[group_col]), {})[int(r["__rn"]) - 1] = (
            1,
            [int(x) for x in r[qv_col]],
        )
    return per_group


def two_level_fit(
    df: DataFrame,
    *,
    kc: int,
    kf: int,
    coarse_iters: int,
    fine_iters: int,
    d: int,
    qv_col: str = "qv",
    id_col: str = "vec_id",
) -> tuple[
    dict[int, tuple[int, list[int]]],
    dict[int, dict[int, tuple[int, list[int]]]],
]:
    """Train the hierarchical quantizer: flat k-means for the kc
    coarse cells, then ONE grouped-Lloyd's run training all kc fine
    codebooks simultaneously (grouped_fit_from_seeds keyed on the
    coarse assignment — the same shared-iteration economics as the PQ
    trainer: kc codebooks for the job cost of one). Returns
    (coarse_centroids, fine_books[gid][cid])."""
    coarse = kmeans_fit(df, k=kc, iters=coarse_iters, d=d, qv_col=qv_col, id_col=id_col)
    with_g = df.withColumn("__gid", nearest_expr(qv_col, coarse))
    seeds = fine_seeds_per_cell(
        with_g, kf, group_col="__gid", qv_col=qv_col, id_col=id_col
    )
    books = grouped_fit_from_seeds(
        with_g, seeds, iters=fine_iters, d=d, group_col="__gid", qv_col=qv_col
    )
    return coarse, books


def two_level_assign_exprs(
    coarse: dict[int, tuple[int, list[int]]],
    books: dict[int, dict[int, tuple[int, list[int]]]],
    *,
    qv_col: str = "qv",
    coarse_out: str = "gid",
) -> tuple[Column, Column]:
    """The FULL-assignment (cells=None) expression pair of
    two_level_assign, exposed so LOOP bodies (foreachBatch micro-batch
    ingest) can build the (gid, fid) expressions ONCE and reuse them
    against every batch frame: a Column is an unresolved expression
    tree, so one construction serves any number of frames, instead of
    re-paying the build per micro-batch (guide §4 — the Python/JVM
    boundary applied to the driver, round-14). The fine CASE
    references `coarse_out` BY NAME, so callers must apply the coarse
    column first (exactly what two_level_assign does). Same tree —
    including the bookless-cell raise of the frozen-ingest drift
    contract — as the cells=None path of two_level_assign, which now
    delegates here."""
    if not books:
        raise ValueError("two_level_assign_exprs requires non-empty books")
    gid_col = nearest_expr(qv_col, coarse)
    fine = _grouped_nearest_expr(coarse_out, qv_col, books)
    bookless = sorted(set(coarse) - set(books))
    if bookless:
        fine = F.when(
            F.col(coarse_out).isin([int(g) for g in bookless]),
            F.raise_error(
                F.concat(
                    F.lit(
                        "frozen two-level quantizer cannot encode: "
                        "row assigned to bookless coarse cell gid="
                    ),
                    F.col(coarse_out).cast("string"),
                )
            ).cast("int"),
        ).otherwise(fine)
    return gid_col, fine


def two_level_assign(
    df: DataFrame,
    coarse: dict[int, tuple[int, list[int]]],
    books: dict[int, dict[int, tuple[int, list[int]]]],
    *,
    qv_col: str = "qv",
    coarse_out: str = "gid",
    fine_out: str = "fid",
    cells: list[int] | None = None,
) -> DataFrame:
    """Hierarchical assignment as two projections: coarse cell via the
    kc-literal argmin, fine list via the per-cell CASE — restricted to
    `cells` when given (a query probes 2-8 cells, so its fine
    expression carries only those cells' kf·d literals, NOT the full
    kc·kf·d codebook; that restriction is what keeps the plan bounded
    at production k). Rows outside `cells` are filtered out.

    A coarse centroid that ended training with zero members survives
    in `coarse` (frozen-quantizer contract) but has NO entry in
    `books` — probing it must yield no fine lists, not a KeyError,
    mirroring the DuckDB oracle whose fine-seed CTE simply produces
    no rows for an empty cell (round-10 ADVICE).

    On the FULL-assignment path (cells=None — streaming ingest), a row
    whose winning coarse cell is bookless cannot be encoded under the
    frozen quantizer: that is a drift failure of the ingest contract,
    so the expression raises (task error → surfaced) instead of
    letting _grouped_nearest_expr's CASE fall through to a silent
    NULL fid, which partitionBy(gid, fid) would bury in the Hive
    default partition (round-11 ADVICE)."""
    if cells is None and books:
        gid_col, fid_col = two_level_assign_exprs(
            coarse, books, qv_col=qv_col, coarse_out=coarse_out
        )
        return df.withColumn(coarse_out, gid_col).withColumn(
            fine_out, fid_col
        )
    out = df.withColumn(coarse_out, nearest_expr(qv_col, coarse))
    if cells is not None:
        cells = [int(c) for c in cells if c in books]
        out = out.filter(F.col(coarse_out).isin(cells))
        books = {g: books[g] for g in cells}
    if not books:  # every probed cell bookless → empty frame, schema kept
        return out.filter(F.lit(False)).withColumn(
            fine_out, F.lit(None).cast("int")
        )
    fine = _grouped_nearest_expr(coarse_out, qv_col, books)
    return out.withColumn(fine_out, fine)


def residual_expr(
    qv_col: str,
    gid_col: str,
    centroids: dict[int, tuple[int, list[int]]],
) -> Column:
    """Quantized residual w.r.t. the row's assigned coarse centroid:
    r_j = floor(double(qv_j) − c_j) — one IEEE subtraction of an
    exactly-representable integer and a deterministic centroid double,
    floored back to BIGINT, so residual-PQ training stays inside the
    exact-integer contract (IVFADC, Jégou et al. TPAMI 2011 §V). CASE
    over the cell id, each branch a zip_with over that cell's inlined
    centroid — the same k·d literal budget as nearest_expr. No
    centroids → a typed NULL, as in _argmin_sql_expr."""
    if not centroids:
        return F.expr("CAST(NULL AS ARRAY<BIGINT>)")
    whens = []
    for cid in sorted(centroids):
        comp = centroid_components(*centroids[cid])
        arr = "array(" + ",".join(_dbl(c) for c in comp) + ")"
        whens.append(
            f"WHEN {gid_col} = {int(cid)} THEN zip_with({qv_col}, {arr},"
            " (x, c) -> CAST(floor(CAST(x AS DOUBLE) - c) AS BIGINT))"
        )
    return F.expr(f"CASE {' '.join(whens)} END")


def residual_sql(qv_expr: str, c_expr: str, d: int) -> str:
    """DuckDB twin of residual_expr for one row/centroid pair."""
    return (
        f"list_transform(generate_series(1, {d}), j -> "
        f"CAST(floor(CAST({qv_expr}[j] AS DOUBLE) - {c_expr}[j]) AS BIGINT))"
    )


def py_residual(q: list[int], c: list[float]) -> list[int]:
    """Driver-side twin (query-vector residuals for the LUT build):
    the SAME subtraction+floor per component as residual_expr/
    residual_sql — Python floats are IEEE doubles, so all three agree
    bit-for-bit."""
    import math

    return [int(math.floor(float(x) - cj)) for x, cj in zip(q, c)]


# --- oracle SQL generation ------------------------------------------------------


def kmeans_cte_sql(
    *,
    k: int,
    iters: int,
    d: int,
    scale: int = DEFAULT_SCALE,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    prefix: str = "",
) -> str:
    """The full iteration chain as DuckDB CTEs ({p}q, {p}cent0 …
    {p}cent{T}).

    Callers append their own final SELECT. The chain mirrors
    kmeans_fit exactly: same init, same fold distance, same
    lowest-cid tie-break (ORDER BY dist, cid), same empty-cluster
    carry-forward. ``prefix`` namespaces every emitted CTE so two
    independently parameterized chains coexist in one WITH."""
    p = prefix
    parts = [
        f"{p}q AS MATERIALIZED (SELECT {id_col} AS vid, {quantize_sql(vec_col, scale)} AS qv"
        f" FROM {table})",
        f"{p}cent0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY h) AS INT) - 1"
        f" AS cid, CAST(1 AS BIGINT) AS n, qv AS s FROM"
        f" (SELECT md5(CAST(vid AS VARCHAR)) AS h, qv FROM {p}q"
        f" ORDER BY h LIMIT {k}))",
    ]
    parts += kmeans_iter_ctes(
        iters=iters, d=d, q_cte=f"{p}q", cent0_cte=f"{p}cent0", prefix=p
    )
    return ",\n    ".join(parts)


def kmeans_iter_ctes(
    *,
    iters: int,
    d: int,
    q_cte: str,
    cent0_cte: str,
    prefix: str = "",
    keys: tuple[str, ...] = (),
) -> list[str]:
    """The one DuckDB Lloyd's iteration chain, reading points from
    ``q_cte`` (vid, qv, *keys) and seeds from ``cent0_cte`` (*keys,
    cid, n, s). Emits ``{prefix}a{t}/b{t}/n{t}/cent{t}``; ``b{t}``
    (vid, *keys, qv, cid) is the assignment under ``cent{t-1}``, so a
    caller wanting the final assignment asks for one extra iteration
    and reads ``b{iters}``. ``prefix`` lets independently seeded
    chains coexist in one WITH (the init-quality comparison, the
    two-level coarse/fine chains).

    ``keys`` trains one codebook per key value in the same chain (PQ
    subspaces ``("sub",)``, two-level coarse cells ``("gid",)``): a
    point meets only its own key's centroids, the argmin, the
    recompute and the empty-cluster carry-forward are all per key.
    Mirrors kmeans_fit_from_seeds (no keys) and
    grouped_fit_from_seeds (keys): same fold distance, lowest-cid
    tie-break (ORDER BY dist, cid), carry-forward."""
    kp = "".join(f"{k}, " for k in keys)
    qk = "".join(f"{q_cte}.{k}, " for k in keys)
    on = " AND ".join(f"{q_cte}.{k} = c.{k}" for k in keys) or "TRUE"
    same = "".join(f"x.{k} = c.{k} AND " for k in keys)
    sums = ", ".join(f"SUM(qv[{j + 1}]) AS s{j}" for j in range(d))
    slist = "list_value(" + ", ".join(f"s{j}" for j in range(d)) + ")"
    dist = _sq_dist_sql(f"{q_cte}.qv", "c.c", d)
    parts: list[str] = []
    for t in range(1, iters + 1):
        prev = cent0_cte if t == 1 else f"{prefix}cent{t - 1}"
        a, b, n = (f"{prefix}{x}{t}" for x in "abn")
        parts += [
            f"{a} AS MATERIALIZED (SELECT {q_cte}.vid, {qk}{q_cte}.qv, c.cid,"
            f" {dist} AS dist FROM {q_cte} JOIN (SELECT {kp}cid, list_transform(s,"
            f" x -> CAST(x AS DOUBLE) / n) AS c FROM {prev}) c ON {on})",
            f"{b} AS MATERIALIZED (SELECT vid, {kp}qv, cid FROM (SELECT vid, {kp}qv,"
            f" cid, row_number() OVER (PARTITION BY {kp}vid ORDER BY dist, cid)"
            f" AS rn FROM {a}) WHERE rn = 1)",
            f"{n} AS MATERIALIZED (SELECT {kp}cid, n, {slist} AS s FROM (SELECT"
            f" {kp}cid, COUNT(*) AS n, {sums} FROM {b} GROUP BY {kp}cid))",
            f"{prefix}cent{t} AS MATERIALIZED (SELECT {kp}cid, n, s FROM {n}"
            f" UNION ALL SELECT {kp}cid, n, s FROM {prev} c WHERE NOT EXISTS"
            f" (SELECT 1 FROM {n} x WHERE {same}x.cid = c.cid))",
        ]
    return parts


def grouped_kmeans_cte_sql(
    *,
    k: int,
    iters: int,
    m: int,
    sub_d: int,
    scale: int = DEFAULT_SCALE,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q0_body: str | None = None,
    prefix: str = "",
) -> str:
    """The PQ-trainer twin of kmeans_cte_sql: m per-subspace codebooks
    trained in one shared iteration chain. Emits CTEs ``{p}q0`` (flat
    quantized), ``{p}r`` (reshaped vid/sub/qv), ``{p}seed``,
    ``{p}cent0``, then kmeans_iter_ctes keyed on ``sub`` (``{p}a1`` …
    ``{p}cent{T}``, keyed by (sub, cid)). Same init (k smallest-md5
    ids, reused across subspaces) as kmeans_fit_grouped.

    ``q0_body`` overrides the quantized-input CTE with an arbitrary
    ``SELECT ... AS vid, ... AS qv`` (must emit BIGINT-list vectors of
    m·sub_d components) — the IVFADC residual trainer feeds the chain
    from a residual CTE. ``prefix`` namespaces every emitted CTE so
    the chain can coexist with a coarse kmeans_cte_sql chain in one
    WITH."""
    p = prefix
    slices = " UNION ALL ".join(
        f"SELECT vid, {s} AS sub,"
        f" list_slice(qv, {s * sub_d + 1}, {(s + 1) * sub_d}) AS qv"
        f" FROM {p}q0"
        for s in range(m)
    )
    q0_sql = (
        q0_body
        if q0_body is not None
        else f"SELECT {id_col} AS vid, {quantize_sql(vec_col, scale)} AS qv"
        f" FROM {table}"
    )
    parts = [
        f"{p}q0 AS MATERIALIZED ({q0_sql})",
        f"{p}r AS ({slices})",
        f"{p}seed AS MATERIALIZED (SELECT vid, CAST(row_number() OVER (ORDER BY h) AS INT) - 1"
        f" AS cid FROM (SELECT vid, md5(CAST(vid AS VARCHAR)) AS h FROM {p}q0"
        f" ORDER BY h LIMIT {k}))",
        f"{p}cent0 AS MATERIALIZED (SELECT {p}r.sub, {p}seed.cid, CAST(1 AS BIGINT) AS n,"
        f" {p}r.qv AS s FROM {p}r JOIN {p}seed USING (vid))",
    ]
    parts += kmeans_iter_ctes(
        iters=iters, d=sub_d, q_cte=f"{p}r", cent0_cte=f"{p}cent0", prefix=p,
        keys=("sub",),
    )
    return ",\n    ".join(parts)


def two_level_cte_sql(
    *,
    kc: int,
    kf: int,
    coarse_iters: int,
    fine_iters: int,
    d: int,
    scale: int = DEFAULT_SCALE,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    prefix: str = "",
) -> str:
    """DuckDB replay of two_level_fit + the final fine assignment:
    the coarse chain (kmeans_cte_sql with one extra assignment
    iteration — ``{p}b{coarse_iters+1}`` is the cell assignment under
    the trained ``{p}cent{coarse_iters}``), then ``{p}qc`` (vid, qv,
    gid), per-cell seeds ``{p}fseed``/``{p}fcent0`` (kf smallest
    md5(id) WITHIN each cell), and the fine chain — kmeans_iter_ctes
    keyed on ``gid`` under the prefix ``{p}f`` — again with one extra
    iteration: ``{p}fb{fine_iters+1}`` is the final fine assignment
    under ``{p}fcent{fine_iters}``. ``prefix`` namespaces the whole
    chain (coarse included) so it can coexist with a flat chain in
    one WITH."""
    px = prefix
    parts = [
        kmeans_cte_sql(
            k=kc,
            iters=coarse_iters + 1,
            d=d,
            scale=scale,
            table=table,
            vec_col=vec_col,
            id_col=id_col,
            prefix=px,
        ),
        f"{px}qc AS MATERIALIZED (SELECT vid, qv, cid AS gid"
        f" FROM {px}b{coarse_iters + 1})",
        f"{px}fseed AS MATERIALIZED (SELECT vid, gid, CAST(rn AS INT) - 1 AS cid"
        f" FROM (SELECT vid, gid, row_number() OVER (PARTITION BY gid"
        f" ORDER BY md5(CAST(vid AS VARCHAR))) AS rn FROM {px}qc)"
        f" WHERE rn <= {kf})",
        f"{px}fcent0 AS MATERIALIZED (SELECT {px}fseed.gid, {px}fseed.cid,"
        f" CAST(1 AS BIGINT) AS n, {px}qc.qv AS s"
        f" FROM {px}qc JOIN {px}fseed ON {px}qc.vid = {px}fseed.vid)",
    ]
    parts += kmeans_iter_ctes(
        iters=fine_iters + 1, d=d, q_cte=f"{px}qc", cent0_cte=f"{px}fcent0",
        prefix=f"{px}f", keys=("gid",),
    )
    return ",\n    ".join(parts)


# --- k-means|| oversampling init (Bahmani et al., VLDB 2012) -------------------


def int_sq_dist_sql_expr(qv_sql: str, cand: list[int]) -> str:
    """Spark SQL text of the exact integer Σ(x_j−c_j)² between a
    quantized vector and a quantized candidate POINT (k-means||
    candidates are corpus rows, not means, so distances stay in
    BIGINT — no FP contract at all)."""
    arr = "array(" + ",".join(f"{int(c)}L" for c in cand) + ")"
    return (
        f"aggregate(zip_with({qv_sql}, {arr}, (x, c) -> (x - c) * (x - c)),"
        " CAST(0 AS BIGINT), (a, b) -> a + b)"
    )


def int_sq_dist_sql(a: str, b: str, d: int) -> str:
    """DuckDB twin of int_sq_dist_sql_expr (exact, order-free)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(generate_series(1, {d}), i -> "
        f"({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), (x, y) -> x + y)"
    )


#: md5-uniform resolution: first 8 hex digits → 32-bit integer.
U32_DENOM = float(1 << 32)


def u32_expr(id_col: str) -> Column:
    """The repo's engine-portable hash-uniform as a 32-bit integer:
    conv(substr(md5(id), 1, 8), 16, 10) — bit-identical to DuckDB's
    CAST(concat('0x', substr(md5(id), 1, 8)) AS BIGINT)."""
    return F.conv(
        F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8), 16, 10
    ).cast("long")


def kmeanspp_candidates(
    df: DataFrame,
    *,
    rounds: int,
    l: int,
    qv_col: str = "qv",
    id_col: str = "vec_id",
) -> list[tuple[int, int, list[int], int]]:
    """Deterministic k-means|| oversampling: returns the weighted
    candidate set [(vid, round_added, qv, weight)] that a driver-side
    weighted Lloyd's would cluster into the final k seeds.

    Per round (O(log n) rounds in the paper; fixed here): each point
    joins the candidate set with probability l·d²(x,C)/Σd² — decided
    by the md5-uniform, so the 'sample' is a deterministic function
    of the data that both engines reproduce. The inequality
      u32 · S  <  l · d² · 2³²
    is evaluated on DOUBLES OF EXACT INTEGERS with identical
    multiplication order in both engines (d² is an exact BIGINT —
    candidates are corpus points, not means; S is an exact
    DECIMAL(38,0) sum collected once per round), so every rounding is
    shared and the selected set is bit-portable. Driver state per
    round is the ~l selected rows (the bounded artifact); the
    distance pass is a projection over inlined candidate literals +
    one scalar agg — the same per-iteration shape as Lloyd's.

    Weights: each corpus point votes for its nearest candidate
    (exact-integer argmin, ties → lowest candidate id); candidates
    that win no point keep weight 0. An empty frame has no candidates."""
    base = df.select(
        F.col(id_col).alias("vid"),
        F.col(qv_col).alias("qv"),
        u32_expr(id_col).alias("u32"),
    )
    seeds = (
        base.orderBy(F.md5(F.col("vid").cast("string").cast("binary")))
        .limit(1)
        .collect()
    )
    if not seeds:
        return []
    seed = seeds[0]
    cands: list[tuple[int, int, list[int]]] = [
        (int(seed["vid"]), 0, [int(x) for x in seed["qv"]])
    ]
    for t in range(1, rounds + 1):
        ds = [int_sq_dist_sql_expr("qv", qv) for _, _, qv in cands]
        d2 = F.expr(ds[0] if len(ds) == 1 else f"least({', '.join(ds)})")
        scored = base.select("vid", "qv", "u32", d2.alias("d2"))
        s_total = int(
            scored.agg(
                F.sum(F.col("d2").cast("decimal(38,0)")).alias("s")
            ).collect()[0]["s"]
        )
        have = {vid for vid, _, _ in cands}
        sel = (
            scored.filter(
                F.col("u32").cast("double") * F.lit(float(s_total))
                < F.lit(float(l))
                * F.col("d2").cast("double")
                * F.lit(U32_DENOM)
            )
            .select("vid", "qv")
            .collect()
        )
        for r in sorted(sel, key=lambda r: int(r["vid"])):
            if int(r["vid"]) not in have:
                cands.append((int(r["vid"]), t, [int(x) for x in r["qv"]]))
    nearest = F.expr(
        _argmin_sql_expr(
            [(int_sq_dist_sql_expr("qv", qv), f"{int(vid)}L") for vid, _, qv in cands]
        )
    )
    counts = {
        int(r["cand"]): int(r["n"])
        for r in base.select(nearest.alias("cand"))
        .groupBy("cand")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return [
        (vid, rnd, qv, counts.get(vid, 0)) for vid, rnd, qv in cands
    ]


def kmeanspp_cte_sql(
    *,
    rounds: int,
    l: int,
    d: int,
    scale: int = DEFAULT_SCALE,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """The k-means|| replay as DuckDB CTEs: u (quantized + u32),
    c0 … c{rounds} (candidate sets with round tags), w (nearest-
    candidate votes under the final set). Callers select from
    c{rounds} LEFT JOIN the w counts."""
    dist = int_sq_dist_sql("u.qv", "c.qv", d)
    parts = [
        f"u AS MATERIALIZED (SELECT {id_col} AS vid, {quantize_sql(vec_col, scale)} AS qv,"
        f" CAST(concat('0x', substr(md5(CAST({id_col} AS VARCHAR)), 1, 8))"
        f" AS BIGINT) AS u32 FROM {table})",
        "c0 AS MATERIALIZED (SELECT vid, qv, 0 AS round FROM (SELECT vid, qv FROM u"
        " ORDER BY md5(CAST(vid AS VARCHAR)) LIMIT 1))",
    ]
    for t in range(1, rounds + 1):
        p = t - 1
        parts.append(
            f"m{t} AS MATERIALIZED (SELECT u.vid, MIN({dist}) AS d2"
            f" FROM u CROSS JOIN c{p} c GROUP BY u.vid)"
        )
        parts.append(
            f"s{t} AS MATERIALIZED (SELECT CAST(SUM(CAST(d2 AS DECIMAL(38,0))) AS DOUBLE)"
            f" AS s FROM m{t})"
        )
        parts.append(
            f"sel{t} AS MATERIALIZED (SELECT u.vid, u.qv FROM u JOIN m{t} USING (vid)"
            f" CROSS JOIN s{t}"
            f" WHERE CAST(u.u32 AS DOUBLE) * s{t}.s"
            f" < {float(l)!r} * CAST(m{t}.d2 AS DOUBLE) * {U32_DENOM!r}"
            f" AND u.vid NOT IN (SELECT vid FROM c{p}))"
        )
        parts.append(
            f"c{t} AS MATERIALIZED (SELECT vid, qv, round FROM c{p} UNION ALL"
            f" SELECT vid, qv, {t} AS round FROM sel{t})"
        )
    parts.append(
        f"w AS MATERIALIZED (SELECT cand, COUNT(*) AS n FROM (SELECT u.vid, c.vid AS cand,"
        f" row_number() OVER (PARTITION BY u.vid ORDER BY {dist}, c.vid)"
        f" AS rn FROM u CROSS JOIN c{rounds} c) WHERE rn = 1 GROUP BY cand)"
    )
    return ",\n    ".join(parts)
