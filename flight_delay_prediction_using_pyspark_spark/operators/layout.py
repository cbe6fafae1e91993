"""Physical-layout operators: bucketing, skew salting, partitioned
writes — the knobs that decide whether a 100 TB join shuffles.

- **Bucketed tables** (`write_bucketed`): persist both join sides
  bucketed+sorted on the join key and Spark's scan reports the
  hash-partitioning, so equi-joins and groupBys on that key plan with
  NO Exchange (asserted in tests/test_plans.py). This is the
  pre-shuffle-once, join-many-times layout for fact tables.
- **Salted joins** (`salted_join`): when one key dominates (power-law
  user, null-bucket), a plain shuffle join sends the hot key to one
  task. Salting splits each left key into `factor` synthetic subkeys
  and replicates the matching right rows across them — the hot key
  fans out over `factor` tasks. AQE's skew-join handles moderate skew
  automatically (session.py enables it); explicit salting is for the
  pathological keys AQE's split thresholds miss.
- **Partitioned writes** (`write_partitioned`): directory partitioning
  for predicate-pruned scans (dynamic partition pruning on joins).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (+optionally sorted) managed table. Joins
    and aggregations on `bucket_col` between tables bucketed the same
    way plan without Exchange."""
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: Sequence[str], mode: str = "overwrite"
) -> None:
    """Directory-partitioned parquet: equality/IN predicates on
    partition columns prune whole directories at planning time."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: split each left key into `factor`
    deterministic salt buckets; replicate right rows across all
    buckets; join on (key, salt). Same rows as a plain join on `key`,
    but a hot key now spreads over `factor` tasks.

    Left salt derives from a hash of the whole row (monotonically_
    increasing_id would break determinism across retries); right
    replication is an explode of a literal salt array — `factor`×
    duplication of the (small, dimension) right side.
    """
    salt = F.pmod(F.abs(F.hash(*[F.col(c) for c in left.columns])), F.lit(factor))
    l_salted = left.withColumn("__salt", salt)
    r_salted = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(factor)]))
    )
    out = l_salted.join(r_salted, [key, "__salt"], how)
    return out.drop("__salt")


def write_range_sorted(
    df: DataFrame, path: str, sort_col: str, n_files: int = 8
) -> None:
    """Range-partition + sort-within-partitions parquet write: each
    output file covers a disjoint range of `sort_col` (repartitionByRange
    samples the column for balanced boundaries), so parquet min/max
    statistics prune whole files/row-groups for range predicates — the
    single-dimension clustering a 100 TB fact table wants on its
    dominant filter column. Sorting within files additionally tightens
    per-row-group stats and improves encodings (RLE/delta)."""
    (
        df.repartitionByRange(n_files, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_small_files(
    spark, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target_file_bytes) files. Streaming sinks and
    fine-grained partition writes accumulate small files that bloat
    the NameNode/listing path and defeat row-group pruning; periodic
    compaction is standard table maintenance (what OPTIMIZE does on
    Delta/Iceberg). Uses coalesce (no shuffle) since output count only
    shrinks. Returns the new file count."""
    import glob
    import math
    import os

    files = glob.glob(os.path.join(path, "*.parquet")) + glob.glob(
        os.path.join(path, "part-*")
    )
    total = sum(os.path.getsize(f) for f in set(files))
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    df.coalesce(n_out).write.mode("overwrite").parquet(tmp)
    import shutil

    shutil.rmtree(path)
    os.rename(tmp, path)
    return n_out


def compact_partitioned(
    spark,
    path: str,
    partition_col: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict[str, int]:
    """Per-partition small-file compaction for a Hive-partitioned
    layout (the OPTIMIZE shape for append-only partitioned stores —
    streaming foreachBatch sinks accumulate one file batch per
    partition per trigger, and a store appended 4× a day holds 4×
    the files a pruned read should pay for). Each fragmented
    partition directory (≥ `min_files` data files) is rewritten IN
    PLACE to ceil(bytes / target_file_bytes) files; partitions
    already compact are left untouched, so repeated maintenance runs
    are idempotent and cheap. Returns {partition_dir_name: new file
    count} for the rewritten partitions.

    Scale shape: the driver only LISTS partition directories (the
    same metadata walk any table-maintenance planner does); each
    rewrite is a distributed coalesce job over that partition's files
    only, so maintenance cost is proportional to the fragmented data,
    not the store. The per-partition rewrites are SUBMITTED
    CONCURRENTLY, at most 4 at a time, through the catalog's driver
    thread helper (plans.queries.run_concurrently; guide §2.6 —
    Spark's scheduler runs the independent jobs at once; each rewrite
    touches only its own partition directory, so there is no
    commit-protocol interaction), which is exactly how a
    warehouse-scale OPTIMIZE fans out, gated there by a manifest/lock
    (Delta/Iceberg); the in-place swap-by-rename here is the
    filesystem analogue. Results are layout-only — the rewritten rows
    are identical whatever the submission order."""
    import glob
    import math
    import os
    import shutil

    from flight_delay_prediction_using_pyspark_spark.plans.queries import run_concurrently

    def compact_one(part_dir: str) -> tuple[str, int] | None:
        files = [
            f
            for f in glob.glob(os.path.join(part_dir, "part-*"))
            if not f.endswith(".crc")
        ]
        if len(files) < min_files:
            return None
        total = sum(os.path.getsize(f) for f in files)
        n_out = max(1, math.ceil(total / target_file_bytes))
        if n_out >= len(files):
            return None
        # Read THIS partition's files only (the partition value lives
        # in the directory name and is re-encoded by the destination
        # dir, so the rewritten rows need not carry the column).
        df = spark.read.parquet(part_dir)
        tmp = part_dir.rstrip("/") + "__compact_tmp"
        df.coalesce(n_out).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(part_dir)
        os.rename(tmp, part_dir)
        return os.path.basename(part_dir), n_out

    part_dirs = sorted(glob.glob(os.path.join(path, f"{partition_col}=*")))
    if not part_dirs:
        return {}
    results = run_concurrently(
        *[lambda p=p: compact_one(p) for p in part_dirs], max_workers=min(4, len(part_dirs))
    )
    return dict(r for r in results if r is not None)


def md5_key_bucket(key_cols, n_buckets: int) -> F.Column:
    """Deterministic hash bucket of a (possibly composite) key:
    portable md5 (engine-stable, unlike F.hash's JVM-coupled
    encodings) of the \\x1f-joined key strings, mod n_buckets. The
    partitioning currency shared by the CDC merge sink and the
    incremental rollup target."""
    key_str = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols])
    return (
        F.conv(F.substring(F.md5(key_str), 1, 8), 16, 10).cast("long") % n_buckets
    )


def scaled_int(col: F.Column, lo: F.Column, hi: F.Column, bits: int = 8) -> F.Column:
    """Scale an integer column into [0, 2^bits) with pure integer
    arithmetic — ((col - lo) * (2^bits - 1)) div max(hi - lo, 1).
    Integer-only so the mapping is bit-identical across engines
    (no float rounding at bucket boundaries)."""
    span = F.greatest(hi - lo, F.lit(1)).cast("long")
    num = ((col - lo) * F.lit((1 << bits) - 1)).cast("long")
    # exact integer division: subtract the remainder first so the
    # double division is of an exact multiple (no boundary rounding,
    # matches DuckDB's `//` bit-for-bit)
    return ((num - num % span) / span).cast("long")


def z_value(xi: F.Column, yi: F.Column, bits: int = 8) -> F.Column:
    """Morton/Z-order interleave of two `bits`-bit integers: bit b of
    xi lands at position 2b, of yi at 2b+1. Nearby (xi, yi) points get
    nearby z values, so range-partitioning by z clusters BOTH
    dimensions at once — the multi-column data-skipping layout
    (Delta/Iceberg OPTIMIZE ZORDER) built from plain bit arithmetic."""
    terms = []
    for b in range(bits):
        terms.append(F.shiftleft(F.shiftrightunsigned(xi, b).bitwiseAND(F.lit(1)), 2 * b))
        terms.append(
            F.shiftleft(F.shiftrightunsigned(yi, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z.cast("long")


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 8,
    bits: int = 8,
) -> None:
    """Z-ordered parquet write: scale (x, y) to `bits`-bit ints,
    interleave to a z value, range-partition + sort by it. Each output
    file then covers a compact rectangle-ish region of (x, y) space,
    so parquet min/max stats prune files for predicates on EITHER
    column — where a single-column sort only prunes its own column.
    The min/max scalars are one tiny driver-side agg (two values per
    column), not a per-row window."""
    lo_x, hi_x, lo_y, hi_y = df.agg(
        F.min(x_col), F.max(x_col), F.min(y_col), F.max(y_col)
    ).first()
    xi = scaled_int(F.col(x_col), F.lit(lo_x), F.lit(hi_x), bits).cast("long")
    yi = scaled_int(F.col(y_col), F.lit(lo_y), F.lit(hi_y), bits).cast("long")
    (
        df.withColumn("__z", z_value(xi, yi, bits))
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
