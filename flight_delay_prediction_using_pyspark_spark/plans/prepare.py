"""The reference's named composite transformations (SURVEY.md §2k).

C1-C10 as pure DataFrame→DataFrame functions with reference-identical
semantics; physical-plan anti-patterns are rewritten per SURVEY.md §4
(anti-join instead of collect+isin, optional deterministic dedup).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flight_delay_prediction_using_pyspark_spark.functions.features import add_custom_features
from flight_delay_prediction_using_pyspark_spark.functions.time_parse import add_cyclical_times
from flight_delay_prediction_using_pyspark_spark.operators.relational import (
    anti_join,
    broadcast_enrich,
    dedup_deterministic,
)
from flight_delay_prediction_using_pyspark_spark.sources.schemas import FORBIDDEN_COLUMNS

# Canonical feature spec (/root/reference/src/main/helper_methods.py:13-17).
TARGET_COL = "ArrDelay"
NUMERIC_FEATURES = [
    "DepDelay",
    "TaxiOut",
    "CRSDepTime_minutes_cosine",
    "DepTime",
    "CRSDepTime",
    "CRSDepTime_minutes_sine",
]
PLANE_CATEGORICALS = ["type", "manufacturer", "model", "aircraft_type", "engine_type", "year_plane"]
ENGINEERED_CATEGORICALS = ["DepTime_TOD", "CRSDepTime_TOD", "CRSArrTime_TOD", "Weekend", "TimeBetweenDepartures"]
CATEGORICAL_FEATURES = PLANE_CATEGORICALS + ENGINEERED_CATEGORICALS


def drop_forbidden(df: DataFrame) -> DataFrame:
    """C1 (/root/reference/src/main/helper_methods.py:21-33): drop the
    10 leakage columns known only after landing."""
    return df.drop(*FORBIDDEN_COLUMNS)


def append_unique_id(df: DataFrame) -> DataFrame:
    """C2 (/root/reference/src/main/dataset_utils.py:130-135): synthetic
    flight key from 7 columns."""
    return df.withColumn(
        "unique_id",
        F.concat_ws(
            "_", "Month", "DayofMonth", "DayOfWeek", "FlightNum", "Origin", "CRSDepTime", "Cancelled"
        ),
    )


def clean_data(df: DataFrame, dedup_order: Sequence[Column | str] | None = None) -> DataFrame:
    """C3 (/root/reference/src/main/dataset_utils.py:121-127): drop
    Year/CancellationCode, keep non-null ArrDelay & non-cancelled &
    non-null Distance, drop Cancelled, dedup by unique_id.

    `dedup_order=None` keeps reference parity (`dropDuplicates`:
    arbitrary survivor). Passing an ordering makes the survivor
    deterministic under any partitioning (required for oracle checks
    and for reproducible pipelines at scale).
    """
    df = df.filter(
        F.col("ArrDelay").isNotNull() & (F.col("Cancelled") == 0) & F.col("Distance").isNotNull()
    ).drop("Year", "CancellationCode", "Cancelled")
    if dedup_order is None:
        return df.dropDuplicates(["unique_id"])
    return dedup_deterministic(df, ["unique_id"], dedup_order)


def missing_tailnum_ratio(flights: DataFrame, plane: DataFrame) -> DataFrame:
    """C14 (/root/reference/src/main/dataset_utils.py:11-23) rewritten
    scalable: fraction of flight rows whose TailNum has no dimension
    match, via one broadcast anti-join + one agg — no driver collect,
    no isin over a collected list."""
    missing = anti_join(
        flights, plane, on=flights.TailNum == plane.tailnum
    ).select(F.count(F.lit(1)).alias("missing_rows"))
    total = flights.select(F.count(F.lit(1)).alias("total_rows"))
    return missing.crossJoin(total).select(
        "missing_rows",
        "total_rows",
        (F.col("missing_rows") / F.col("total_rows") * 100).alias("missing_pct"),
    )


def clean_plane_data(plane: DataFrame, min_non_null: int = 4) -> DataFrame:
    """C6 dimension prep (/root/reference/src/main/dataset_utils.py:33-44):
    drop issue_date/status, require ≥4 non-null fields of the remaining 7
    (thresh = 6 cols − 2 allowed missing), rename year→year_plane."""
    plane = plane.drop("issue_date", "status")
    plane = plane.na.drop(thresh=min_non_null)
    return plane.withColumnRenamed("year", "year_plane")


def extend_with_plane_data(flights: DataFrame, plane: DataFrame) -> DataFrame:
    """C6 (/root/reference/src/main/dataset_utils.py:33-52): inner
    broadcast join on TailNum==tailnum (unmatched flight rows drop —
    ~12.6% in the reference data, README.md:44), then drop the dup key."""
    dim = clean_plane_data(plane)
    joined = broadcast_enrich(flights, dim, on=flights.TailNum == dim.tailnum)
    # Drop by Column reference, not by name: name-based drop resolves
    # case-insensitively and would take the fact's TailNum with it.
    return joined.drop(dim.tailnum)


def prepare_data(
    flights: DataFrame,
    plane: DataFrame,
    dedup_order: Sequence[Column | str] | None = None,
    use_udf: bool = False,
) -> DataFrame:
    """C10 (/root/reference/src/main/dataset_utils.py:138-147): the full
    feature-engineering lineage → 18-column training frame.

    The reference also adds the C5 polar encoding here, but none of its
    columns is among the 18 outputs, so it is left out: its global-max
    branch is a second scan of the input that Catalyst does not prune
    (`functions.time_parse.add_polar_coordinates` keeps C5 itself)."""
    df = append_unique_id(flights)
    df = clean_data(df, dedup_order=dedup_order)
    df = add_cyclical_times(df)
    df = extend_with_plane_data(df, plane)
    df = add_custom_features(df, use_udf=use_udf)
    return df.select(NUMERIC_FEATURES + CATEGORICAL_FEATURES + [TARGET_COL])
