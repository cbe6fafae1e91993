"""Engineered categorical features (SURVEY.md C7/C8/C9, U1).

Semantics match /root/reference/src/main/custom_features.py exactly —
including its quirks, which are load-bearing for parity:

- time-of-day of a NULL hour is 'unknown' (custom_features.py:21-22);
- the weekend set is [5,6,7] (custom_features.py:55 — src, not the
  notebook's [6,7]; SURVEY.md §7 marks src authoritative);
- a NULL scheduled-time gap falls through the when-cascade to
  'MORE_THAN_ENOUGH' (custom_features.py:83-87), and negative gaps
  land in 'NOT_ENOUGH'.

The hot path is the pure-Column `when` cascade (JVM, codegen-friendly).
`add_time_of_day(..., use_udf=True)` keeps a row-at-a-time Python UDF
variant for U1 parity demonstration — never use it at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flight_delay_prediction_using_pyspark_spark.functions.time_parse import (
    hour_of,
    minutes_since_midnight,
)

TIME_OF_DAY_BUCKETS = {
    "morning": range(5, 12),
    "afternoon": range(12, 19),
    "evening": range(19, 24),
    "night": range(0, 5),
}


def time_of_day_col(hour: Column) -> Column:
    """hour 0-23 → morning/afternoon/evening/night; null → unknown."""
    return (
        F.when((hour >= 5) & (hour <= 11), "morning")
        .when((hour >= 12) & (hour <= 18), "afternoon")
        .when((hour >= 19) & (hour <= 23), "evening")
        .when((hour >= 0) & (hour <= 4), "night")
        .otherwise("unknown")
    )


def _time_of_day_columns(use_udf: bool) -> dict[str, Column]:
    if use_udf:
        # Self-contained closure: cloudpickle ships it by value, so the
        # executors' Python workers need no import path to this package
        # (the engine may be driven from any cwd).
        def _time_of_day_py(hour):
            buckets = {
                "morning": range(5, 12),
                "afternoon": range(12, 19),
                "evening": range(19, 24),
                "night": range(0, 5),
            }
            for label, bucket in buckets.items():
                if hour is not None and hour in bucket:
                    return label
            return "unknown"

        tod_udf = F.udf(_time_of_day_py, T.StringType())
        tod = lambda c: tod_udf(hour_of(c))  # noqa: E731
    else:
        tod = lambda c: time_of_day_col(hour_of(c))  # noqa: E731
    return {f"{c}_TOD": tod(c) for c in ("DepTime", "CRSDepTime", "CRSArrTime")}


def add_time_of_day(df: DataFrame, use_udf: bool = False) -> DataFrame:
    """C7: DepTime_TOD / CRSDepTime_TOD / CRSArrTime_TOD from the HHMM
    hour. `use_udf=True` routes through a plain Python UDF (U1 parity,
    custom_features.py:36); default is the vectorizable when-cascade."""
    return df.withColumns(_time_of_day_columns(use_udf))


def _weekend_col() -> Column:
    return F.when(F.col("DayOfWeek").isin([5, 6, 7]), "Weekend").otherwise("Weekday")


def add_weekend_indicator(df: DataFrame) -> DataFrame:
    """C8 (custom_features.py:52-57): DayOfWeek ∈ {5,6,7} → Weekend."""
    return df.withColumn("Weekend", _weekend_col())


def _time_gap_bucket_col() -> Column:
    gap = minutes_since_midnight("CRSArrTime") - minutes_since_midnight("CRSDepTime")
    return (
        F.when(gap <= 30, "NOT_ENOUGH")
        .when((gap > 30) & (gap <= 60), "BARELY_ENOUGH")
        .when((gap > 60) & (gap <= 120), "ENOUGH")
        .otherwise("MORE_THAN_ENOUGH")
    )


def add_time_gap_bucket(df: DataFrame) -> DataFrame:
    """C9 (custom_features.py:62-90): scheduled dep→arr gap bucketed
    into NOT_ENOUGH(≤30) / BARELY_ENOUGH(31-60) / ENOUGH(61-120) /
    MORE_THAN_ENOUGH(>120, and NULL — reference quirk preserved)."""
    return df.withColumn("TimeBetweenDepartures", _time_gap_bucket_col())


def add_custom_features(df: DataFrame, use_udf: bool = False) -> DataFrame:
    """C7+C8+C9 (dataset_utils.py:26-30) as one projection."""
    return df.withColumns(
        {
            **_time_of_day_columns(use_udf),
            "Weekend": _weekend_col(),
            "TimeBetweenDepartures": _time_gap_bucket_col(),
        }
    )
