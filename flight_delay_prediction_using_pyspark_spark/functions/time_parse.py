"""HHMM time parsing + cyclical encoders (SURVEY.md C4/C5, F2/F4/F5/F6).

Semantics match /root/reference/src/main/dataset_utils.py:79-117 exactly
(junk-tolerant digit stripping, empty→null, truncating div/mod, missing
values encoded as 0 in the cyclical outputs), but the global-max polar
encoder replaces the reference's single-partition window
(dataset_utils.py:55-66) with a parallel scalar-agg + broadcast join —
same numbers, scalable plan (SURVEY.md §4 anti-pattern 1).
"""

from __future__ import annotations

import math
import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flight_delay_prediction_using_pyspark_spark.operators.windows import with_global_aggs

TWO_PI = 2.0 * math.pi


def parse_time_digits(col: Column | str) -> Column:
    """Robust HHMM extraction (F2/F6/P11): cast to string, strip
    non-digits, null-out empties, back to int.
    Handles 730, '0730', '07:30', junk → null."""
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(c.cast("string"), "[^0-9]", "")
    return F.when(cleaned == "", None).otherwise(cleaned.cast("int"))


def hour_of(col: Column | str) -> Column:
    """HHMM → hour via truncating division (F4)."""
    return (parse_time_digits(col) / 100).cast("int")


def minutes_since_midnight(col: Column | str) -> Column:
    """HHMM → minutes since midnight, null-safe (C4 core)."""
    as_int = parse_time_digits(col)
    hours = (as_int / 100).cast("int")
    minutes = (as_int % 100).cast("int")
    return F.when(as_int.isNotNull(), hours * 60 + minutes).otherwise(None)


def _cyclical_columns(time_col: str) -> dict[str, Column]:
    """Cyclical encoding of one HHMM column (C4):
    `<c>_minutes_cosine/_minutes_sine/_hours_cosine/_hours_sine`
    (missing encodes as 0, matching dataset_utils.py:93-102)."""
    hours, msm = hour_of(time_col), minutes_since_midnight(time_col)
    min_angle, hour_angle = TWO_PI * msm / 1440, TWO_PI * hours / 24
    return {
        f"{time_col}_minutes_cosine": F.when(msm.isNotNull(), F.cos(min_angle)).otherwise(0),
        f"{time_col}_minutes_sine": F.when(msm.isNotNull(), F.sin(min_angle)).otherwise(0),
        f"{time_col}_hours_cosine": F.when(hours.isNotNull(), F.cos(hour_angle)).otherwise(0),
        f"{time_col}_hours_sine": F.when(hours.isNotNull(), F.sin(hour_angle)).otherwise(0),
    }


def add_cyclical_times(df: DataFrame, time_cols: list[str] | None = None) -> DataFrame:
    """C4 over the reference's three time columns
    (dataset_utils.py:111-117): drops rows with a null time, then adds
    every encoding in one projection."""
    time_cols = time_cols or ["DepTime", "CRSDepTime", "CRSArrTime"]
    df = df.filter(reduce(operator.and_, [F.col(c).isNotNull() for c in time_cols]))
    return df.withColumns({k: v for c in time_cols for k, v in _cyclical_columns(c).items()})


def add_cyclical_time(df: DataFrame, time_col: str) -> DataFrame:
    """C4 for one HHMM column; drops its null-time rows."""
    return add_cyclical_times(df, [time_col])


def add_polar_coordinates(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """1-based cyclical polar encoding (C5): angle = 2π(v−1)/max(v) + π/2,
    emitting `<c>_polar_x/_polar_y`.

    The reference computes max(v) with an unbounded window over a single
    partition (dataset_utils.py:57-59); here ALL the column maxes run as
    ONE parallel scalar aggregate broadcast onto every row — identical
    values, no single-task bottleneck at any scale, and one upstream
    pass instead of one per column (the per-column scalar agg re-ran
    the whole unpersisted prepare lineage three times).
    """
    columns = columns or ["DayofMonth", "Month", "DayOfWeek"]
    df = with_global_aggs(df, {f"__max_{c}": F.max(c) for c in columns})
    polar = {}
    for column in columns:
        angle = TWO_PI * (F.col(column) - 1) / F.col(f"__max_{column}") + (math.pi / 2.0)
        polar[f"{column}_polar_x"] = F.cos(angle)
        polar[f"{column}_polar_y"] = F.sin(angle)
    return df.withColumns(polar).drop(*(f"__max_{c}" for c in columns))
