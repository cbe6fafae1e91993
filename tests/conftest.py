from __future__ import annotations

import os

import pytest

from flight_delay_prediction_using_pyspark_spark.session import get_spark

SF_CORRECTNESS_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def empty_table_dir(emptied_table, tmp_path_factory):
    """The smoke fixture with the table named by the module's
    ``emptied_table`` fixture emptied (schema kept, zero rows); every
    other table links to the smoke files."""
    import pyarrow.parquet as pq

    from flight_delay_prediction_using_pyspark_spark.sources.readers import (
        TESTDATA_TABLES,
    )

    out = tmp_path_factory.mktemp(f"empty_{emptied_table}")
    for t in TESTDATA_TABLES:
        src = f"{SF_SMOKE_DIR}/{t}.parquet"
        if t == emptied_table:
            pq.write_table(pq.read_table(src).slice(0, 0), out / f"{t}.parquet")
        else:
            os.symlink(src, out / f"{t}.parquet")
    return str(out)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="spark-graft-tests", shuffle_partitions=8)
    yield spark
