from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # Co-tenancy budget (VERDICT r7 item 5): the suite runs at sf0.001 /
    # sf0.01 plus small synthetic cubes, so 16g heap is ample — and it
    # keeps pytest + two concurrent 48g engine sessions (bench, judge)
    # under the 128 GiB box instead of three 48g JVMs overcommitting and
    # dying with the transient "SparkContext was shut down" cascade.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    from mdio_python_spark.session import get_spark

    yield get_spark("mdio-spark-tests")


def next_job_id(spark) -> int:
    """The id the DAG scheduler gives the next Spark job: the difference
    of two readings is the number of jobs launched between them."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


def register_duck_views(con, sf_dir: str) -> None:
    from mdio_python_spark.sources.tables import TABLE_NAMES

    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
