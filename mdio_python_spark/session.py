"""SparkSession factory tuned for the local[N] harness.

At cluster scale the same settings hold (AQE on, sane shuffle partitions);
only master/memory change. Everything is declarative DataFrame/SQL so the
plan survives a 1000-executor deployment unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "mdio-python-spark") -> SparkSession:
    """Create (or reuse) the engine SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    Shuffle partitions are sized to the local core budget — on a real
    cluster you'd set this to ~2-3x total executor cores and let AQE
    coalesce; AQE is on either way.

    DataFrame call-site capture (``spark.python.sql.dataFrameDebugging``)
    is off. With it on, pyspark 4.1 wraps every classic ``Column`` method
    and decorated ``F.*`` function (``pyspark/errors/utils.py``
    ``_with_origin``): each call reads a conf, then sets and clears the
    JVM's ``PySparkCurrentOrigin``, three py4j round trips, and walks the
    Python stack trying ``import IPython`` and ``import ipykernel``. Where
    IPython is installed the first call imports it (0.48 s of a cold
    ingest, measured on 4 cores), and where ipykernel is not every later
    call retries that failed import. Building 2000 ``(F.col + F.lit) *
    F.col`` expressions took 8.98 s with capture on and 2.74 s off. The
    capture only adds the Python call site to the context of a query
    error; the error itself is unchanged. It is a static conf, so it is
    set here, before the session starts.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # The generated-class cache defaults to 100 entries; a session
        # running the full declared-query surface (100+ queries, several
        # codegen stages each) thrashes it and pays 10-100ms Janino
        # recompiles per stage on every re-run — measured 1.2-3x wall
        # inflation late in long sessions. Any multi-query production
        # session wants this raised; memory cost is class bytecode only.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # a transient Python-worker crash kills the session-scoped JVM
        # for everything after it; at least capture the worker's Python
        # traceback so the next occurrence is diagnosable
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
