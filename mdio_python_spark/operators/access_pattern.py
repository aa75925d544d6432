"""Access-pattern optimized views (C5,
``src/mdio/optimize/access_pattern.py:26-118``).

The reference builds ``fast_<dim>`` transposed/rechunked Zarr copies via
Dask. The Spark-native equivalent is a materialized copy of the trace
table range-partitioned and sorted by the chosen dim — a cluster-by copy:
dim-range predicates then prune to a handful of files, and rows arrive
pre-sorted for windowed access along that dim.

The reference's ZFP-by-stats lossy option maps to an optional quantization
transform: tolerance = quality x std from statsV1 (``optimize/common.py:
31-52``), applied per sample before write.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mdio_python_spark.sources.store import MANIFEST, OpenedStore
from mdio_python_spark.sources.tables import read_parquet


def quantize_samples(df: DataFrame, tolerance: float) -> DataFrame:
    """Lossy ZFP-accuracy analog: snap samples to a uniform grid of step
    ``2 * tolerance`` (max abs error <= tolerance). Parquet+zstd then
    compresses the repeated grid values far better — same
    tolerance-for-ratio trade the reference's ZFP mode offers."""
    if not tolerance > 0:
        raise ValueError(
            f"tolerance must be > 0, got {tolerance} (zero std / zero "
            "quality would quantize every sample to NaN)"
        )
    step = 2.0 * tolerance
    quantized = F.transform(
        F.col("samples"),
        lambda s: (F.round(s / F.lit(step)) * F.lit(step)).cast("float"),
    )
    return df.withColumn("samples", quantized)


def build_access_view(
    store: OpenedStore,
    dim: str,
    num_partitions: int = 32,
    lossy_quality: float | None = None,
) -> str:
    """Materialize ``fast_<dim>``: range-partitioned + sorted by ``dim``.

    Returns the view path. ``lossy_quality`` (e.g. 3.0 = the reference's
    LOW preset) enables stat-driven quantization: tolerance = quality*std.
    """
    out = os.path.join(store.path, f"fast_{dim}")
    df = store.traces
    if lossy_quality is not None:
        name = store.dataset.attributes.get("defaultVariableName")
        var = (
            store.dataset.variable(name)
            if name
            else next(
                (v for v in store.dataset.variables if v.stats is not None), None
            )
        )
        if var is None or var.stats is None:
            raise ValueError(
                "lossy access view needs a variable with summary stats "
                "(tolerance = quality * std); none found in the manifest"
            )
        df = quantize_samples(df, tolerance=lossy_quality * var.stats.std)
    (
        df.repartitionByRange(num_partitions, dim)
        .sortWithinPartitions(dim)
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(out)
    )
    # record the view in the manifest for discovery
    manifest_path = os.path.join(store.path, MANIFEST)
    with open(manifest_path) as f:
        manifest = json.load(f)
    views = manifest.setdefault("accessViews", {})
    views[f"fast_{dim}"] = {"dim": dim, "lossyQuality": lossy_quality}
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=2, default=str)
    return out


def open_access_view(spark: SparkSession, store: OpenedStore, dim: str) -> DataFrame:
    return read_parquet(spark, os.path.join(store.path, f"fast_{dim}"))
