"""Chunk-partition pruning on store reads: slice_traces must turn
dim-value ranges into PartitionFilters on the chunk directories (a plain
value predicate reads every chunk's footers at scale)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import numpy as np

from tests.conftest import next_job_id
from tests.segy_factory import make_poststack_3d, write_segy_file

from mdio_python_spark.pipelines.ingest import segy_to_store
from mdio_python_spark.schemas import default_registry
from mdio_python_spark.sources.store import dense_slice, open_store, slice_traces


@pytest.fixture(scope="module")
def pruning_store(tmp_path_factory, spark):
    tmp = tmp_path_factory.mktemp("prune")
    sgy = str(tmp / "cube.sgy")
    make_poststack_3d(sgy, n_inline=16, n_crossline=8, n_samples=8)
    template = default_registry().get("PostStack3DTime").model_copy(
        update={"coordinates": [], "chunks": [4, 4, 8]}
    )
    store_path = str(tmp / "store")
    segy_to_store(spark, sgy, store_path, template)
    return open_store(spark, store_path)


def _partition_filters(df) -> str:
    # FileScan metadata truncates at spark.sql.maxMetadataStringLength
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "4000")
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    return m.group(0) if m else ""


def test_value_filter_alone_does_not_prune(pruning_store):
    plain = pruning_store.traces.where(F.col("inline").between(1, 4))
    assert "inline_chunk" not in _partition_filters(plain)


def test_slice_traces_prunes_partitions(pruning_store):
    sel = slice_traces(pruning_store, {"inline": (1, 4), "crossline": (1, 4)})
    pf = _partition_filters(sel)
    assert "inline_chunk" in pf and "crossline_chunk" in pf
    # values match the unpruned filter exactly
    expect = (
        pruning_store.traces.where(
            F.col("inline").between(1, 4) & F.col("crossline").between(1, 4)
        )
        .select("inline", "crossline")
        .collect()
    )
    got = sel.select("inline", "crossline").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expect))
    assert len(got) == 16


def test_slice_traces_empty_range(pruning_store):
    sel = slice_traces(pruning_store, {"inline": (100, 200)})
    assert sel.count() == 0
    assert sel.columns == pruning_store.traces.columns


def test_slice_planning_runs_no_job(pruning_store, spark):
    """Value -> index bounds come from the driver-resident dim tables:
    building a slice or a dense rectangle launches no Spark job."""
    pred = {"inline": (3, 9), "crossline": (2, 6)}
    before = next_job_id(spark)
    slice_traces(pruning_store, pred)
    slice_traces(pruning_store, {"inline": (100, 200)})
    dense_slice(pruning_store, spark, pred)
    assert next_job_id(spark) - before == 0
    plan = pruning_store.dims["inline"]._jdf.queryExecution().analyzed()
    assert plan.toString().startswith("LocalRelation")


@pytest.fixture(scope="module")
def gapped_store(tmp_path_factory, spark):
    """Inline values 2, 4, ..., 16 (idx 0..7, inline chunk 2), crossline
    1..4: dim values that are not contiguous integers."""
    tmp = tmp_path_factory.mktemp("gapped")
    sgy = str(tmp / "gapped.sgy")
    headers = [
        {"inline": il, "crossline": xl}
        for il in range(2, 17, 2)
        for xl in range(1, 5)
    ]
    samples = np.random.default_rng(9).standard_normal((len(headers), 8))
    write_segy_file(sgy, headers, samples.astype(np.float32))
    template = default_registry().get("PostStack3DTime").model_copy(
        update={"coordinates": [], "chunks": [2, 4, 8]}
    )
    store_path = str(tmp / "store")
    segy_to_store(spark, sgy, store_path, template)
    return open_store(spark, store_path)


@pytest.mark.parametrize("lo,hi,values", [(3, 7, [4, 6]), (7, 11, [8, 10])])
def test_gapped_dim_values_slice_and_prune(gapped_store, lo, hi, values):
    """A range between dim values returns exactly the values inside it,
    and the chunk range the driver-side lookup prunes to equals the one
    the Spark aggregate over the dim table gives."""
    sel = slice_traces(gapped_store, {"inline": (lo, hi)})
    rows = sel.select("inline", "crossline").collect()
    assert sorted({r["inline"] for r in rows}) == values
    assert len(rows) == len(values) * 4
    bounds = (
        gapped_store.dims["inline"]
        .where(F.col("inline").between(lo, hi))
        .agg(F.min("inline_idx"), F.max("inline_idx"))
        .first()
    )
    chunk = gapped_store.chunks["inline"]
    pf = _partition_filters(sel)
    assert re.search(rf"inline_chunk#\d+ >= {bounds[0] // chunk}\)", pf), pf
    assert re.search(rf"inline_chunk#\d+ <= {bounds[1] // chunk}\)", pf), pf
