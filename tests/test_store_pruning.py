"""Chunk-partition pruning on store reads: slice_traces must turn
dim-value ranges into PartitionFilters on the chunk directories (a plain
value predicate reads every chunk's footers at scale).

Test stores are far under ``store.SLICE_DRIVER_MAX_BYTES``, so their
slices are read on the driver; the PartitionFilters assertions patch the
gate to -1 to reach the Spark scan, the path that runs at scale. The
parity tests compare the two paths."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import numpy as np

from tests.conftest import next_job_id
from tests.segy_factory import make_poststack_3d, write_segy_file

from mdio_python_spark.pipelines.ingest import segy_to_store
from mdio_python_spark.schemas import default_registry
from mdio_python_spark.sources import store as store_mod
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


@pytest.fixture
def spark_scan(monkeypatch):
    """Slices take the Spark scan whatever their size."""
    monkeypatch.setattr(store_mod, "SLICE_DRIVER_MAX_BYTES", -1)


def _partition_filters(df) -> str:
    # FileScan metadata truncates at spark.sql.maxMetadataStringLength
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "4000")
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    return m.group(0) if m else ""


def test_value_filter_alone_does_not_prune(pruning_store):
    plain = pruning_store.traces.where(F.col("inline").between(1, 4))
    assert "inline_chunk" not in _partition_filters(plain)


def test_slice_traces_prunes_partitions(pruning_store, spark_scan):
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


def test_slice_planning_runs_no_job(pruning_store, spark, monkeypatch):
    """Value -> index bounds come from the driver-resident dim tables:
    building a slice or a dense rectangle launches no Spark job, on the
    driver path (which reads the slice) and on the Spark path."""
    pred = {"inline": (3, 9), "crossline": (2, 6)}
    for gate in (store_mod.SLICE_DRIVER_MAX_BYTES, -1):
        monkeypatch.setattr(store_mod, "SLICE_DRIVER_MAX_BYTES", gate)
        before = next_job_id(spark)
        slice_traces(pruning_store, pred)
        slice_traces(pruning_store, {"inline": (100, 200)})
        dense_slice(pruning_store, spark, pred)
        assert next_job_id(spark) - before == 0, gate
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
def test_gapped_dim_values_slice_and_prune(gapped_store, lo, hi, values, spark_scan):
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


@pytest.fixture(scope="module")
def dead_cell_store(tmp_path_factory, spark):
    """The dead-cell cube of test_segy_roundtrip.py (12 x 9, 10% dead
    cells), chunked 4 x 4 so rectangles cross chunk boundaries."""
    tmp = tmp_path_factory.mktemp("dead")
    sgy = str(tmp / "cube.sgy")
    make_poststack_3d(sgy, n_inline=12, n_crossline=9, n_samples=25, dead_fraction=0.1)
    template = default_registry().get("PostStack3DTime").model_copy(
        update={"coordinates": [], "chunks": [4, 4, 25]}
    )
    store_path = str(tmp / "store")
    segy_to_store(spark, sgy, store_path, template)
    return open_store(spark, store_path)


@pytest.fixture(scope="module")
def holed_store(tmp_path_factory, spark):
    """An 8 x 12 grid chunked 4 x 4 whose cells inline 1-4 x crosslines
    5-6 and 9-12 are dead: a slice over crosslines 4-5 reads chunk file
    (0, 1), which holds no row inside it, between files that do, and
    chunk (0, 2) has no file at all."""
    tmp = tmp_path_factory.mktemp("holed")
    sgy = str(tmp / "holed.sgy")
    headers = [
        {"inline": il, "crossline": xl}
        for il in range(1, 9)
        for xl in range(1, 13)
        if not (il <= 4 and (xl in (5, 6) or xl >= 9))
    ]
    samples = np.random.default_rng(3).standard_normal((len(headers), 8))
    write_segy_file(sgy, headers, samples.astype(np.float32))
    template = default_registry().get("PostStack3DTime").model_copy(
        update={"coordinates": [], "chunks": [4, 4, 8]}
    )
    store_path = str(tmp / "store")
    segy_to_store(spark, sgy, store_path, template)
    return open_store(spark, store_path)


STORES = ("pruning_store", "gapped_store", "dead_cell_store", "holed_store")
PREDICATES = [
    {"inline": (3, 9)},  # one dim
    {"crossline": (2, 3)},  # the minor dim: every inline chunk
    {"inline": (3, 9), "crossline": (2, 6)},  # two dims, across chunks
    {"crossline": (2, 3), "inline": (5, 5)},  # predicate order != dim order
    {"inline": (5, 7), "crossline": (1, 8)},  # falls between gapped values
    {"inline": (1, 8), "crossline": (4, 5)},  # holed: an empty file, mid-read
    {"inline": (1, 4), "crossline": (9, 12)},  # holed: no file in the box
    {"inline": (100, 200)},  # empty range
]


def _driver_and_scan(build):
    """``build()`` at the module's gate and with the gate at -1."""
    driver = build()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(store_mod, "SLICE_DRIVER_MAX_BYTES", -1)
        scan = build()
    return driver, scan


def _same_result(driver, scan) -> None:
    assert driver.schema == scan.schema
    rows = [sorted(map(repr, df.collect())) for df in (driver, scan)]
    assert rows[0] == rows[1]


@pytest.mark.parametrize("store_name", STORES)
@pytest.mark.parametrize("pred", PREDICATES, ids=repr)
def test_driver_slice_matches_spark_scan(request, spark, store_name, pred):
    """Same schema and the same rows as a multiset on both paths, for
    slice_traces and dense_slice; a one-dim dense_slice on a 2-D store
    gives one row per matching trace."""
    st = request.getfixturevalue(store_name)
    _same_result(*_driver_and_scan(lambda: slice_traces(st, pred)))
    driver, scan = _driver_and_scan(lambda: dense_slice(st, spark, pred))
    _same_result(driver, scan)
    if len(pred) == 1:
        assert driver.count() == slice_traces(st, pred).count()


def _scan_files(df) -> int:
    """numFiles of the FileSourceScanExec in ``df``'s executed plan."""
    node = df._jdf.queryExecution().executedPlan()
    while node.getClass().getSimpleName() != "FileSourceScanExec":
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            node = node.executedPlan()
        else:
            node = node.children().apply(0)
    return int(node.metrics().apply("numFiles").value())


@pytest.mark.parametrize("pred", PREDICATES[:-2], ids=repr)
def test_driver_slice_reads_the_pruned_files(pruning_store, monkeypatch, pred):
    """The driver path opens exactly as many chunk files as the Spark
    scan's PartitionFilters leave it."""
    read = []
    parquet_file = store_mod.pq.ParquetFile

    def counting(path, *args, **kw):
        read.append(path)
        return parquet_file(path, *args, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(store_mod, "SLICE_DRIVER_MAX_BYTES", -1)
        scan = slice_traces(pruning_store, pred)
        scan.collect()
    monkeypatch.setattr(store_mod.pq, "ParquetFile", counting)
    slice_traces(pruning_store, pred)
    assert len(read) == len(set(read)) == _scan_files(scan) > 0


def test_driver_slice_is_a_local_relation(pruning_store, spark):
    """Under the gate a slice is read when it is built: the result is an
    Arrow LocalRelation, and neither building nor collecting it runs a
    Spark job."""
    pred = {"inline": (3, 9), "crossline": (2, 6)}
    before = next_job_id(spark)
    for df in (
        slice_traces(pruning_store, pred),
        dense_slice(pruning_store, spark, pred),
    ):
        plan = df._jdf.queryExecution().analyzed().toString()
        assert plan.startswith("LocalRelation")
        df.collect()
    assert next_job_id(spark) - before == 0
