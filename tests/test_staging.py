"""SEG-Y export output: every export is written positionally into a hidden
temp file beside the output, which replaces the output only once every
task has succeeded. The chunk-aligned export encodes each major chunk
straight into that file; the range-shuffle export stages local parts under
``<out>.parts`` and copies each to its offset."""

from __future__ import annotations

import filecmp
import os

import pytest

from tests.conftest import next_job_id
from tests.segy_factory import make_poststack_3d

from mdio_python_spark.pipelines.export import store_to_segy
from mdio_python_spark.pipelines.ingest import segy_to_store
from mdio_python_spark.schemas import default_registry
from mdio_python_spark.sources import segy


def _two_chunk_store(spark, tmp_path) -> tuple[str, str]:
    """130 inlines: two inline chunks of the default 128, so the aligned
    export runs two encode tasks."""
    src = str(tmp_path / "cube.sgy")
    make_poststack_3d(src, n_inline=130, n_crossline=2, n_samples=4)
    store_path = str(tmp_path / "store.mdio")
    segy_to_store(spark, src, store_path, default_registry().get("PostStack3DTime"))
    return src, store_path


def test_export_concat_mode_recorded(spark, tmp_path):
    """Multi-part local export takes the ranged-parallel merge and says so
    in the stage clock; the output stays byte-identical to the source
    (the roundtrip asserts the merge, not just the mode label), and no
    ``<out>.parts`` directory is left behind."""
    src = str(tmp_path / "cube.sgy")
    make_poststack_3d(src, n_inline=8, n_crossline=6, n_samples=15)
    store_path = str(tmp_path / "store.mdio")
    segy_to_store(spark, src, store_path, default_registry().get("PostStack3DTime"))
    out = str(tmp_path / "roundtrip.sgy")
    clock: dict = {}
    n = store_to_segy(spark, store_path, out, num_partitions=3, stage_clock=clock)
    assert n == 8 * 6
    assert clock["export_concat_mode"] == "ranged_parallel"
    assert filecmp.cmp(src, out, shallow=False)
    assert not os.path.exists(out + ".parts")


def test_aligned_export_matches_shuffle_export(spark, tmp_path):
    """The chunk-aligned zero-shuffle export (default for whole-store
    dim-ordered exports) is byte-identical to both the source and the
    range-shuffle path, and says so in the stage clock."""
    src = str(tmp_path / "cube.sgy")
    make_poststack_3d(src, n_inline=8, n_crossline=6, n_samples=15)
    store_path = str(tmp_path / "store.mdio")
    segy_to_store(spark, src, store_path, default_registry().get("PostStack3DTime"))

    clock: dict = {}
    out_aligned = str(tmp_path / "aligned.sgy")
    n = store_to_segy(spark, store_path, out_aligned, stage_clock=clock)
    assert n == 8 * 6
    assert clock["export_encode_mode"] == "chunk_aligned"
    assert filecmp.cmp(src, out_aligned, shallow=False)

    out_shuffled = str(tmp_path / "shuffled.sgy")
    store_to_segy(spark, store_path, out_shuffled, num_partitions=3)
    assert filecmp.cmp(out_aligned, out_shuffled, shallow=False)


def test_aligned_export_runs_no_rdd_job(spark, tmp_path, monkeypatch):
    """The chunk-aligned encode runs as ``mapInArrow`` tasks on the SQL
    Python workers: ``store_to_segy`` never calls
    ``SparkContext.parallelize`` (which would start a second pool of
    Python workers), and the two-chunk export stays byte-identical."""
    from pyspark import SparkContext

    src = str(tmp_path / "cube.sgy")
    make_poststack_3d(src, n_inline=130, n_crossline=2, n_samples=4)
    store_path = str(tmp_path / "store.mdio")
    segy_to_store(spark, src, store_path, default_registry().get("PostStack3DTime"))

    def no_rdd(*_args, **_kwargs):
        raise AssertionError("export called SparkContext.parallelize")

    monkeypatch.setattr(SparkContext, "parallelize", no_rdd)
    clock: dict = {}
    out = str(tmp_path / "roundtrip.sgy")
    assert store_to_segy(spark, store_path, out, stage_clock=clock) == 130 * 2
    assert clock["export_encode_mode"] == "chunk_aligned"
    assert clock["export_concat_mode"] == "positional"
    assert filecmp.cmp(src, out, shallow=False)


def test_aligned_export_is_one_job_and_leaves_only_the_output(spark, tmp_path):
    """The aligned export of a two-chunk store is ONE Spark job (the encode
    tasks write at their offsets; there is no compose job), and its output
    directory then holds the output alone: no ``.parts`` directory and no
    temp file."""
    src, store_path = _two_chunk_store(spark, tmp_path)
    out_dir = tmp_path / "out"
    out_dir.mkdir()
    out = str(out_dir / "roundtrip.sgy")
    clock: dict = {}
    before = next_job_id(spark)
    assert store_to_segy(spark, store_path, out, stage_clock=clock) == 130 * 2
    assert next_job_id(spark) - before == 1
    assert clock["export_concat_mode"] == "positional"
    assert os.listdir(out_dir) == ["roundtrip.sgy"]
    assert filecmp.cmp(src, out, shallow=False)


@pytest.mark.parametrize("num_partitions", [None, 3], ids=["aligned", "shuffle"])
def test_export_over_a_longer_stale_file(spark, tmp_path, num_partitions):
    """An export into a path that already holds a longer file is still
    byte-identical to the source: no stale tail survives."""
    src, store_path = _two_chunk_store(spark, tmp_path)
    out = str(tmp_path / "roundtrip.sgy")
    with open(out, "wb") as f:
        f.write(b"\xff" * (os.path.getsize(src) + 10_000))
    store_to_segy(spark, store_path, out, num_partitions=num_partitions)
    assert filecmp.cmp(src, out, shallow=False)


def test_failed_encode_leaves_no_output(spark, tmp_path, monkeypatch):
    """An aligned export whose encode task fails (one chunk file truncated
    after the driver read its footer) raises, and leaves neither the
    output nor a temp file."""
    _, store_path = _two_chunk_store(spark, tmp_path)
    chunk_dir = os.path.join(store_path, "traces", "inline_chunk=1")
    victim = next(
        os.path.join(root, f)
        for root, _dirs, fs in os.walk(chunk_dir)
        for f in fs
        if f.endswith(".parquet")
    )
    real_run_tasks = segy.run_tasks
    truncated = []

    def truncate_then_run(spark_, tasks, fn):
        with open(victim, "r+b") as f:
            f.truncate(os.path.getsize(victim) // 2)
        truncated.append(victim)
        return real_run_tasks(spark_, tasks, fn)

    monkeypatch.setattr(segy, "run_tasks", truncate_then_run)
    out_dir = tmp_path / "out"
    out_dir.mkdir()
    with pytest.raises(Exception):
        store_to_segy(spark, store_path, str(out_dir / "roundtrip.sgy"))
    assert truncated == [victim]
    assert os.listdir(out_dir) == []
