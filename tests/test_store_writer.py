"""The store's trace writer and its declared-schema reader.

``store.ChunkFileWriter`` is the task body of the ingest write: header rows
in, chunk files written with pyarrow, per-trace statsV1 partials out.
``store.open_store`` reads the trace table with the schema declared from
one footer, so opening a store runs no Spark job.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import next_job_id
from tests.segy_factory import FIELD_OFFSETS, write_segy_file

from mdio_python_spark.pipelines import ingest as ing
from mdio_python_spark.schemas import default_registry
from mdio_python_spark.sources import segy
from mdio_python_spark.sources import store as store_mod

SPEC = {
    name: (off, ">i4" if fmt == ">i" else ">i2")
    for name, (off, fmt) in FIELD_OFFSETS.items()
}

# open_store(...).traces of a PostStack3DTime store as the Spark parquet
# writer left it: the pyarrow writer keeps these names, types and order
POSTSTACK_COLUMNS = [
    ("crossline", "bigint"),
    ("inline", "bigint"),
    ("src_trace_idx", "bigint"),
    ("cdp_x", "double"),
    ("cdp_y", "double"),
    ("coordinate_scalar", "bigint"),
    ("raw_header", "binary"),
    ("samples", "array<float>"),
    ("inline_idx", "bigint"),
    ("crossline_idx", "bigint"),
    ("inline_chunk", "int"),
    ("crossline_chunk", "int"),
]


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for where, _, names in os.walk(root):
        for name in names:
            path = os.path.join(where, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


@pytest.fixture
def small_file(tmp_path):
    cells = [{"inline": il, "crossline": xl} for il in range(1, 5) for xl in range(1, 4)]
    samples = np.random.default_rng(9).standard_normal((len(cells), 6)).astype(np.float32)
    samples[2] = 0.0  # a dead trace: no nonzero sample
    path = str(tmp_path / "small.sgy")
    write_segy_file(path, cells, samples)
    return path, cells, samples


def _writer_inputs(root: str, path: str, cells: list[dict]):
    """A ChunkFileWriter over one file, and one header batch sorted by
    (inline chunk of 2 inlines, src_trace_idx)."""
    inline = np.array([c["inline"] for c in cells], dtype=np.int64)
    batch = pa.record_batch(
        {
            "src_trace_idx": np.arange(len(cells), dtype=np.int64),
            "inline": inline,
            "inline_chunk": (inline - 1) // 2,
        }
    )
    schema = pa.schema(
        [
            ("src_trace_idx", pa.int64()),
            ("inline", pa.int64()),
            ("raw_header", pa.binary()),
            ("samples", pa.list_(pa.float32())),
        ]
    )
    writer = store_mod.ChunkFileWriter(
        root, ["inline_chunk"], schema, [segy.segy_file_info(path)]
    )
    return writer, batch


def test_retried_writer_task_rewrites_the_same_files(tmp_path, small_file):
    """Running the writer twice on the same partition, as a retried task
    does, leaves the same files with the same bytes and no temporary
    file; each chunk file holds its traces' samples and raw headers."""
    path, cells, samples = small_file
    root = str(tmp_path / "traces")
    writer, batch = _writer_inputs(root, path, cells)

    stats = pa.Table.from_batches(list(writer.write_partition(iter([batch]), 3, 0)))
    first = _files(root)
    again = pa.Table.from_batches(list(writer.write_partition(iter([batch]), 3, 1)))
    assert _files(root) == first
    assert stats.equals(again)
    assert sorted(first) == [
        "inline_chunk=0/part-00003-0.parquet",
        "inline_chunk=1/part-00003-1.parquet",
    ]

    got = pq.read_table(os.path.join(root, "inline_chunk=0/part-00003-0.parquet"))
    assert got.column("src_trace_idx").to_pylist() == list(range(6))
    assert np.array_equal(np.stack(got.column("samples").to_pylist()), samples[:6])
    with open(path, "rb") as f:
        f.seek(3600)
        assert got.column("raw_header")[0].as_py() == f.read(240)
    # statsV1 partials per trace, a dead trace with +-inf extrema
    assert stats.num_rows == len(cells)
    assert stats.column("n_nz").to_pylist()[2] == 0
    assert stats.column("s_min")[2].as_py() == np.inf


def test_failed_writer_task_leaves_no_file(tmp_path, small_file):
    """A task that fails mid-partition removes its open temporary file;
    the chunk it had finished stays, under its final name."""
    path, cells, _ = small_file
    root = str(tmp_path / "traces")
    writer, batch = _writer_inputs(root, path, cells)

    def failing():
        yield batch.slice(0, 8)
        raise RuntimeError("task killed")

    with pytest.raises(RuntimeError, match="task killed"):
        list(writer.write_partition(failing(), 0, 0))
    assert sorted(_files(root)) == ["inline_chunk=0/part-00000-0.parquet"]


def test_open_store_declared_schema(tmp_path, spark):
    """Opening a PostStack3DTime store runs no Spark job, and its trace
    schema is the one ``spark.read.parquet`` infers: the parent layout's
    names, types and order, chunk keys last as int."""
    cells = [
        {"inline": il, "crossline": xl, "cdp_x": il * 25, "cdp_y": xl * 25,
         "coordinate_scalar": -10}
        for il in range(1, 7)
        for xl in range(1, 6)
    ]
    samples = np.random.default_rng(2).standard_normal((len(cells), 8))
    path = str(tmp_path / "post.sgy")
    write_segy_file(path, cells, samples.astype(np.float32))
    out = str(tmp_path / "store")
    ing.segy_to_store(
        spark, path, out, default_registry().get("PostStack3DTime"), header_spec=SPEC
    )

    before = next_job_id(spark)
    opened = store_mod.open_store(spark, out)
    assert next_job_id(spark) - before == 0
    schema = opened.traces.schema
    assert [(f.name, f.dataType.simpleString()) for f in schema] == POSTSTACK_COLUMNS
    inferred = spark.read.parquet(os.path.join(out, "traces"))
    assert schema == inferred.schema
    key = ["src_trace_idx"]
    assert opened.traces.orderBy(key).collect() == inferred.orderBy(key).collect()
