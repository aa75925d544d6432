"""Store-URI staging for SEG-Y export (VERDICT r4 item 2): executors stage
part files through a pluggable StagingStore instead of driver-local paths,
so exports work on clusters without a POSIX-shared filesystem."""

from __future__ import annotations

import filecmp
import os

import pytest

from tests.segy_factory import make_poststack_3d

from mdio_python_spark.pipelines.export import store_to_segy
from mdio_python_spark.pipelines.ingest import segy_to_store
from mdio_python_spark.schemas import default_registry
from mdio_python_spark.sources import staging


def _fake_remote_class():
    """Defined inside a function so cloudpickle ships the class BY VALUE
    to executors — the deployment shape for a user-supplied object-store
    backend (no executor-side module install needed)."""

    class FakeRemoteStaging(staging.LocalStaging):
        """A tmpdir posing as an object store: same bytes, but every
        access goes through the StagingStore interface and records
        itself, proving write_segy never touches `<out>.parts` or any
        driver-relative path."""

        def __init__(self, root: str):
            super().__init__(root)
            self.log_path = os.path.abspath(os.path.join(root, "..", "oplog"))

        def _log(self, op: str) -> None:
            os.makedirs(os.path.dirname(os.path.abspath(self.log_path)), exist_ok=True)
            with open(self.log_path, "a") as f:
                f.write(op + "\n")

        def open_write(self, name):
            self._log(f"write:{name}")
            return super().open_write(name)

        def open_read(self, name):
            self._log(f"read:{name}")
            return super().open_read(name)

    return FakeRemoteStaging


def test_export_via_remote_staging_byte_identical(spark, tmp_path):
    FakeRemoteStaging = _fake_remote_class()
    src = str(tmp_path / "cube.sgy")
    make_poststack_3d(src, n_inline=8, n_crossline=6, n_samples=15)
    store_path = str(tmp_path / "store.mdio")
    segy_to_store(spark, src, store_path, default_registry().get("PostStack3DTime"))

    remote_root = str(tmp_path / "pretend-bucket" / "stage")
    store = FakeRemoteStaging(remote_root)
    out = str(tmp_path / "roundtrip.sgy")
    n = store_to_segy(spark, store_path, out, staging=store, num_partitions=3)
    assert n == 8 * 6
    assert filecmp.cmp(src, out, shallow=False)
    # all part traffic went through the store interface...
    ops = open(store.log_path).read().splitlines()
    writes = [o for o in ops if o.startswith("write:part-")]
    reads = [o for o in ops if o.startswith("read:part-")]
    assert len(writes) == 3 and len(reads) == 3
    # ...staging was cleaned up, and no driver-local .parts dir appeared
    assert staging.LocalStaging(remote_root).list() == []
    assert not os.path.exists(out + ".parts")


def test_staging_uri_resolution(tmp_path):
    local = staging.staging_for(str(tmp_path / "a"))
    assert isinstance(local, staging.LocalStaging)
    fileuri = staging.staging_for(f"file://{tmp_path}/b")
    assert isinstance(fileuri, staging.LocalStaging)
    assert fileuri.root == f"{tmp_path}/b"
    with pytest.raises(ValueError, match="no staging backend"):
        staging.staging_for("s3://bucket/prefix")
    staging.register_scheme("fake", lambda uri: staging.LocalStaging(str(tmp_path / "c")))
    try:
        assert isinstance(staging.staging_for("fake://x"), staging.LocalStaging)
    finally:
        staging._SCHEMES.pop("fake", None)


def test_staging_roundtrip_and_ordering(tmp_path):
    st = staging.LocalStaging(str(tmp_path / "s"))
    for i in (2, 0, 1):
        with st.open_write(f"part-{i:06d}") as f:
            f.write(bytes([i]) * 3)
    assert st.list() == ["part-000000", "part-000001", "part-000002"]
    chunks = b"".join(staging.iter_part_chunks(st))
    assert chunks == b"\x00\x00\x00\x01\x01\x01\x02\x02\x02"
    st.delete("part-000001")
    assert st.list() == ["part-000000", "part-000002"]
    st.remove_all()
    assert st.list() == []


def test_compose_parts_ranged_matches_concat(spark, tmp_path):
    """compose_parts_ranged (round 7: executor-parallel positional writes
    replacing the driver byte-stream as export's final merge) must be
    byte-identical to concat_parts on the same part set — offsets are
    prefix sums of measured sizes over the same name-ordered list."""
    import io

    st = staging.LocalStaging(str(tmp_path / "s"))
    rng_parts = [b"A" * 7, b"", b"C" * 130_000, b"d" * 3]
    for i, blob in enumerate(rng_parts):
        with st.open_write(f"part-{i:06d}") as f:
            f.write(blob)

    skeleton = b"HDR!" * 10
    stream = io.BytesIO()
    stream.write(skeleton)
    staging.concat_parts(st, stream)

    out_path = str(tmp_path / "ranged.bin")
    sink = staging.ranged_sink_for(out_path)
    assert isinstance(sink, staging.LocalRangedSink)
    sink.truncate_to(0)
    sink.write_at(0, io.BytesIO(skeleton))
    total = staging.compose_parts_ranged(spark, st, sink, len(skeleton))
    assert total == sum(len(b) for b in rng_parts)
    assert open(out_path, "rb").read() == stream.getvalue()


def test_ranged_sink_resolution_and_default_size(tmp_path):
    # file:// and bare paths resolve to the pwrite sink; unknown object
    # schemes return None so write_segy falls back to the driver stream
    assert isinstance(
        staging.ranged_sink_for(f"file://{tmp_path}/x"), staging.LocalRangedSink
    )
    assert staging.ranged_sink_for("s3://bucket/key") is None
    staging.register_ranged_scheme(
        "fakero", lambda uri: staging.LocalRangedSink(str(tmp_path / "y"))
    )
    try:
        assert isinstance(
            staging.ranged_sink_for("fakero://x"), staging.LocalRangedSink
        )
    finally:
        staging._RANGED_SCHEMES.pop("fakero", None)

    # base-class size() (one read pass) serves backends without cheap
    # metadata; LocalStaging overrides it with stat
    class MinimalStore(staging.LocalStaging):
        size = staging.StagingStore.size

    st = MinimalStore(str(tmp_path / "m"))
    with st.open_write("part-000000") as f:
        f.write(b"z" * 12345)
    assert st.size("part-000000") == 12345
    assert staging.LocalStaging(str(tmp_path / "m")).size("part-000000") == 12345


def test_export_concat_mode_recorded(spark, tmp_path):
    """Multi-part local export takes the ranged-parallel merge and says so
    in the stage clock; the output stays byte-identical to the source
    (the roundtrip asserts the merge, not just the mode label)."""
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
    """The chunk-aligned encode and the ranged compose run as ``mapInArrow``
    tasks on the SQL Python workers: ``store_to_segy`` never calls
    ``SparkContext.parallelize`` (which would start a second pool of
    Python workers), and the two-part export stays byte-identical."""
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
    assert clock["export_concat_mode"] == "ranged_parallel"
    assert filecmp.cmp(src, out, shallow=False)
