"""Grid-override e2e tests, modeled on the reference's mock-4D matrices
(``tests/integration/test_import_streamer_grid_overrides.py`` and
``test_import_obn_grid_overrides.py``) but generated by our own factory.

Every ingest here runs in both header modes (driver numpy, and the Spark
aggregates that apply above ``HEADER_DRIVER_MAX_TRACES``): both must
write the same store or raise the same error. The assertions read the
driver-mode store.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from tests.header_modes import ingest_both_header_modes as segy_to_store
from tests.segy_factory import FIELD_OFFSETS, write_segy_file

from mdio_python_spark.pipelines.ingest import (
    GridTraceCountError,
    GridTraceSparsityError,
)
from mdio_python_spark.schemas import GridOverrides, default_registry
from mdio_python_spark.sources.store import open_store

SPEC = {name: (off, ">i4" if fmt == ">i" else ">i2") for name, (off, fmt) in FIELD_OFFSETS.items()}

N_SHOTS, CABLES, CHANNELS_PER_CABLE, NS = 4, (101, 102, 103), 6, 10


def _make_streamer(path: str, geometry: str, duplicate: bool = False):
    """Geometry A: channels restart 1..n per cable; geometry B: sequential
    across cables (FIXTURES.md F2)."""
    headers = []
    for shot in range(1, N_SHOTS + 1):
        chan_base = 0
        for cable in CABLES:
            for ch in range(1, CHANNELS_PER_CABLE + 1):
                channel = ch if geometry == "A" else chan_base + ch
                headers.append(
                    {"shot_point": shot, "cable": cable, "channel": channel}
                )
            chan_base += CHANNELS_PER_CABLE
    if duplicate:
        headers.append(dict(headers[0]))
    rng = np.random.default_rng(11)
    samples = rng.standard_normal((len(headers), NS)).astype(np.float32)
    write_segy_file(path, headers, samples)
    return headers, samples


@pytest.fixture(scope="module")
def streamer_template():
    return default_registry().get("StreamerShotGathers3D")


def _streamer_template_no_coords(streamer_template):
    # coordinate decls reference header fields our mock doesn't populate;
    # drop them (the reference's mock does the same via a reduced SegySpec)
    return streamer_template.model_copy(update={"coordinates": []})


def test_geometry_b_channel_wrap(tmp_path, spark, streamer_template):
    """AutoChannelWrap rebases sequential channels to 1..n per cable
    (W2, ``index_strategies.py:206-233``)."""
    path = str(tmp_path / "geomB.sgy")
    _make_streamer(path, "B")
    template = _streamer_template_no_coords(streamer_template)
    segy_to_store(
        spark,
        path,
        str(tmp_path / "store"),
        template,
        overrides=GridOverrides(auto_channel_wrap=True),
        header_spec=SPEC,
    )
    st = open_store(spark, str(tmp_path / "store"))
    chans = sorted(r["channel"] for r in st.dims["channel"].collect())
    assert chans == list(range(1, CHANNELS_PER_CABLE + 1))
    sizes = {d.name: d.size for d in st.dataset.dimensions}
    assert sizes == {
        "shot_point": N_SHOTS,
        "cable": len(CABLES),
        "channel": CHANNELS_PER_CABLE,
        "time": NS,
    }


def test_geometry_b_without_wrap_has_wide_channel_dim(tmp_path, spark, streamer_template):
    path = str(tmp_path / "geomB2.sgy")
    _make_streamer(path, "B")
    template = _streamer_template_no_coords(streamer_template)
    segy_to_store(spark, path, str(tmp_path / "store"), template, header_spec=SPEC)
    st = open_store(spark, str(tmp_path / "store"))
    sizes = {d.name: d.size for d in st.dataset.dimensions}
    # unwrapped: channel dim spans all cables
    assert sizes["channel"] == CHANNELS_PER_CABLE * len(CABLES)


def test_duplicate_tuples_raise_without_override(tmp_path, spark, streamer_template):
    path = str(tmp_path / "dup.sgy")
    _make_streamer(path, "A", duplicate=True)
    template = _streamer_template_no_coords(streamer_template)
    with pytest.raises(GridTraceCountError) as err:
        segy_to_store(spark, path, str(tmp_path / "store"), template, header_spec=SPEC)
    # the message names the duplicated tuple (headers[0]) and its count
    msg = str(err.value)
    for part in ("'shot_point': 1", "'cable': 101", "'channel': 1", "'n_traces': 2"):
        assert part in msg, msg


def test_sparse_grid_raises_with_counts(tmp_path, spark):
    """Grid QC (A6) errors above 10 grid cells per live trace: 11 traces
    on the diagonal of an 11 x 11 grid (ratio 11) raise with both
    counts; 10 traces on a 10 x 10 diagonal (ratio 10) are accepted."""
    template = default_registry().get("PostStack3DTime").model_copy(
        update={"coordinates": []}
    )
    for n in (11, 10):
        path = str(tmp_path / f"diag{n}.sgy")
        headers = [{"inline": i, "crossline": i} for i in range(1, n + 1)]
        write_segy_file(path, headers, np.ones((n, NS), dtype=np.float32))
        store_path = str(tmp_path / f"store{n}")
        if n == 11:
            with pytest.raises(GridTraceSparsityError, match="grid cells 121 vs traces 11"):
                segy_to_store(spark, path, store_path, template, header_spec=SPEC)
        else:
            segy_to_store(spark, path, store_path, template, header_spec=SPEC)
            st = open_store(spark, store_path)
            assert st.traces.count() == n


def test_duplicates_override_adds_trace_dim(tmp_path, spark, streamer_template):
    """HasDuplicates inserts the per-tuple `trace` ordinal dim (W5)."""
    path = str(tmp_path / "dup2.sgy")
    headers, _ = _make_streamer(path, "A", duplicate=True)
    template = _streamer_template_no_coords(streamer_template)
    segy_to_store(
        spark,
        path,
        str(tmp_path / "store"),
        template,
        overrides=GridOverrides(has_duplicates=True),
        header_spec=SPEC,
    )
    st = open_store(spark, str(tmp_path / "store"))
    assert "trace" in st.spatial_dims
    dup = (
        st.traces.where(
            (st.traces.shot_point == 1)
            & (st.traces.cable == 101)
            & (st.traces.channel == 1)
        )
        .orderBy("trace")
        .collect()
    )
    assert [r["trace"] for r in dup] == [1, 2]
    assert st.traces.count() == len(headers)


def _obn_template():
    template = default_registry().get("ObnReceiverGathers3D")
    return template.model_copy(
        update={
            "coordinates": [],
            "spatial_dims": ["component", "shot_line", "gun", "shot_index"],
            "chunks": [1, 2, 1, 16, 1024],
            "calculated_dims": ["shot_index", "component"],
        }
    )


def _write_obn(tmp_path, name: str, shots_per_gun: dict[int, list[int]]):
    headers = []
    for line in (1, 2):
        for gun, shots in shots_per_gun.items():
            for sp in shots:
                headers.append({"shot_line": line, "gun": gun, "shot_point": sp})
    rng = np.random.default_rng(13)
    samples = rng.standard_normal((len(headers), NS)).astype(np.float32)
    path = str(tmp_path / name)
    write_segy_file(path, headers, samples)
    return path


def test_obn_shot_wrap_type_b_interleaved(tmp_path, spark):
    """CalculateShotIndex on interleaved (Type B) shots: detection picks the
    floor path with the detected per-line gun count — the reference's OBN
    fixture semantics (``test_import_obn_grid_overrides.py``: gun1 1,3,5 ->
    0,1,2; gun2 2,4,6 -> 1,2,3; combined dim [0,1,2,3])."""
    path = _write_obn(tmp_path, "obn_b.sgy", {1: [1, 3, 5], 2: [2, 4, 6]})
    segy_to_store(
        spark,
        path,
        str(tmp_path / "store"),
        _obn_template(),
        overrides=GridOverrides(calculate_shot_index=True),
        header_spec=SPEC,
    )
    st = open_store(spark, str(tmp_path / "store"))
    sizes = {d.name: d.size for d in st.dataset.dimensions}
    assert sizes["shot_index"] == 4
    assert sizes["component"] == 1
    rows = (
        st.traces.where("shot_line = 1")
        .orderBy("gun", "shot_index")
        .select("gun", "shot_index", "shot_point")
        .collect()
    )
    assert [(r["gun"], r["shot_index"]) for r in rows] == [
        (1, 0), (1, 1), (1, 2), (2, 1), (2, 2), (2, 3),
    ]


def test_obn_shot_wrap_type_a_dense(tmp_path, spark):
    """CalculateShotIndex on per-gun-dense (Type A) shots: both guns share
    shot values, so floor/num_guns collapses distinct shots -> Type A ->
    dense searchsorted index over per-LINE unique shots
    (``index_strategies.py:292-297``)."""
    path = _write_obn(tmp_path, "obn_a.sgy", {1: [10, 11, 12], 2: [10, 11, 12]})
    segy_to_store(
        spark,
        path,
        str(tmp_path / "store"),
        _obn_template(),
        overrides=GridOverrides(calculate_shot_index=True),
        header_spec=SPEC,
    )
    st = open_store(spark, str(tmp_path / "store"))
    sizes = {d.name: d.size for d in st.dataset.dimensions}
    assert sizes["shot_index"] == 3
    rows = (
        st.traces.where("shot_line = 2 AND gun = 2")
        .orderBy("shot_index")
        .select("shot_index", "shot_point")
        .collect()
    )
    assert [r["shot_index"] for r in rows] == [0, 1, 2]
    assert [r["shot_point"] for r in rows] == [10, 11, 12]


def test_geometry_a_channel_passthrough(tmp_path, spark, streamer_template):
    """AutoChannelWrap on Type-A data (overlapping per-cable channel
    ranges) passes through WITHOUT rebasing — the round-1 pipeline wrapped
    unconditionally (``index_strategies.py:226-227`` returns headers
    untouched for Type A)."""
    headers = []
    # offset-overlapping ranges: 1-6, 4-9, 7-12 (strict overlap => Type A)
    for shot in range(1, N_SHOTS + 1):
        for ci, cable in enumerate(CABLES):
            for ch in range(1, CHANNELS_PER_CABLE + 1):
                headers.append(
                    {"shot_point": shot, "cable": cable, "channel": 3 * ci + ch}
                )
    rng = np.random.default_rng(17)
    samples = rng.standard_normal((len(headers), NS)).astype(np.float32)
    path = str(tmp_path / "geomA_offset.sgy")
    write_segy_file(path, headers, samples)
    template = _streamer_template_no_coords(streamer_template)
    segy_to_store(
        spark,
        path,
        str(tmp_path / "store"),
        template,
        overrides=GridOverrides(auto_channel_wrap=True),
        header_spec=SPEC,
    )
    st = open_store(spark, str(tmp_path / "store"))
    sizes = {d.name: d.size for d in st.dataset.dimensions}
    # pass-through: original channel numbers 1..12 preserved (a rebase
    # would have shrunk the dim to 6)
    assert sizes["channel"] == 3 * (len(CABLES) - 1) + CHANNELS_PER_CABLE
    chans = sorted(r["channel"] for r in st.dims["channel"].collect())
    assert chans == list(range(1, 3 * (len(CABLES) - 1) + CHANNELS_PER_CABLE + 1))


def test_streamer_auto_shot_wrap_type_b(tmp_path, spark):
    """AutoShotWrap + AutoChannelWrap 6D streamer import mirroring the
    reference's ``TestImport6D`` (shots [2,3,5,6,7,8,9] alternating guns,
    missing shot 4): Type B detected, floor-wrapped with the DETECTED gun
    count, shot_index dim [0,1,2,3]."""
    from mdio_python_spark.schemas.templates import AbstractDatasetTemplate

    template = AbstractDatasetTemplate(
        name="StreamerFieldRecordsTest",
        spatial_dims=["shot_line", "gun", "shot_index", "cable", "channel"],
        vertical_dim="time",
        coordinates=[],
        chunks=[1, 1, 8, 1, 128, 1024],
        calculated_dims=["shot_index"],
    )
    shots = [2, 3, 5, 6, 7, 8, 9]
    headers = []
    for sp in shots:
        gun = 1 if sp % 2 == 0 else 2
        chan_base = 0
        for cable in CABLES:
            for ch in range(1, CHANNELS_PER_CABLE + 1):
                headers.append(
                    {
                        "shot_line": 1,
                        "gun": gun,
                        "shot_point": sp,
                        "cable": cable,
                        "channel": chan_base + ch,  # geometry B channels
                    }
                )
            chan_base += CHANNELS_PER_CABLE
    rng = np.random.default_rng(19)
    samples = rng.standard_normal((len(headers), NS)).astype(np.float32)
    path = str(tmp_path / "streamer6d.sgy")
    write_segy_file(path, headers, samples)

    segy_to_store(
        spark,
        path,
        str(tmp_path / "store"),
        template,
        overrides=GridOverrides(auto_channel_wrap=True, auto_shot_wrap=True),
        header_spec=SPEC,
    )
    st = open_store(spark, str(tmp_path / "store"))
    sizes = {d.name: d.size for d in st.dataset.dimensions}
    # int(sp/2) over [2..9] minus min => {0,1,2,3}, exactly the reference's
    # expected shot_index; channels rebased 1..6 (Type B wrap)
    assert sizes["shot_index"] == 4
    assert sizes["channel"] == CHANNELS_PER_CABLE
    idx = sorted(r["shot_index"] for r in st.dims["shot_index"].collect())
    assert idx == [0, 1, 2, 3]
    # gun 1 (even shots 2,6,8) -> floor/2 {1,3,4} - 1 -> {0,2,3}
    g1 = sorted(
        r["shot_index"]
        for r in st.traces.where("gun = 1").select("shot_index").distinct().collect()
    )
    assert g1 == [0, 2, 3]


def test_streamer_auto_shot_wrap_type_a_passthrough(spark):
    """Driver-side detection: per-gun-dense shots classify Type A and the
    streamer strategy passes through (no shot_index column appended) —
    ``index_strategies.py:279-280``."""
    from mdio_python_spark.operators import geometry
    from mdio_python_spark.pipelines.ingest import _apply_strategies
    from mdio_python_spark.schemas import default_registry as _reg
    from mdio_python_spark.schemas.resolver import SchemaResolver

    rows = [
        (1, g, sp) for g in (1, 2) for sp in range(1, 21)
    ]  # both guns shoot 1..20: floor/2 halves distinct count => Type A
    df = spark.createDataFrame(rows, ["shot_line", "gun", "shot_point"])
    analysis = geometry.gun_geometry_analysis(df).collect()
    geom, num_guns = geometry.detect_gun_geometry(analysis)
    assert (geom, num_guns) == ("A", 2)

    overrides = GridOverrides(auto_shot_wrap=True)
    template = _reg().get("ObnReceiverGathers3D")
    schema = SchemaResolver().resolve(template, overrides)
    out = _apply_strategies(df, schema, overrides, template)
    assert "shot_index" not in out.columns  # pass-through


def test_detect_channel_geometry_boundaries():
    """Strict-overlap rule (``header_analysis.py:125``): touching ranges
    are B, strictly overlapping ranges are A."""
    from mdio_python_spark.operators.geometry import detect_channel_geometry

    touching = [
        {"chan_min": 1, "chan_max": 20},
        {"chan_min": 20, "chan_max": 40},
    ]
    assert detect_channel_geometry(touching) == "B"
    overlapping = [
        {"chan_min": 1, "chan_max": 20},
        {"chan_min": 19, "chan_max": 40},
    ]
    assert detect_channel_geometry(overlapping) == "A"


def test_nonbinned_ingest_collapses_dim(tmp_path, spark, streamer_template):
    """NonBinned e2e (W6 + schema effect): collapse `channel` into a
    per-(shot, cable) `trace` ordinal; the collapsed dim survives as a
    per-trace coordinate column (``schema_effects.py:50-133``)."""
    path = str(tmp_path / "nb.sgy")
    headers, samples = _make_streamer(path, "A")
    template = _streamer_template_no_coords(streamer_template)
    segy_to_store(
        spark,
        path,
        str(tmp_path / "store"),
        template,
        overrides=GridOverrides(
            non_binned=True, chunksize=8, non_binned_dims=["channel"]
        ),
        header_spec=SPEC,
    )
    st = open_store(spark, str(tmp_path / "store"))
    assert st.spatial_dims == ["shot_point", "cable", "trace"]
    sizes = {d.name: d.size for d in st.dataset.dimensions}
    assert sizes["trace"] == CHANNELS_PER_CABLE  # 6 channels per cell
    rows = (
        st.traces.where("shot_point = 1 AND cable = 101")
        .orderBy("trace")
        .select("trace", "channel")
        .collect()
    )
    assert [r["trace"] for r in rows] == list(range(1, CHANNELS_PER_CABLE + 1))
    # collapsed dim rides along as a coordinate, file order preserved
    assert [r["channel"] for r in rows] == list(range(1, CHANNELS_PER_CABLE + 1))
    assert st.traces.count() == len(headers)
