"""Scale-shape regression tests for the ingest trace pass.

The round-1 pipeline joined the payload to the header-pass assignment on
``src_trace_idx`` (an equal-cardinality sort-merge join: one full payload
shuffle) and then shuffled again on the chunk keys. The trace pass now
runs over header rows only, the store writer reads the samples from the
SEG-Y files itself, and statsV1 falls out of the same action via observe()
(no extra payload job). Under the header gate the rows are sorted on the
driver and the write plan is the writer over a local Arrow scan; above it
strategies replay per-row from broadcast literals and the ONLY hash
exchange is the chunk-key repartition of header rows.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from tests.conftest import next_job_id
from tests.header_modes import ingest_both_header_modes
from tests.segy_factory import FIELD_OFFSETS, write_segy_file

from mdio_python_spark.pipelines import ingest as ing
from mdio_python_spark.schemas import default_registry
from mdio_python_spark.sources import store as store_mod

SPEC = {
    name: (off, ">i4" if fmt == ">i" else ">i2")
    for name, (off, fmt) in FIELD_OFFSETS.items()
}


@pytest.fixture
def poststack_file(tmp_path):
    headers = [
        {"inline": il, "crossline": xl}
        for il in range(1, 11)
        for xl in range(1, 11)
    ]
    rng = np.random.default_rng(5)
    samples = rng.standard_normal((len(headers), 16)).astype(np.float32)
    path = str(tmp_path / "plan.sgy")
    write_segy_file(path, headers, samples)
    return path, samples


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def _node_outputs(node) -> set[str]:
    """The column names every node of a physical plan outputs, descending
    into the adaptive plan's current plan and the cached relations' plans."""
    names = {a.name() for a in _seq(node.output())}
    kids = _seq(node.children())
    kind = node.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        kids.append(node.executedPlan())
    elif kind == "InMemoryTableScanExec":
        kids.append(node.relation().cachedPlan())
    for kid in kids:
        names |= _node_outputs(kid)
    return names


def _capture_write_plan(monkeypatch) -> list[dict]:
    """Spy on store.trace_writer: records, per ingest in call order, the
    executed plan of the pass-2 write (header rows, chunk keys, the
    optional exchange and the writer) and the columns its nodes output."""
    captured = []
    orig = store_mod.trace_writer

    def spy(*args, **kwargs):
        out = orig(*args, **kwargs)
        plan = out._jdf.queryExecution().executedPlan()
        captured.append({"plan": plan.toString(), "outputs": _node_outputs(plan)})
        return out

    monkeypatch.setattr(store_mod, "trace_writer", spy)
    return captured


def _assert_header_rows_only(outputs: set[str]) -> None:
    """No node of the trace-pass plan outputs the payload: the store
    writer reads ``samples`` and ``raw_header`` from the SEG-Y file."""
    assert {"src_trace_idx", "inline_chunk", "n_nz"} <= outputs, outputs
    assert not outputs & set(store_mod.PAYLOAD_COLUMNS), outputs


def _poststack_template():
    return default_registry().get("PostStack3DTime").model_copy(
        update={"coordinates": []}
    )


def _scrambled_cells(seed: int, inlines: range) -> list[dict]:
    import random

    cells = [{"inline": il, "crossline": xl} for il in inlines for xl in (1, 2)]
    random.Random(seed).shuffle(cells)
    return cells


def _write(path, cells, seed: int = 6) -> str:
    samples = np.random.default_rng(seed).standard_normal((len(cells), 8))
    write_segy_file(str(path), cells, samples.astype(np.float32))
    return str(path)


def _assert_stats(ds, samples) -> None:
    """statsV1 folded into the write action: compare to a direct numpy
    pass."""
    s = samples.astype(np.float64)
    nz = s[s != 0.0]
    st = ds.variables[0].stats
    assert st.count == nz.size
    assert st.min == pytest.approx(nz.min(), abs=0)
    assert st.max == pytest.approx(nz.max(), abs=0)
    assert st.sum == pytest.approx(nz.sum(), abs=1e-5)
    assert st.sum_squares == pytest.approx((nz * nz).sum(), abs=1e-5)


def _assert_driver_write_plan(plan: str) -> None:
    """The driver-planned pass 2: the store writer over the local Arrow
    scan of the driver-sorted rows, with no exchange, join, sort or header
    cache."""
    lines = [line.lstrip(" :+-*") for line in plan.splitlines()]
    kinds = [line.split(" ", 1)[0].split("(", 1)[0] for line in lines if line]
    assert kinds[-2:] == ["MapInArrow", "LocalTableScan"], plan
    for node in ("Exchange", "Join", "Sort", "InMemoryTableScan"):
        assert node not in plan, plan


def test_trace_pass_single_hash_exchange(tmp_path, spark, poststack_file, monkeypatch):
    """Above the header gate (patched to -1), the trace-pass plan never
    sort-merge-joins or windows, no node of it outputs the payload, and it
    carries AT MOST the one chunk-key hash exchange — ZERO when the header
    stats prove the file grid-ordered (round-8 direct write: each scan
    task lands in O(1) chunk dirs, so the consolidation shuffle is
    skipped; a scrambled file keeps exactly one)."""
    path, samples = poststack_file
    captured = _capture_write_plan(monkeypatch)
    monkeypatch.setattr(ing, "HEADER_DRIVER_MAX_TRACES", -1)
    clock: dict = {}
    ds = ing.segy_to_store(
        spark, path, str(tmp_path / "store"), _poststack_template(),
        header_spec=SPEC, stage_clock=clock,
    )

    plan = captured[0]["plan"]
    # the factory file is inline/crossline-ordered: the measured header
    # stats must pick the direct path and the trace-pass plan must be
    # exchange-free
    assert clock["write_mode"] == "direct"
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "SortMergeJoin" not in plan, plan
    assert "WindowExec" not in plan, plan
    # every broadcast side is a driver-side LocalTableScan (the Arrow dim
    # tables): no parallelized literal whose broadcast launches jobs
    lines = plan.splitlines()
    build_sides = [
        lines[i + 1].lstrip(" :+-")
        for i, line in enumerate(lines)
        if "BroadcastExchange" in line
    ]
    assert len(build_sides) == 2, plan  # the inline and crossline dims
    assert all(side.startswith("LocalTableScan") for side in build_sides), plan
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan
    _assert_header_rows_only(captured[0]["outputs"])
    _assert_stats(ds, samples)


def test_driver_trace_pass_is_a_local_scan(tmp_path, spark, poststack_file, monkeypatch):
    """Under the header gate the trace pass is planned on the driver: the
    write plan is the store writer (``MapInArrow``) over a
    ``LocalTableScan`` of the sorted header rows, with no exchange, join,
    sort or cached header scan, and no node of it outputs the payload."""
    path, samples = poststack_file
    captured = _capture_write_plan(monkeypatch)
    clock: dict = {}
    ds = ing.segy_to_store(
        spark, path, str(tmp_path / "store"), _poststack_template(),
        header_spec=SPEC, stage_clock=clock,
    )
    assert clock["write_mode"] == "driver"
    assert "max_chunk_keys_per_block" not in clock
    _assert_driver_write_plan(captured[0]["plan"])
    _assert_header_rows_only(captured[0]["outputs"])
    _assert_stats(ds, samples)


def test_ingest_job_count(tmp_path, spark, poststack_file):
    """The 10 x 10 ingest launches exactly 2 Spark jobs: ONE header job
    (the toArrow of the stored header columns, under the trace-count gate;
    grid QC, the dim tables and the sorted trace-pass rows are driver
    numpy) and the trace write over the local Arrow scan of those rows.
    There is no header cache to fill and, since pass 2 joins nothing, no
    broadcast job. It launched 20 when QC, duplicates and each dim table
    were separate jobs over parallelized literals, 9 while each dim table
    was a Spark write, 7 while the header cache, the QC/dim aggregate and
    the write-plan aggregate were Spark jobs, and 3 while pass 2
    broadcast-joined the Arrow dim tables (one ``defaultParallelism``-task
    job per distinct dim table)."""
    path, _ = poststack_file
    before = next_job_id(spark)
    ing.segy_to_store(
        spark, path, str(tmp_path / "store"), _poststack_template(),
        header_spec=SPEC,
    )
    assert next_job_id(spark) - before == 2


def test_strategy_literals_are_local_relations(spark):
    """The strategy aux tables built on the driver (Type-B channel minima,
    Type-B per-line floor minima, the small Type-A dense shot map) are
    Arrow LocalRelations, and the applying join still rebases channels
    and shots."""
    from mdio_python_spark.schemas.overrides import GridOverrides

    class _SchemaStub:
        dimensions = ()
        spatial_dims = ["shot_line", "cable", "channel", "shot_index"]

    def is_local(df) -> bool:
        return df._jdf.queryExecution().optimizedPlan().toString().startswith(
            "LocalRelation"
        )

    # Type B channels (sequential across cables), Type B shots (guns
    # interleaved: gun = 1 + shot % 2)
    data = [
        (line, cable, (cable - 101) * 4 + ch, 1 + sp % 2, sp)
        for line in (1, 2)
        for sp in range(10, 20)
        for cable in (101, 102)
        for ch in range(1, 5)
    ]
    headers = spark.createDataFrame(
        data, "shot_line long, cable long, channel long, gun long, shot_point long"
    )
    ov = GridOverrides(auto_channel_wrap=True, auto_shot_wrap=True)
    plan = ing._build_strategy_plan(spark, headers, _SchemaStub(), ov)
    assert plan.shot_mode == "floor" and plan.num_guns == 2
    assert is_local(plan.cable_min) and is_local(plan.line_floor_min)
    assert plan.cable_min.schema.simpleString() == "struct<cable:bigint,chan_min:bigint>"
    out = ing._apply_plan(headers, plan)
    assert {r["channel"] for r in out.select("channel").collect()} == {1, 2, 3, 4}
    assert {r["shot_index"] for r in out.select("shot_index").collect()} == {0, 1, 2, 3, 4}

    # Type A shots (both guns fire the same shot points) + calculate
    type_a = spark.createDataFrame(
        [(line, gun, sp) for line in (1, 2) for gun in (1, 2) for sp in range(10, 15)],
        "shot_line long, gun long, shot_point long",
    )
    dense = ing._build_strategy_plan(
        spark, type_a, _SchemaStub(), GridOverrides(calculate_shot_index=True)
    )
    assert dense.shot_mode == "dense" and is_local(dense.shot_dense)


def test_store_roundtrip_values_after_rewrite(tmp_path, spark, poststack_file):
    """Cell assignment via broadcast literals matches the header values:
    every (inline, crossline) cell holds its original trace samples."""
    path, samples = poststack_file
    ing.segy_to_store(
        spark, path, str(tmp_path / "store"), _poststack_template(),
        header_spec=SPEC,
    )
    st = store_mod.open_store(spark, str(tmp_path / "store"))
    rows = st.traces.select(
        "inline", "crossline", "inline_idx", "crossline_idx", "src_trace_idx", "samples"
    ).collect()
    assert len(rows) == 100
    for r in rows:
        # file order was inline-major 10x10, values 1..10 -> idx = value-1
        assert r["inline_idx"] == r["inline"] - 1
        assert r["crossline_idx"] == r["crossline"] - 1
        expect = samples[(r["inline"] - 1) * 10 + (r["crossline"] - 1)]
        assert np.allclose(np.array(r["samples"], dtype=np.float32), expect)
        assert r["src_trace_idx"] == (r["inline"] - 1) * 10 + (r["crossline"] - 1)


def test_shot_dense_paths_identical(spark, monkeypatch):
    """The Type-A dense shot map must be identical whether it is collected
    to a driver literal (small maps) or kept distributed past the
    SHOT_DENSE_LITERAL_MAX cardinality guard (the 100x path — a
    multi-million-row dim table through spark.createDataFrame is a driver
    stall; reference parity anchor: index_strategies.py:292-297 collects
    unconditionally)."""
    from mdio_python_spark.schemas.overrides import GridOverrides

    class _SchemaStub:
        dimensions = ()
        spatial_dims = ["shot_line", "gun", "shot_index"]

    # Type A: both guns share the same shot values per line
    data = [
        (line, gun, sp)
        for line in (1, 2)
        for gun in (1, 2)
        for sp in range(10, 35)
    ]
    headers = spark.createDataFrame(
        data, "shot_line long, gun long, shot_point long"
    )
    ov = GridOverrides(calculate_shot_index=True)

    plan_lit = ing._build_strategy_plan(spark, headers, _SchemaStub(), ov)
    monkeypatch.setattr(ing, "SHOT_DENSE_LITERAL_MAX", 0)
    plan_dist = ing._build_strategy_plan(spark, headers, _SchemaStub(), ov)

    assert plan_lit.shot_mode == plan_dist.shot_mode == "dense"
    lit_rows = sorted(map(tuple, plan_lit.shot_dense.collect()))
    dist_rows = sorted(map(tuple, plan_dist.shot_dense.collect()))
    assert lit_rows == dist_rows
    assert len(lit_rows) == 50  # 2 lines x 25 unique shots

    # the applying join produces the same per-trace assignment either way
    out_lit = sorted(
        map(tuple, ing._apply_plan(headers, plan_lit).collect())
    )
    out_dist = sorted(
        map(tuple, ing._apply_plan(headers, plan_dist).collect())
    )
    assert out_lit == out_dist


def test_scrambled_file_keeps_consolidation_shuffle(tmp_path, spark, monkeypatch):
    """A file whose trace order scatters across the chunk grid must keep
    the chunk-key exchange in distributed mode (direct write would explode
    file counts); the exchange moves header rows only. In driver mode the
    rows are sorted on the driver instead: no exchange, and each chunk
    directory holds at most one file per writer task (1 + the task
    boundaries inside the chunk). Both modes write the same store."""
    # the grid must span > DIRECT_WRITE_MAX_KEYS_PER_BLOCK chunk keys
    # (inline chunk = 128) or even a scrambled file fits one chunk and
    # direct is correctly chosen: 640 inlines = 5 inline chunks
    cells = _scrambled_cells(3, range(1, 641))
    path = _write(tmp_path / "scrambled.sgy", cells)

    captured = _capture_write_plan(monkeypatch)
    driver, distributed = ingest_both_header_modes(
        spark, path, str(tmp_path / "store"), _poststack_template(),
        header_spec=SPEC, block_size=10,
    )
    shuffled, local = captured  # distributed mode runs first
    assert shuffled["plan"].count("Exchange hashpartitioning") == 1
    _assert_header_rows_only(shuffled["outputs"])
    assert distributed["plan"][0] == "shuffle"
    assert distributed["plan"][1] > ing.DIRECT_WRITE_MAX_KEYS_PER_BLOCK
    assert len(driver["rows"]) == len(cells)

    _assert_driver_write_plan(local["plan"])
    _assert_header_rows_only(local["outputs"])
    writer_tasks = spark.sparkContext.defaultParallelism
    files = [
        len(names)
        for _, dirs, names in os.walk(tmp_path / "store" / "traces")
        if not dirs
    ]
    assert len(files) == 5 * 1  # 5 inline chunks x 1 crossline chunk
    assert max(files) <= writer_tasks, files


def test_header_modes_agree_on_ordered_file(tmp_path, spark, poststack_file):
    """The driver header pass and the Spark aggregates write the same
    store from the 10 x 10 grid-ordered file: manifest (dims, chunks,
    statsV1), dim tables, chunk-file schemas and every stored row; the
    distributed write plan is the direct one with one chunk key per scan
    block."""
    path, _ = poststack_file
    driver, distributed = ingest_both_header_modes(
        spark, path, str(tmp_path / "store"), _poststack_template(), header_spec=SPEC
    )
    assert distributed["plan"] == ("direct", 1)
    assert len(driver["rows"]) == 100
    assert driver["dims"]["inline"] == [(v, v - 1) for v in range(1, 11)]


def test_header_modes_agree_on_two_files(tmp_path, spark):
    """Two scrambled files whose second file starts mid-block (261 traces,
    block_size 7): both header modes count keys over PER-FILE blocks, and
    agree with the count taken here from the files' trace order. Each
    ``source_file`` exports byte-identically: the store writer mapped
    every global trace ordinal back to its own file."""
    from mdio_python_spark.pipelines.export import store_to_segy

    first = _scrambled_cells(4, range(1, 131)) + [{"inline": 131, "crossline": 1}]
    second = [{"inline": 131, "crossline": 2}] + _scrambled_cells(5, range(132, 261))
    paths = [
        _write(tmp_path / "a.sgy", first, seed=7),
        _write(tmp_path / "b.sgy", second, seed=8),
    ]
    driver, distributed = ingest_both_header_modes(
        spark, paths, str(tmp_path / "store"), _poststack_template(),
        header_spec=SPEC, block_size=7,
    )

    chunks = driver["manifest"]["chunks"]
    expect = max(
        len(
            {
                ((c["inline"] - 1) // chunks["inline"], (c["crossline"] - 1) // chunks["crossline"])
                for c in cells[lo : lo + 7]
            }
        )
        for cells in (first, second)
        for lo in range(0, len(cells), 7)
    )
    assert distributed["plan"][1] == expect
    for i, (src, cells) in enumerate(zip(paths, (first, second))):
        out = str(tmp_path / f"out{i}.sgy")
        assert store_to_segy(spark, str(tmp_path / "store"), out, source_file=i) == len(cells)
        with open(src, "rb") as a, open(out, "rb") as b:
            assert a.read() == b.read()


@pytest.mark.parametrize("case", ["sparse", "duplicate"])
def test_grid_errors_match_across_header_modes(tmp_path, spark, case):
    """Grid QC raises the same error with the same message in both header
    modes: the sparsity counts, and the smallest duplicated tuple in dim
    order with its count."""
    if case == "sparse":
        cells = [{"inline": i, "crossline": i} for i in range(1, 12)]
        err, want = ing.GridTraceSparsityError, "grid cells 121 vs traces 11"
    else:
        cells = [{"inline": il, "crossline": xl} for il in range(1, 5) for xl in range(1, 5)]
        cells.insert(3, {"inline": 3, "crossline": 2})
        cells.insert(9, {"inline": 2, "crossline": 4})
        cells.append({"inline": 2, "crossline": 4})
        err = ing.GridTraceCountError
        want = "duplicate dim tuple: {'inline': 2, 'crossline': 4, 'n_traces': 3}"
    path = _write(tmp_path / f"{case}.sgy", cells)
    with pytest.raises(err) as raised:
        ingest_both_header_modes(
            spark, path, str(tmp_path / "store"), _poststack_template(),
            header_spec=SPEC,
        )
    assert str(raised.value) == want
