"""The benchmark's workloads. Each times only calls into the program's public
functions; generation, checks and bookkeeping run outside the timed calls.

A workload object has:

- ``make_inputs()``: generates its inputs from the seed (setup);
- ``prepare()``: builds any state the ops read (setup);
- ``check()``: one correctness pass outside the timed ops;
- ``rounds(rng)``: yields lists of op parameters; the runner executes
  whole rounds until the measuring time is used up;
- ``run_op(param, tracer)``: one timed op; returns its sidecar row and
  raises ``CheckFailed`` when the op's own output is wrong. Between its
  timed stages it calls ``ctx.between()``, which takes an engine probe
  outside the op's clocks.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from contextlib import nullcontext

import numpy as np

import cube as cubegen
import spans
import tables as tablegen


class CheckFailed(Exception):
    """An op or check produced output that differs from the reference."""


def _median(xs):
    return float(np.median(xs)) if len(xs) else 0.0


def _span(tracer, layer: str, **attrs):
    """A tracer span, or a no-op context when running untraced."""
    if tracer is None:
        return nullcontext({})
    return tracer.span(layer, **attrs)


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


def _same_bytes(a: str, b: str, block: int = 8 << 20) -> bool:
    if os.path.getsize(a) != os.path.getsize(b):
        return False
    with open(a, "rb") as fa, open(b, "rb") as fb:
        while True:
            x, y = fa.read(block), fb.read(block)
            if x != y:
                return False
            if not x:
                return True


# ---------------------------------------------------------------- seismic


class SeismicRoundtrip:
    """Each op ingests a grid-ordered cube, exports the whole store,
    compares the export with the input byte for byte, then reads the new
    store three ways: one inline (a point read that prunes to one chunk
    directory), one crossline (crosses every inline chunk) and one
    null-completed ``dense_slice`` rectangle."""

    name = "seismic_roundtrip"
    KINDS = ("inline", "crossline", "rect")

    def __init__(self, ctx, size: dict):
        self.ctx = ctx
        self.shape = size["cube"]
        self.rect = size["rect"]
        self.segy = str(ctx.work / "roundtrip.sgy")
        self.store_path = str(ctx.work / "roundtrip_store")
        self.out = str(ctx.work / "roundtrip_export.sgy")

    def make_inputs(self) -> None:
        # dead cells make the grid sparse, so the rectangle has nulls to fill
        self.cube = cubegen.make_cube(self.ctx.seed, *self.shape, dead_fraction=0.03)
        self.segy_bytes = cubegen.write_segy(self.cube, self.segy)

    def prepare(self) -> None:
        from mdio_python_spark.schemas import default_registry

        self.template = default_registry().get("PostStack3DTime")

    def check(self) -> dict:
        self.expected = cubegen.expected_stats(self.cube)
        return {"expected_stats": self.expected}

    def _draw(self, rng) -> dict:
        n_il, n_xl, _ = self.shape
        h, w = self.rect
        il = int(rng.integers(1, n_il - h + 2))
        xl = int(rng.integers(1, n_xl - w + 2))
        return {
            "inline": {"inline": (int(rng.integers(1, n_il + 1)),) * 2},
            "crossline": {"crossline": (int(rng.integers(1, n_xl + 1)),) * 2},
            "rect": {"inline": (il, il + h - 1), "crossline": (xl, xl + w - 1)},
        }

    def rounds(self, rng):
        while True:
            yield [self._draw(rng)]

    def run_op(self, reads: dict, tracer) -> dict:
        from mdio_python_spark.pipelines.export import store_to_segy
        from mdio_python_spark.pipelines.ingest import segy_to_store
        from mdio_python_spark.sources import store

        spark = self.ctx.spark
        shutil.rmtree(self.store_path, ignore_errors=True)
        if os.path.exists(self.out):
            os.remove(self.out)
        ingest_clock: dict = {}
        export_clock: dict = {}
        t0 = time.perf_counter()
        with _span(tracer, "pipelines.ingest") as s_in:
            segy_to_store(
                spark, self.segy, self.store_path, self.template, stage_clock=ingest_clock
            )
        t1 = time.perf_counter()
        self.ctx.between()
        t2 = time.perf_counter()
        with _span(tracer, "pipelines.export") as s_out:
            n = store_to_segy(spark, self.store_path, self.out, stage_clock=export_clock)
        t3 = time.perf_counter()
        same = _same_bytes(self.segy, self.out)
        t4 = time.perf_counter()
        if not same or n != self.cube.n_traces:
            raise CheckFailed(f"export differs from input ({n} traces)")
        self.ctx.between()
        opened = store.open_store(spark, self.store_path)
        read_rows = [
            self._read(opened, kind, reads[kind], tracer) for kind in self.KINDS
        ]
        roundtrip_s = (t1 - t0) + (t4 - t2)
        store_bytes, files = _dir_bytes(self.store_path)
        expected = getattr(self, "expected", None)
        if expected is not None:
            with open(os.path.join(self.store_path, "manifest.json")) as f:
                stats = json.load(f)["dataset"]["variables"][0]["stats"]
            got = {k: stats[k] for k in expected}
            if got != expected:
                raise CheckFailed(f"statsV1 {got} != numpy {expected}")
        return {
            "latency_s": roundtrip_s + sum(r["latency_s"] for r in read_rows),
            "roundtrip_s": roundtrip_s,
            "ingest_s": t1 - t0,
            "export_s": t3 - t2,
            "compare_s": t4 - t3,
            "traces": n,
            "store_bytes": store_bytes,
            "files_written": files,
            "ingest_clock": ingest_clock,
            "export_clock": export_clock,
            # size-gated paths: a flip of any of these shows in the output
            "write_mode": ingest_clock.get("write_mode"),
            "max_chunk_keys_per_block": ingest_clock.get("max_chunk_keys_per_block"),
            "export_encode_mode": export_clock.get("export_encode_mode"),
            "export_concat_mode": export_clock.get("export_concat_mode"),
            "reads": read_rows,
            "spans": [s for s in (s_in, s_out) if s],
        }

    def _read(self, opened, kind: str, pred: dict, tracer) -> dict:
        from mdio_python_spark.sources import store

        t0 = time.perf_counter()
        with _span(tracer, "sources.store.plan", kind=kind) as s_plan:
            if kind == "rect":
                df = store.dense_slice(opened, self.ctx.spark, pred)
            else:
                df = store.slice_traces(opened, pred)
        t1 = time.perf_counter()
        with _span(tracer, "sources.store.exec", kind=kind) as s_exec:
            rows = df.collect()
        t2 = time.perf_counter()
        self._verify(kind, pred, rows)
        scan = spans.scan_metrics(df, "/traces") if tracer is not None else None
        self.ctx.between()
        return {
            "kind": kind,
            "predicate": {k: list(v) for k, v in pred.items()},
            "latency_s": t2 - t0,
            "plan_s": t1 - t0,
            "exec_s": t2 - t1,
            "rows": len(rows),
            "scan": scan,
            "spans": [s for s in (s_plan, s_exec) if s],
        }

    def _verify(self, kind: str, pred: dict, rows) -> None:
        """Row count, null completion and every returned trace's samples
        against the generator."""
        c = self.cube
        il0, il1 = pred.get("inline", (1, c.samples.shape[0]))
        xl0, xl1 = pred.get("crossline", (1, c.samples.shape[1]))
        cells = [(i, x) for i in range(il0, il1 + 1) for x in range(xl0, xl1 + 1)]
        n_live = sum(c.is_live(*cell) for cell in cells)
        want = len(cells) if kind == "rect" else n_live
        if len(rows) != want:
            raise CheckFailed(f"{kind} {pred}: {len(rows)} rows, expected {want}")
        got_live = 0
        for r in rows:
            if r["samples"] is None:
                if c.is_live(r["inline"], r["crossline"]):
                    raise CheckFailed(f"{kind}: live cell returned null")
                continue
            got_live += 1
            if not np.array_equal(
                np.asarray(r["samples"], dtype=np.float32),
                c.trace(r["inline"], r["crossline"]),
            ):
                raise CheckFailed(f"{kind}: samples differ at {r['inline']},{r['crossline']}")
        if got_live != n_live:
            raise CheckFailed(f"{kind}: {got_live} live rows, expected {n_live}")

    def summarize(self, rows: list[dict]) -> dict:
        mb = self.segy_bytes / 1e6
        reads = sorted(r["latency_s"] for op in rows for r in op["reads"])
        return {
            "roundtrip_s": (_median([r["roundtrip_s"] for r in rows]), "s"),
            "ingest_mb_s": (mb / _median([r["ingest_s"] for r in rows]), "MB/s"),
            "export_mb_s": (mb / _median([r["export_s"] for r in rows]), "MB/s"),
            "store_bytes_ratio": (rows[-1]["store_bytes"] / self.segy_bytes, "ratio"),
            "slice_p50_s": (_median(reads), "s"),
            "slice_p90_s": (float(np.percentile(reads, 90)), "s"),
            "slices_per_s": (len(reads) / sum(reads), "1/s"),
        }

    def layer_metrics(self, rows: list[dict]) -> dict:
        def med(group: str, key: str) -> float:
            return _median([r[group].get(key, 0.0) for r in rows])

        def span_med(layer: str, key: str) -> float:
            return _median(
                [s[key] for r in rows for s in r["spans"] if s["layer"] == layer]
            )

        reads = [r for op in rows for r in op["reads"]]
        returned = sum(r["rows"] for r in reads)
        out = {
            "sources.segy.header_scan_s": med("ingest_clock", "header_scan_s"),
            "pipelines.ingest.strategies_s": med("ingest_clock", "strategies_s"),
            "pipelines.ingest.grid_qc_s": med("ingest_clock", "grid_qc_s"),
            "pipelines.ingest.dim_tables_s": med("ingest_clock", "dim_tables_s"),
            "pipelines.ingest.write_plan_s": med("ingest_clock", "write_plan_s"),
            "sources.store.pivot_write_s": med("ingest_clock", "pivot_write_s"),
            "pipelines.export.encode_s": med("export_clock", "export_encode_s"),
            "pipelines.export.concat_s": med("export_clock", "export_concat_s"),
            "sources.store.files_written": _median([r["files_written"] for r in rows]),
            "sources.store.slice_plan_s": _median([r["plan_s"] for r in reads]),
            "sources.store.slice_exec_s": _median([r["exec_s"] for r in reads]),
            "sources.store.jobs_per_slice": _median(
                [sum(s["jobs"] for s in r["spans"]) for r in reads]
            ),
            "sources.store.tasks_per_slice": _median(
                [sum(s["tasks"] for s in r["spans"]) for r in reads]
            ),
            "sources.store.files_read_per_slice": _median(
                [r["scan"]["files"] for r in reads]
            ),
            "sources.store.rows_read_per_row_returned": (
                sum(r["scan"]["rows"] for r in reads) / returned if returned else 0.0
            ),
        }
        for kind in self.KINDS:
            out[f"sources.store.{kind}_p50_s"] = _median(
                [r["latency_s"] for r in reads if r["kind"] == kind]
            )
        for key in ("jobs", "stages", "tasks", "shuffle_write_mb", "executor_run_s", "gc_s"):
            out[f"pipelines.ingest.{key}"] = span_med("pipelines.ingest", key)
        for key in ("jobs", "stages", "tasks", "executor_run_s"):
            out[f"pipelines.export.{key}"] = span_med("pipelines.export", key)
        return out

    def spans_of(self, row: dict) -> list[dict]:
        return row["spans"] + [s for r in row["reads"] for s in r["spans"]]


# ---------------------------------------------------------------- queries

# Frozen query mix: one builder call plus noop sink per op, one pass per
# round. Each run pays a cold check pass with DuckDB oracles (which is also
# the warm-up) and a timed pass, so the mix is sized to 3-6 s per warm pass
# on four cores. It holds the ROADMAP's Arrow and single-task kernel
# targets whose oracles run in about a second, and one query from each
# other plans module; README.md lists what was left out and why.
QUERY_MIX = (
    "bpe_tokenized_docs",  # single-task BPE training kernel
    "bigram_lm_score",  # gram-multiset Arrow kernel
    "winnowing_fingerprints",  # winnowing Arrow kernel
    "events_sessions",  # plans.queries
    "soft_dedup_weights",  # plans.qc_queries
    "pii_density_by_source",  # plans.pipeline_queries
)
TOY_MIX = ("bpe_tokenized_docs", "events_sessions", "soft_dedup_weights")
PLAN_MODULES = ("queries", "llm_queries", "pipeline_queries", "qc_queries")


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _values_equal(a, b) -> bool:
    """Exact equality with NaN == None and no int/float coercion."""
    a_null = a is None or (isinstance(a, float) and math.isnan(a))
    b_null = b is None or (isinstance(b, float) and math.isnan(b))
    if a_null or b_null:
        return a_null and b_null
    if isinstance(a, float) != isinstance(b, float):
        return False
    return a == b


def oracle_mismatch(sdf, odf) -> str | None:
    """The oracle-parity rule: same row count, same column names, no
    int/float kind mismatch, and exactly equal values after sorting rows
    and columns. Returns a description of the first difference."""
    if len(sdf) != len(odf):
        return f"row count {len(sdf)} != oracle {len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"columns {sorted(sdf.columns)} != oracle {sorted(odf.columns)}"
    s, o = _canon(sdf), _canon(odf)
    for col in s.columns:
        kinds = {s[col].dtype.kind, o[col].dtype.kind}
        if "f" in kinds and kinds & {"i", "u"}:
            return f"{col}: dtype kind {s[col].dtype.kind} vs oracle {o[col].dtype.kind}"
    for col in s.columns:
        for i, (x, y) in enumerate(zip(s[col], o[col])):
            if not _values_equal(x, y):
                return f"{col}[{i}]: {x!r} != oracle {y!r}"
    return None


class CurationQueries:
    """Declared queries over generated tables: builder call + noop sink."""

    name = "curation_queries"

    def __init__(self, ctx, size: dict):
        self.ctx = ctx
        self.sf = size["sf"]
        self.mix = size["queries"]
        self.sf_dir = str(ctx.work / "tables")

    def make_inputs(self) -> None:
        self.row_counts = tablegen.generate(self.sf_dir, self.ctx.seed, self.sf)

    def prepare(self) -> None:
        from mdio_python_spark.plans.registry import registry

        reg = registry()
        self.specs = [reg[n] for n in self.mix]

    def check(self) -> dict:
        """Run every query to pandas and compare with its DuckDB oracle."""
        import duckdb

        from mdio_python_spark.sources.tables import TABLE_NAMES

        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            result = {}
            for spec in self.specs:
                sdf = spec.fn(self.ctx.spark, self.sf_dir).toPandas()
                self.ctx.spark.catalog.clearCache()
                if spec.oracle is None or spec.oracle.startswith("local:"):
                    result[spec.name] = f"rows-only ({len(sdf)} rows)"
                    continue
                bad = oracle_mismatch(sdf, con.execute(spec.oracle).df())
                if bad:
                    raise CheckFailed(f"{spec.name}: {bad}")
                result[spec.name] = f"exact ({len(sdf)} rows)"
            return {"oracle": result, "tables": self.row_counts}
        finally:
            con.close()

    def rounds(self, rng):
        while True:
            yield [self.specs[i] for i in rng.permutation(len(self.specs))]

    def run_op(self, spec, tracer) -> dict:
        module = spec.fn.__module__.rsplit(".", 1)[-1]
        layer = f"plans.{module}"
        t0 = time.perf_counter()
        with _span(tracer, layer, phase="build", query=spec.name) as s_build:
            df = spec.fn(self.ctx.spark, self.sf_dir)
        t1 = time.perf_counter()
        with _span(tracer, layer, phase="exec", query=spec.name) as s_exec:
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        self.ctx.spark.catalog.clearCache()
        self.ctx.between()
        return {
            "query": spec.name,
            "module": module,
            "eager": spec.eager,
            "latency_s": t2 - t0,
            "build_s": t1 - t0,
            "exec_s": t2 - t1,
            "spans": [s for s in (s_build, s_exec) if s],
        }

    def summarize(self, rows: list[dict]) -> dict:
        lat = [r["latency_s"] for r in rows]
        passes = len(rows) / len(self.specs)
        return {
            "mix_s": (sum(lat) / passes, "s"),
            "query_p50_s": (_median(lat), "s"),
            "query_p75_s": (float(np.percentile(lat, 75)), "s"),
        }

    def layer_metrics(self, rows: list[dict]) -> dict:
        passes = len(rows) / len(self.specs)
        out = {}
        for m in PLAN_MODULES:
            mine = [r for r in rows if r["module"] == m]
            spans_m = [s for r in mine for s in r["spans"]]

            def total(key, spans_m=spans_m):
                return sum(s[key] for s in spans_m) / passes

            out[f"plans.{m}.build_s"] = sum(r["build_s"] for r in mine) / passes
            out[f"plans.{m}.exec_s"] = sum(r["exec_s"] for r in mine) / passes
            out[f"plans.{m}.jobs"] = total("jobs")
            out[f"plans.{m}.stages"] = total("stages")
            out[f"plans.{m}.tasks"] = total("tasks")
            out[f"plans.{m}.executor_run_s"] = total("executor_run_s")
            out[f"plans.{m}.gc_s"] = total("gc_s")
            out[f"plans.{m}.shuffle_mb"] = total("shuffle_write_mb")
        return out

    def spans_of(self, row: dict) -> list[dict]:
        return row["spans"]


WORKLOADS = {w.name: w for w in (SeismicRoundtrip, CurationQueries)}

# Input sizes. "full" is what BENCHMARK.json runs; "toy" is the smoke size.
SIZES = {
    "full": {"cube": (256, 64, 128), "rect": (50, 16), "sf": 0.001, "queries": QUERY_MIX},
    "toy": {"cube": (72, 64, 128), "rect": (50, 16), "sf": 0.001, "queries": TOY_MIX},
}

# One line each, copied into BENCHMARK.json.
WHY = {
    "seismic_roundtrip": (
        "the SEG-Y/store pivot as a fresh session's first call: ingest, whole-store export, "
        "byte compare, then inline, crossline and null-completed rectangle reads of the new store"
    ),
    "curation_queries": (
        "declared curation queries, builder plus noop sink, over generated tables: "
        "many small jobs per query in the plans and operators layers, no seismic I/O"
    ),
}
