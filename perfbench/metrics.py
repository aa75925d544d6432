"""Every metric the benchmark reports, with its unit and, for per-layer
metrics, the end-to-end metric and workload it should move.

``END_TO_END`` is what ``--trace 0`` prints; every workload reports every
one of them. ``round_rel`` is the median round (the session's first
roundtrip-and-read cycle, or one warm pass over the query mix) divided
by the median engine probe taken between the round's stages, which
cancels host-speed drift between runs: on the 4-core VM used for sizing,
whole runs ran 1.8x faster in one hour than in another while
``round_rel`` moved by 2-3% (README.md). The raw ``round_s``
and the workload-specific figures (``DETAIL``) are printed on the line
before the result. ``PER_LAYER`` is what ``--trace 1`` prints; a
layer a workload does not reach reads 0, and the prediction for that
workload is no change. BENCHMARK.json lists the same names.
"""

from __future__ import annotations

ALL = ("seismic_roundtrip", "curation_queries")

# name: (unit, better, bound)
# Bounds are wide because host speed itself drifted on the 4-core VM used
# for sizing (README.md). peak_rss_mb spreads by 4-17% across seeds: the
# Python processes stay within 1%, the JVM's heap growth does not.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "round_rel": ("ratio", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

# name: (unit, workloads)
DETAIL = {
    "setup_s": ("s", ALL),
    "round_s": ("s", ALL),
    "round_rel": ("ratio", ALL),
    "peak_rss_mb": ("MB", ALL),
    "error_rate": ("ratio", ALL),
    "roundtrip_s": ("s", ("seismic_roundtrip",)),
    "ingest_mb_s": ("MB/s", ("seismic_roundtrip",)),
    "export_mb_s": ("MB/s", ("seismic_roundtrip",)),
    "store_bytes_ratio": ("ratio", ("seismic_roundtrip",)),
    "slice_p50_s": ("s", ("seismic_roundtrip",)),
    "slice_p90_s": ("s", ("seismic_roundtrip",)),
    "slices_per_s": ("1/s", ("seismic_roundtrip",)),
    "mix_s": ("s", ("curation_queries",)),
    "query_p50_s": ("s", ("curation_queries",)),
    "query_p75_s": ("s", ("curation_queries",)),
}

_INGEST = ("ingest_mb_s, roundtrip_s; check store_bytes_ratio and slice_p50_s too",
           "seismic_roundtrip")
_EXPORT = ("export_mb_s, roundtrip_s", "seismic_roundtrip")
_SLICE = ("slice_p50_s, slices_per_s", "seismic_roundtrip")

# name: (unit, end-to-end metric it should move, workload)
PER_LAYER = {
    "sources.segy.header_scan_s": ("s", *_INGEST),
    "pipelines.ingest.strategies_s": ("s", *_INGEST),
    "pipelines.ingest.grid_qc_s": ("s", *_INGEST),
    "pipelines.ingest.dim_tables_s": ("s", *_INGEST),
    "pipelines.ingest.write_plan_s": ("s", *_INGEST),
    "sources.store.pivot_write_s": ("s", *_INGEST),
    "pipelines.ingest.jobs": ("count", *_INGEST),
    "pipelines.ingest.stages": ("count", *_INGEST),
    "pipelines.ingest.tasks": ("count", *_INGEST),
    "pipelines.ingest.shuffle_write_mb": ("MB", *_INGEST),
    "pipelines.ingest.executor_run_s": ("s", *_INGEST),
    "pipelines.ingest.gc_s": ("s", *_INGEST),
    "pipelines.export.encode_s": ("s", *_EXPORT),
    "pipelines.export.concat_s": ("s", *_EXPORT),
    "pipelines.export.jobs": ("count", *_EXPORT),
    "pipelines.export.stages": ("count", *_EXPORT),
    "pipelines.export.tasks": ("count", *_EXPORT),
    "pipelines.export.executor_run_s": ("s", *_EXPORT),
    "sources.store.files_written": (
        "count", "store_bytes_ratio, slice_p90_s", "seismic_roundtrip"),
    "sources.store.slice_plan_s": ("s", *_SLICE),
    "sources.store.slice_exec_s": ("s", *_SLICE),
    "sources.store.jobs_per_slice": ("count", *_SLICE),
    "sources.store.tasks_per_slice": ("count", *_SLICE),
    "sources.store.files_read_per_slice": ("count", *_SLICE),
    "sources.store.rows_read_per_row_returned": ("ratio", *_SLICE),
    "sources.store.inline_p50_s": ("s", *_SLICE),
    "sources.store.crossline_p50_s": ("s", *_SLICE),
    "sources.store.rect_p50_s": ("s", *_SLICE),
}
for _m in ("queries", "llm_queries", "pipeline_queries", "qc_queries"):
    # the job-count floor: plan construction and jobs per pass of the mix
    for _k, _u in (("build_s", "s"), ("jobs", "count"), ("stages", "count"),
                   ("tasks", "count")):
        PER_LAYER[f"plans.{_m}.{_k}"] = (_u, "mix_s, query_p50_s", "curation_queries")
    # the operators.* kernel work the plans execute
    for _k, _u in (("exec_s", "s"), ("executor_run_s", "s"), ("gc_s", "s"),
                   ("shuffle_mb", "MB")):
        PER_LAYER[f"plans.{_m}.{_k}"] = (_u, "mix_s, query_p75_s", "curation_queries")
PER_LAYER["session.core_busy"] = (
    "ratio", "round_rel (low = cores idle while the driver plans)", "all")
PER_LAYER["trace_overhead"] = (
    "ratio", "none: tracer hook time / the rest of the op time", "all")


def fill_end_to_end(values: dict[str, float]) -> dict:
    return {n: {"value": values[n], "unit": u} for n, (u, _, _) in END_TO_END.items()}


def fill_layers(values: dict[str, float]) -> dict:
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return {n: {"value": values.get(n, 0.0), "unit": u} for n, (u, _, _) in PER_LAYER.items()}


def benchmark_json() -> dict:
    """The BENCHMARK.json document these catalogs describe."""
    from workloads import WHY

    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 2,
        "workloads": [{"name": n, "why": w} for n, w in WHY.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": "lower" if n != "session.core_busy" else "higher"}
            for n, (u, _, _) in PER_LAYER.items()
        ],
    }
