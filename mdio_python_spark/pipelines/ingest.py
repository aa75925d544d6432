"""SEG-Y -> store ingestion: the flagship pipeline (SURVEY §3.1,
``src/mdio/ingestion/segy/pipeline.py:117-195``), re-expressed as two Spark
passes mirroring the reference's two passes:

1. header pass — a pruned scan of dims/coords; geometry detection
   (A3/A4) + index strategies (W1-W7) as broadcast-pure transforms. The
   trace count, exact from the file sizes before any job, gates the rest:
   - at or under ``HEADER_DRIVER_MAX_TRACES`` it is ONE job: a
     ``toArrow`` of every header column pass 2 stores, then driver numpy
     (the reference's own shape: ``np.unique`` per index field) for grid
     QC (A6/A7), the dim sizes and the dim tables (A2);
   - above it the scan is cached and ONE aggregate (each spatial dim's
     sorted distinct values) yields the dim sizes and the dim tables;
     sparsity is checked against the file-size trace count, one
     duplicate-tuple query names the smallest offender if there is one,
     then the write-plan job.
   Strategy detection aggregates run in Spark on either side, over the
   cached scan (cached in driver mode only when they run, and released
   right after the ``toArrow``).
2. trace pass — ONE ``mapInArrow`` store writer (``store.write_data``)
   over header rows sorted by (chunk keys, ``src_trace_idx``) reads each
   row's samples and raw header from the SEG-Y files and writes the chunk
   files with pyarrow; statsV1 folds its per-trace partials via
   ``observe()`` in the same job. Where the rows come from follows the
   header gate:
   - driver mode plans them on the driver, the way the reference ships
     its grid map to the trace workers (``segy/blocked_io.py:101-116``):
     the cell indices are the grid-QC ``np.unique`` inverses, the chunk
     keys their floor division, one ``np.lexsort`` orders the rows, and
     the sorted Arrow table becomes the writer's input
     (``MapInArrow`` over ``LocalTableScan``): no header cache, no join,
     no exchange, no sort;
   - distributed mode runs over the cached header table: strategies
     re-applied per-row from the broadcast plan, cell indices via
     broadcast joins against the literal dim tables, the chunk keys,
     (shuffle mode only) the chunk-key repartition of the header rows,
     and a sort within partitions.

Scale design: the sample payload never enters the JVM. Round 1 joined the
full payload to the header-pass assignment on ``src_trace_idx`` (a
100 TB sort-merge join) and shuffled it again on the chunk keys; later
rounds replayed every strategy per-row from tiny collected aggregates
(per-cable channel minima, per-line floor minima, per-line dense shot
maps) but still pushed the decoded samples through Spark's exchange and
parquet writer. Now only header rows move through Spark: the
``has_duplicates``/``non_binned`` ordinal window (row_number per dim tuple
in file order) and the chunk-key exchange shuffle ~100 bytes per trace,
and each writer task reads its traces' bytes straight from the files.

Driver stages (validate / file info / unit resolution / schema resolution)
stay plain Python, exactly like the reference's analyzer stages.
"""

from __future__ import annotations

import base64
import math
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from mdio_python_spark.functions.determinism import dsum
from mdio_python_spark.functions.scalars import apply_coordinate_scalar
from mdio_python_spark.operators import geometry, grid, index_transforms
from mdio_python_spark.schemas.dataset import (
    Coordinate,
    Dataset,
    NamedDimension,
    SummaryStatistics,
    UnitInfo,
    Variable,
)
from mdio_python_spark.schemas import chunking
from mdio_python_spark.schemas.dtypes import ScalarType
from mdio_python_spark.schemas.overrides import GridOverrides
from mdio_python_spark.schemas.resolver import ResolvedSchema, SchemaResolver
from mdio_python_spark.schemas.templates import AbstractDatasetTemplate
from mdio_python_spark.sources import segy, store
from mdio_python_spark.sources.segy import SegyFileInfo


COORD_SCALAR_FIELDS = frozenset(
    {"cdp_x", "cdp_y", "source_coord_x", "source_coord_y", "group_coord_x", "group_coord_y"}
)


class GridTraceCountError(ValueError):
    """Duplicate dim tuples (``converters/exceptions.py:13-23``)."""


class GridTraceSparsityError(ValueError):
    """Grid cells / traces beyond the error threshold
    (``ingestion/grid_qc.py:19-69``)."""


SPARSITY_WARN = 2.0
SPARSITY_ERROR = 10.0

# Above this many distinct (shot_line, shot_point) pairs the Type-A dense
# shot map is NOT collected into a driver literal: a literal lives whole in
# driver memory (the Arrow batches in Python, then the LocalRelation rows
# in the JVM) and is re-shipped with every plan that broadcasts it, so a
# multi-million-row map stays a distributed dense-rank table that the
# trace scan broadcast-joins.
SHOT_DENSE_LITERAL_MAX = 1_000_000

# Pivot-write mode gate of the distributed pass 2 (above the header gate;
# the driver-sorted pass 2 needs no exchange whatever the file order):
# when no scan block's rows span more than this many distinct chunk keys
# (measured on the cached header pass), the trace write skips the
# chunk-key exchange and each scan partition writes its own chunk files
# (see store.write_data). 4 keeps worst-case files per chunk directory at
# a handful while admitting the block/chunk boundary phase shifts of any
# genuinely grid-ordered file.
DIRECT_WRITE_MAX_KEYS_PER_BLOCK = 4

# Header-pass gate on the exact trace count (file sizes, no job): at or
# under it the stored header columns are collected with ONE toArrow, and
# grid QC, the dim tables and the sorted trace-pass rows are driver numpy
# (see segy_to_store). It is a driver-memory gate, not a speed gate.
# Header pass to the write plan, driver numpy vs the Spark aggregates,
# measured while the driver collected only the dim keys (4 cores, 4 GB
# heap at 1M, 6 GB above, int32 dims):
#   1M traces, 2 dims:  7.8 vs 14.1 s
#   1M traces, 4 dims:  7.7 vs 14.8 s
#   4M traces, 4 dims: 16.8 vs 32.4 s
#   10M traces, 2 dims: 20.6 vs 174 s (JVM peak 0.8 vs 4.4 GB)
# The driver now holds every stored header column (8 bytes each, as
# segy.trace_schema types them), the dim indices and, while the rows are
# sorted, a sorted copy. Growth of the driver Python RSS over the toArrow,
# grid QC, sort and createDataFrame (4 cores; long dims, 2 coordinates at
# 2 dims and 4 at 6, plus src_trace_idx and coordinate_scalar):
#   1M traces, 2 dims (6 columns):  165 MB; 2M: 328 MB
#   1M traces, 6 dims (12 columns): 313 MB; 2M: 621 MB
# 1M keeps a 6-dim pass under 384 MiB, the default floor of
# spark.driver.memoryOverhead, the non-JVM memory the Python driver gets
# in cluster mode; 2M no longer does. The sorted rows also pass through
# the driver JVM heap (192 bytes per trace at 6 dims) on their way to the
# writer tasks.
HEADER_DRIVER_MAX_TRACES = 1_000_000


@dataclass
class _StrategyPlan:
    """Driver-side record of every geometry decision + the tiny literal
    aux tables needed to replay the strategies per-row on any scan.

    Built once from the header pass; applied identically to the header
    DataFrame (for QC/dim tables) and the trace DataFrame (for cell
    assignment), so the two passes can never drift. All aux tables are
    literal in-memory DataFrames (collected agg results), so joining
    against them is a true broadcast with no re-scan of the source.
    """

    cable_min: DataFrame | None = None  # (cable, chan_min) — Type-B wrap
    shot_mode: str | None = None  # "floor" (Type B) | "dense" (Type A calc)
    num_guns: int = 1
    line_floor_min: DataFrame | None = None  # (shot_line, floor_min)
    shot_dense: DataFrame | None = None  # (shot_line, shot_point, shot_index)
    synthesize_component: bool = False
    dup_mode: str | None = None  # "duplicates" | "non_binned"
    dup_dims: list[str] = field(default_factory=list)


def _literal(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Collect a tiny DataFrame as Arrow and rebuild it as a ``LocalRelation``
    with the same schema (nullability included).

    Later joins against it never re-trigger the source scan, and the rows
    live in JVM driver memory: counting or collecting it runs no Spark job.
    Broadcast-joining it does not come free: each distinct literal a query
    broadcasts runs one job of ``defaultParallelism`` tasks, and the jobs
    are submitted together (4 cores: the bench ingest's two dim tables,
    256 and 64 rows, ran two 4-task jobs of 25-57 ms each, 5-15 ms apart,
    and so did a 10 x 9 grid's). Literals with the same rows share one
    broadcast through Spark's exchange reuse, whatever their column
    names: a 10 x 10 grid's two dim tables ran one job. Ingest pays such
    jobs only for the strategy literals and, above the header gate, for
    the distributed pass 2's dim-table joins; the driver-planned pass 2
    joins nothing. ``createDataFrame`` from a Python row list would
    instead ``parallelize`` into a multi-partition ``LogicalRDD``, which
    every use (count and collect included) scans with jobs of its own."""
    return spark.createDataFrame(df.toArrow(), schema=df.schema)


def _check_sparsity(grid_cells: int, num_traces: int) -> None:
    """A6: more than SPARSITY_ERROR grid cells per trace is an error."""
    if grid_cells > SPARSITY_ERROR * num_traces:
        raise GridTraceSparsityError(
            f"grid cells {grid_cells} vs traces {num_traces}"
        )


def _duplicate_error(cell: dict) -> GridTraceCountError:
    """A7: the error naming one duplicated dim tuple and its trace count."""
    return GridTraceCountError(f"duplicate dim tuple: {cell}")


def _grid_qc_spark(
    headers: DataFrame, spatial: list[str], num_traces: int
) -> dict[str, list]:
    """Grid QC (A6/A7) and the A2 dim values over the transformed headers:
    one aggregate of each dim's sorted distinct values (grid.dim_values;
    each set is bounded by its dim's cardinality, not by the trace count),
    sparsity checked against ``num_traces`` (exact from the file sizes:
    strategies never drop a row), then the duplicate query
    (grid.duplicate_cells), which names the smallest offender in dim
    order, as :func:`_grid_qc_arrow` does.

    A distinct-tuple count is not folded into the values aggregate: next
    to the ``collect_set``s, Spark plans that as an ObjectHashAggregate
    keyed by every distinct dim tuple, carrying set buffers per tuple.
    At 10M traces (2 dims, 4 cores) grid QC took 14.9 s with a 5.3 GB
    JVM peak that way, and 9.6 s with 3.3 GB this way."""
    qc = headers.agg(
        *[F.array_sort(F.collect_set(d)).alias(d) for d in spatial]
    ).collect()[0]
    values = {d: qc[d] for d in spatial}
    _check_sparsity(math.prod(len(v) for v in values.values()), num_traces)
    dupes = grid.duplicate_cells(headers, spatial).orderBy(*spatial).limit(1).collect()
    if dupes:
        raise _duplicate_error(dupes[0].asDict())
    return values


def _max_keys_per_block_spark(
    headers: DataFrame,
    dim_tables: dict[str, DataFrame],
    chunks: list[int],
    block_size: int,
    trace_offsets: list[int] | None,
) -> int:
    """The write-plan statistic as one aggregate over the cached headers:
    the most distinct chunk keys any scan block's traces fall in.
    ``trace_offsets`` is given for a multi-file ingest."""
    spatial = list(dim_tables)
    hk = headers
    for d in spatial:
        hk = hk.join(F.broadcast(dim_tables[d]), on=d, how="inner")
    hk = grid.chunk_keys(hk, spatial, chunks)
    # block ids are PER FILE: each file's scan blocks start at its
    # prefix-sum offset (generally not a block_size multiple), so a
    # global floor(idx / block_size) would straddle real scan-task
    # boundaries and mis-measure keys-per-block ~2x (ADVICE r8)
    file_off = (
        F.element_at(
            F.array(*[F.lit(o) for o in trace_offsets]),
            F.col("source_file").cast("int") + F.lit(1),
        )
        if trace_offsets is not None
        else F.lit(0)
    )
    block_id = ((F.col("src_trace_idx") - file_off) / F.lit(block_size)).cast(
        "long"
    )
    group_cols = (
        [F.col("source_file"), block_id] if trace_offsets is not None else [block_id]
    )
    return (
        hk.groupBy(*group_cols)
        .agg(F.countDistinct(*[f"{d}_chunk" for d in spatial]).alias("_nk"))
        .agg(F.max("_nk"))
        .collect()[0][0]
    ) or 0


def _grid_qc_arrow(
    keys: pa.Table, spatial: list[str]
) -> tuple[dict[str, np.ndarray], dict[str, np.ndarray]]:
    """Grid QC (A6/A7) over the collected header keys in numpy: each dim's
    sorted distinct values (the distributed path's
    ``array_sort(collect_set)``, as in the reference's per-field
    ``np.unique``) and every trace's 0-based index into them.

    Sparsity is checked before the cells are counted, so the flat cell
    index is at most SPARSITY_ERROR x the trace count and fits int64. A
    duplicate is named as the smallest duplicated tuple in dim order."""
    values: dict[str, np.ndarray] = {}
    idx: dict[str, np.ndarray] = {}
    for d in spatial:
        values[d], inv = np.unique(keys.column(d).to_numpy(), return_inverse=True)
        idx[d] = inv.reshape(-1)
    shape = tuple(len(values[d]) for d in spatial)
    _check_sparsity(math.prod(shape), keys.num_rows)
    cells, counts = np.unique(
        np.ravel_multi_index(list(idx.values()), shape), return_counts=True
    )
    if len(cells) != keys.num_rows:
        i = int(np.argmax(counts > 1))
        cell = np.unravel_index(cells[i], shape)
        raise _duplicate_error(
            {
                **{d: values[d][j].item() for d, j in zip(spatial, cell)},
                "n_traces": int(counts[i]),
            }
        )
    return values, idx


def _pass2_frame(
    spark: SparkSession,
    headers: pa.Table,
    header_schema: StructType,
    dim_idx: dict[str, np.ndarray],
    chunks: dict[str, int],
) -> DataFrame:
    """The driver-planned trace-pass frame from the sorted header columns
    and the row-aligned ``<dim>_idx`` arrays, plus the chunk keys
    ``idx // chunk``. Its columns, types and nullability are those the
    distributed pass 2 yields (each broadcast join ``on=<dim>`` moves that
    dim to the front and appends its non-null ``<dim>_idx``, then come the
    ``<dim>_chunk`` keys), so both header modes store the same chunk-file
    schema. Columns are shared, not copied; Spark stops reading an Arrow
    stream at an empty record batch, so the chunks are combined."""
    from pyspark.sql.pandas.types import to_arrow_schema

    fields = list(header_schema)
    for d in dim_idx:
        fields.remove(header_schema[d])
        fields.insert(0, header_schema[d])
    schema = StructType(
        fields
        + [StructField(f"{d}_idx", LongType(), nullable=False) for d in dim_idx]
        + [StructField(f"{d}_chunk", LongType()) for d in dim_idx]
    )
    cols = {name: headers.column(name) for name in headers.column_names}
    for d, idx in dim_idx.items():
        cols[f"{d}_idx"] = idx
        cols[f"{d}_chunk"] = idx // chunks[d]
    arrow = to_arrow_schema(schema)
    table = pa.table([cols[f.name] for f in arrow], schema=arrow).combine_chunks()
    return spark.createDataFrame(table, schema=schema)


def _build_strategy_plan(
    spark: SparkSession,
    headers: DataFrame,
    schema: ResolvedSchema,
    overrides: GridOverrides,
) -> _StrategyPlan:
    """Geometry detection (A3/A4) + aux-table collection
    (``index_strategies.py:205-299`` via ``header_analysis.py:82-191``).

    Detection aggregates run on the (cached) header scan; the driver-side
    classification picks which strategies actually fire:

    * ChannelWrapping: Type A (overlapping per-cable ranges) passes
      through; Type B collects per-cable channel minima for the rebase.
    * ShotWrapping: Type B (interleaved guns) floor-wraps with the
      detected per-line max gun count and the per-line floor minimum;
      Type A emits the dense per-line searchsorted map only for
      ``calculate_shot_index`` (``always_calculate`` analog).
    """
    plan = _StrategyPlan()
    if overrides.auto_channel_wrap:
        ranges = _literal(
            spark,
            geometry.channel_ranges(headers, "cable", "channel").select(
                F.col("cable").cast("long"),
                F.col("chan_min").cast("long"),
                "chan_max",
            ),
        )
        if geometry.detect_channel_geometry(ranges.collect()) == "B":
            plan.cable_min = ranges.drop("chan_max")
    if overrides.auto_shot_wrap or overrides.calculate_shot_index:
        analysis_df = geometry.gun_geometry_analysis(
            headers, "shot_line", "gun", "shot_point"
        )
        analysis = analysis_df.collect()
        from mdio_python_spark.operators.caching import release_cached

        release_cached(analysis_df)
        geom, num_guns = geometry.detect_gun_geometry(analysis)
        if geom == "B":
            plan.shot_mode, plan.num_guns = "floor", num_guns
            # ref subtracts the per-LINE min (index_strategies.py:287-291)
            plan.line_floor_min = _literal(
                spark,
                headers.groupBy("shot_line").agg(
                    F.min(
                        F.floor(F.col("shot_point") / F.lit(num_guns))
                    ).alias("floor_min")
                ),
            )
        elif overrides.calculate_shot_index:
            # Type A + always_calculate: searchsorted over per-line unique
            # shots (index_strategies.py:292-297) — as a tiny mapping table.
            # The reference collects this driver-side unconditionally
            # (np.unique + searchsorted); here a cardinality guard keeps
            # oversized maps distributed (identical output — pinned by
            # tests/test_ingest_plan.py::test_shot_dense_paths_identical).
            plan.shot_mode = "dense"
            pairs = headers.select("shot_line", "shot_point").distinct()
            if pairs.count() <= SHOT_DENSE_LITERAL_MAX:
                w = Window.partitionBy("shot_line").orderBy("shot_point")
                plan.shot_dense = _literal(
                    spark,
                    pairs.withColumn(
                        "shot_index",
                        (F.dense_rank().over(w) - F.lit(1)).cast("long"),
                    ),
                )
            else:
                # distinct pairs have unique shot_points per line, so
                # dense_rank == row_number == the two-phase group rank
                from mdio_python_spark.operators.ranking import group_ranked

                plan.shot_dense = group_ranked(
                    pairs,
                    ["shot_line"],
                    ["shot_point"],
                    scope="ingest.shot_dense",
                ).select(
                    "shot_line",
                    "shot_point",
                    (F.col("_rn") - F.lit(1)).cast("long").alias("shot_index"),
                )
        # else: Type A streamer — per-gun shots already dense; pass through
        # (index_strategies.py:279-280)
    if "component" in [d.name for d in schema.dimensions]:
        plan.synthesize_component = True
    spatial = [d for d in schema.spatial_dims if d != "trace"]
    if overrides.has_duplicates:
        plan.dup_mode, plan.dup_dims = "duplicates", spatial
    elif overrides.non_binned:
        plan.dup_mode, plan.dup_dims = "non_binned", spatial
    return plan


def _apply_plan(df: DataFrame, plan: _StrategyPlan) -> DataFrame:
    """Replay the strategy plan on any scan of the same file — per-row pure
    except the duplicate/non-binned ordinal, which is a genuine window
    (row_number per dim tuple in file order) and the one case that costs
    the applying pass an exchange."""
    out = df
    if plan.cable_min is not None:
        out = out.join(F.broadcast(plan.cable_min), "cable")
        out = out.withColumn(
            "channel", F.col("channel") - F.col("chan_min") + F.lit(1)
        ).drop("chan_min")
    if plan.shot_mode == "floor":
        out = out.join(F.broadcast(plan.line_floor_min), "shot_line")
        out = out.withColumn(
            "shot_index",
            (
                F.floor(F.col("shot_point") / F.lit(plan.num_guns))
                - F.col("floor_min")
            ).cast("long"),
        ).drop("floor_min")
    elif plan.shot_mode == "dense":
        out = out.join(F.broadcast(plan.shot_dense), ["shot_line", "shot_point"])
    if plan.synthesize_component:
        out = index_transforms.synthesize_component(out)
    if plan.dup_mode == "duplicates":
        out = index_transforms.duplicate_ordinal(
            out, dim_cols=plan.dup_dims, order_cols=["src_trace_idx"], out_col="trace"
        )
    elif plan.dup_mode == "non_binned":
        out = index_transforms.nonbinned_collapse(
            out, kept_dims=plan.dup_dims, order_cols=["src_trace_idx"], out_col="trace"
        )
    return out


def _apply_strategies(
    headers: DataFrame,
    schema: ResolvedSchema,
    overrides: GridOverrides,
    template: AbstractDatasetTemplate,
) -> DataFrame:
    """W1-W7 composition per the override flags, gated on geometry
    auto-detection (``index_strategies.py:371-459``) — build + apply in one
    step, for callers that only have the header table."""
    plan = _build_strategy_plan(
        headers.sparkSession, headers, schema, overrides
    )
    return _apply_plan(headers, plan)


class SegyFileMismatchError(ValueError):
    """Multi-file ingest requires every file to agree on the trace
    geometry/encoding fields that define one store (the reference's
    contract is single-file, ``src/mdio/segy/file.py:152-186``; the
    multi-file extension enforces what a merged survey must share)."""


# the S1 fields every file of a merged ingest must agree on — anything
# here differing would silently corrupt decode (format), the vertical
# axis (ns / interval) or the unit resolution
_MULTIFILE_CONSISTENT_FIELDS = (
    "samples_per_trace",
    "sample_interval",
    "data_format",
    "measurement_system",
    "extended_headers",
)


def _validate_multifile(infos: list[SegyFileInfo]) -> None:
    first = infos[0]
    for info in infos[1:]:
        for f in _MULTIFILE_CONSISTENT_FIELDS:
            if getattr(info, f) != getattr(first, f):
                raise SegyFileMismatchError(
                    f"{info.path}: {f}={getattr(info, f)!r} differs from "
                    f"{first.path}: {f}={getattr(first, f)!r}"
                )


def segy_to_store(
    spark: SparkSession,
    segy_path: str | list[str],
    store_path: str,
    template: AbstractDatasetTemplate,
    overrides: GridOverrides | None = None,
    header_spec: dict[str, tuple[int, str]] | None = None,
    block_size: int = 10_000,
    stage_clock: dict | None = None,
) -> Dataset:
    """Single- or MULTI-file ingest (VERDICT r7 item 7): ``segy_path``
    may be a list of SEG-Y paths — the 100-TB survey shape is a
    directory of shot/sail-line files merged into ONE store. Per-file S1
    info is validated for consistency (:class:`SegyFileMismatchError`),
    each file's traces enter the union scan with its trace ordinal
    offset folded into the GLOBAL ``src_trace_idx`` (prefix sums of the
    per-file counts, in argument order), and a ``source_file`` column
    records provenance so per-file export roundtrips stay byte-exact
    (``pipelines.export.store_to_segy(source_file=i)``). Everything
    downstream — strategies, grid QC, dim tables, the single chunk-key
    exchange — runs once over the union, exactly as for one big file."""
    import time as _time

    def _mark(key: str, t0: float) -> float:
        now = _time.perf_counter()
        if stage_clock is not None:
            stage_clock[key] = round(now - t0, 3)
        return now

    overrides = overrides or GridOverrides()
    schema = SchemaResolver().resolve(template, overrides)

    # S1 file info + unit resolution (driver)
    paths = [segy_path] if isinstance(segy_path, str) else list(segy_path)
    if not paths:
        raise ValueError("segy_to_store: at least one SEG-Y path required")
    infos: list[SegyFileInfo] = [segy.segy_file_info(p) for p in paths]
    _validate_multifile(infos)
    info = infos[0]
    multi = len(paths) > 1
    trace_offsets = [0]
    for fi in infos[:-1]:
        trace_offsets.append(trace_offsets[-1] + fi.num_traces)
    spatial_unit = "ft" if info.measurement_system == 2 else "m"

    # pass 1: header scan (S2) with column pruning (P1). Strategies declare
    # their own required header fields (``index_strategies.py:331-368``
    # re-validates per step) — union them into the pruned scan.
    strategy_fields: list[str] = []
    if overrides.auto_channel_wrap:
        strategy_fields += ["cable", "channel"]
    if overrides.auto_shot_wrap or overrides.calculate_shot_index:
        strategy_fields += ["shot_line", "gun", "shot_point"]
    fields = list(
        dict.fromkeys(
            [f for f in schema.required_fields() if f != "trace"] + strategy_fields
        )
    )
    scaled_coords = [f for f in fields if f in COORD_SCALAR_FIELDS]
    if scaled_coords and "coordinate_scalar" not in fields:
        fields = [*fields, "coordinate_scalar"]

    def scan() -> DataFrame:
        per_file = []
        for i, (fi, off) in enumerate(zip(infos, trace_offsets)):
            # one projection per file: the global trace ordinal, the
            # provenance column and F1, the coordinate scalar (negative =>
            # divide) on the physical coords
            cols = {"src_trace_idx": F.col("src_trace_idx") + F.lit(off)}
            if multi:
                cols["source_file"] = F.lit(i)
            for c in scaled_coords:
                cols[c] = apply_coordinate_scalar(F.col(c), F.col("coordinate_scalar"))
            per_file.append(
                segy.read_traces(
                    spark,
                    fi,
                    fields=fields,
                    include_samples=False,
                    block_size=block_size,
                    spec=header_spec,
                ).withColumns(cols)
            )
        df = per_file[0]
        for part in per_file[1:]:
            df = df.unionAll(part)
        return df

    # SEG-Y interleaves headers with samples, so every header-pass job is a
    # full-file read. The trace count is exact from the file sizes, so the
    # gate needs no job: at or under HEADER_DRIVER_MAX_TRACES ONE toArrow
    # of the stored header columns feeds driver numpy for grid QC, the dim
    # tables and the sorted pass-2 rows; above it those are Spark
    # aggregates and joins over the cached headers. The decoded header
    # table (~2% of payload) is cached only where it is read more than
    # once: by the strategy detection aggregates, or by the distributed
    # passes.
    num_traces = sum(fi.num_traces for fi in infos)
    driver_grid = num_traces <= HEADER_DRIVER_MAX_TRACES
    reread = not driver_grid or bool(strategy_fields)
    headers_raw = scan().persist() if reread else scan()
    if stage_clock is not None:
        stage_clock["header_mode"] = "driver" if driver_grid else "distributed"
    try:
        t0 = _time.perf_counter()
        if reread:
            # materialize the cache eagerly: dependent plans (detection
            # aggs, QC, dim tables) see MEASURED InMemoryRelation stats,
            # and the header-scan cost lands in its own stage clock
            headers_raw.count()
            t0 = _mark("header_scan_s", t0)
        plan = _build_strategy_plan(spark, headers_raw, schema, overrides)
        headers = _apply_plan(headers_raw, plan)
        spatial = schema.spatial_dims
        header_schema = headers.schema
        t0 = _mark("strategies_s", t0)

        if driver_grid:
            collected = headers.toArrow()
            if reread:
                headers_raw.unpersist()
            else:
                t0 = _mark("header_scan_s", t0)  # the toArrow is the scan
            dim_values, dim_idx = _grid_qc_arrow(collected, spatial)
        else:
            dim_values = _grid_qc_spark(headers, spatial, num_traces)
        dim_sizes = {d: len(dim_values[d]) for d in spatial}
        t0 = _mark("grid_qc_s", t0)

        # A2: dim tables built on the driver from the sorted values, in
        # Arrow; the store write stores them as dims/<dim>
        dims = {d: store.dim_table(header_schema[d], dim_values[d]) for d in spatial}

        # C2: template chunks clamped to budget/partition guards
        # (``core/utils_write.py:16-44``)
        template_chunks = {
            d.name: d.chunk
            for d in schema.dimensions
            if d.spatial or d.name == "trace"
        }
        chunks = chunking.ingest_chunks(
            dim_sizes,
            {d: template_chunks[d] for d in spatial},
            info.samples_per_trace,
        )
        chunk_cols = [f"{d}_chunk" for d in spatial]

        if driver_grid:
            # pass 2 planned on the driver: the rows sorted by (chunk keys,
            # src_trace_idx) in numpy become an Arrow frame, a
            # LocalRelation (contiguous defaultParallelism slices) under
            # spark.sql.execution.arrow.localRelationThreshold and a
            # LogicalRDD of arrowMaxRecordsPerBatch-row batches above it,
            # in order either way: each chunk directory gets at most one
            # file more than the writer-task boundaries inside it, with no
            # exchange whatever the file order. One np.lexsort orders the
            # rows by (chunk keys in dim order, src_trace_idx); rebinding
            # the sorted take frees the unsorted table before the sorted
            # one ships.
            order = np.lexsort(
                [collected.column("src_trace_idx").to_numpy()]
                + [dim_idx[d] // chunks[d] for d in reversed(spatial)]
            )
            collected = collected.take(order)
            for d in spatial:
                dim_idx[d] = dim_idx[d][order]
            del order
            traces = _pass2_frame(spark, collected, header_schema, dim_idx, chunks)
            del collected, dim_idx
            if stage_clock is not None:
                stage_clock["write_mode"] = "driver"
        else:
            dim_tables = {d: spark.createDataFrame(t) for d, t in dims.items()}
            t0 = _mark("dim_tables_s", t0)
            # Write mode (VERDICT r7 item 2): a grid-ordered file (the
            # poststack acquisition norm) gives O(1) chunk keys per scan
            # block, so each scan task writes its rows straight into the
            # chunk layout; a shot-scrambled file keeps the chunk-key
            # repartition (file-count explosion otherwise).
            chunk_list = [chunks[d] for d in spatial]
            per_block_keys = _max_keys_per_block_spark(
                headers, dim_tables, chunk_list, block_size,
                trace_offsets if multi else None,
            )
            direct_write = per_block_keys <= DIRECT_WRITE_MAX_KEYS_PER_BLOCK
            if stage_clock is not None:
                stage_clock["write_mode"] = "direct" if direct_write else "shuffle"
                stage_clock["max_chunk_keys_per_block"] = int(per_block_keys)
            # pass 2 over the cached header rows: J1 cell assignment by
            # broadcast joins against the literal dim tables, the chunk
            # keys, then (in shuffle mode) the chunk-key repartition, which
            # moves header rows only. Sorting each partition by (chunk
            # keys, src_trace_idx) hands the store writer each chunk's
            # traces as contiguous file runs, whatever the overrides or
            # the write mode.
            traces = headers
            for d in spatial:
                traces = traces.join(F.broadcast(dim_tables[d]), on=d, how="inner")
            traces = grid.chunk_keys(traces, spatial, chunk_list)
            if not direct_write:
                # an explicit partition count: AQE would coalesce a
                # by-column repartition of these small header rows into
                # one writer task
                n_keys = math.prod(-(-dim_sizes[d] // chunks[d]) for d in spatial)
                shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
                traces = traces.repartition(min(n_keys, shuffle_parts), *chunk_cols)
            traces = traces.sortWithinPartitions(*chunk_cols, "src_trace_idx")
        t0 = _mark("write_plan_s", t0)

        # stored columns: the header columns, with the payload where the
        # scan decodes it (after the decoded fields, segy.trace_schema)
        stored = [c for c in traces.columns if c not in chunk_cols]
        scanned = {"src_trace_idx", *fields}
        at = max(i for i, c in enumerate(stored) if c in scanned) + 1
        stored[at:at] = list(store.PAYLOAD_COLUMNS)

        # the writer tasks read the samples and raw headers from the SEG-Y
        # files themselves and return per-trace statsV1 partials, folded
        # by observe() in the write job — the Spark analog of the
        # reference accumulating stats in its trace workers
        # (``segy/_workers.py:179-194``). scale=7: seismic amplitudes are
        # O(1), so 1e-7 quantization keeps exact-decimal determinism while
        # matching float64 stats to ~1e-8.
        srow = store.write_data(
            traces,
            dims,
            store_path,
            chunks,
            stored,
            infos,
            metrics=[
                F.sum("n_nz").alias("count"),
                F.min("s_min").alias("min"),
                F.max("s_max").alias("max"),
                dsum("s_sum", 7).alias("sum"),
                dsum("s_ssq", 7).alias("sum_squares"),
            ],
        )
        _mark("pivot_write_s", t0)
    finally:
        headers_raw.unpersist()

    count = srow["count"] or 0
    summary = SummaryStatistics(
        count=count,
        sum=srow["sum"] or 0.0,
        sum_squares=srow["sum_squares"] or 0.0,
        min=srow["min"] if count else 0.0,
        max=srow["max"] if count else 0.0,
    )

    # dataset document
    dataset = Dataset(
        name=template.name,
        dimensions=[NamedDimension(name=d, size=dim_sizes[d]) for d in spatial]
        + [
            NamedDimension(
                name=schema.dimensions[-1].name, size=info.samples_per_trace
            )
        ],
        coordinates=[
            Coordinate(
                name=c.name,
                dimensions=c.dimensions,
                data_type=c.data_type,
                unit=UnitInfo(unit=spatial_unit),
            )
            for c in schema.coordinates
            if c.name in header_schema.fieldNames()
        ],
        variables=[
            Variable(
                name=schema.default_variable_name,
                dimensions=[*spatial, schema.dimensions[-1].name],
                data_type=ScalarType.FLOAT32,
                chunks=[chunks[d] for d in spatial]
                + [schema.dimensions[-1].chunk],
                stats=summary,
            ),
            Variable(
                name="headers",
                dimensions=list(spatial),
                data_type=ScalarType.V240,
            ),
        ],
        attributes={
            "spatialDims": spatial,
            "verticalDim": schema.dimensions[-1].name,
            "defaultVariableName": schema.default_variable_name,
            "textHeader": info.text_header,
            "binaryHeader": info.binary_header,
            # F7: verbatim file headers, base64 like the reference
            # (``ingestion/segy/file_headers.py:45-53``) — export writes
            # these as-is so unmodeled bytes survive roundtrip
            "rawTextHeader": base64.b64encode(info.raw_text_header).decode(
                "ascii"
            ),
            "rawBinaryHeader": base64.b64encode(info.raw_binary_header).decode(
                "ascii"
            ),
            "rawExtendedHeaders": base64.b64encode(
                info.raw_extended_headers
            ).decode("ascii"),
            "extendedHeaders": info.extended_headers,
            "sampleIntervalUs": info.sample_interval,
            "dataFormat": info.data_format,
            "gridOverrides": overrides.model_dump(mode="json"),
            "sourcePath": paths[0],
            # multi-file provenance: per-file raw headers + ordinal
            # layout so store_to_segy(source_file=i) can rebuild each
            # constituent file byte-identically
            **(
                {
                    "sourcePaths": paths,
                    "sourceFiles": [
                        {
                            "path": fi.path,
                            "numTraces": fi.num_traces,
                            "traceOffset": off,
                            "rawTextHeader": base64.b64encode(
                                fi.raw_text_header
                            ).decode("ascii"),
                            "rawBinaryHeader": base64.b64encode(
                                fi.raw_binary_header
                            ).decode("ascii"),
                            "rawExtendedHeaders": base64.b64encode(
                                fi.raw_extended_headers
                            ).decode("ascii"),
                        }
                        for fi, off in zip(infos, trace_offsets)
                    ],
                }
                if multi
                else {}
            ),
        },
    )
    store.write_manifest(dataset, store_path, chunks)
    return dataset
