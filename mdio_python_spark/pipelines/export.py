"""Store -> SEG-Y export (SURVEY §3.3, ``src/mdio/converters/mdio.py:32-159``).

Spark shape: ``SELECT ... WHERE mask ORDER BY dims`` with
``repartitionByRange`` + per-partition encode + positional write of each
partition at its final offset (the flatten leg, K3/K4). Selection-mask
semantics (P3) are a semi-join; the bounding-box prune happens for free
via partition pruning on the chunk-key predicates Catalyst derives from
dim filters.
"""

from __future__ import annotations

import base64

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mdio_python_spark.operators import grid
from mdio_python_spark.sources import segy, store


class EmptySelectionError(ValueError):
    """Mask ∩ live traces is empty (``converters/mdio.py:108-113``)."""


def store_to_segy(
    spark: SparkSession,
    store_path: str,
    out_path: str,
    selection_mask: DataFrame | None = None,
    num_partitions: int | None = None,
    stage_clock: dict | None = None,
    source_file: int | None = None,
) -> int:
    """Export the store back to SEG-Y; returns the trace count written.

    Uses the verbatim ``raw_header`` column when present (byte-identical
    roundtrip); otherwise headers are re-encoded from dim/coord columns.
    A whole-store export in dim order (no mask, no ``source_file``, no
    ``num_partitions``) encodes each major chunk straight into the output
    (``segy.write_segy_store_aligned``); any other export range-partitions
    and composes local parts (``segy.write_segy``). Either way the output
    is written positionally through a temp file beside ``out_path``, so
    ``out_path`` must be a path every task can reach, like the store.

    ``source_file`` (multi-file stores, VERDICT r7 item 7): export only
    the traces ingested from constituent file ``i``, in that file's
    original trace order (the global ``src_trace_idx`` preserves it),
    under that file's verbatim raw file headers — the per-file
    byte-identical roundtrip of a merged-survey store.
    """
    st = store.open_store(spark, store_path)
    dims = st.spatial_dims
    traces = st.traces
    attrs = st.dataset.attributes

    file_rec = None
    if source_file is not None:
        files = attrs.get("sourceFiles") or []
        if not (0 <= source_file < len(files)):
            raise ValueError(
                f"source_file={source_file}: store has {len(files)} "
                "recorded source files"
            )
        file_rec = files[source_file]
        lo = int(file_rec["traceOffset"])
        hi = lo + int(file_rec["numTraces"])
        traces = traces.where(
            (F.col("src_trace_idx") >= lo) & (F.col("src_trace_idx") < hi)
        )

    if selection_mask is not None:
        traces = grid.live_filter(traces, selection_mask, dims)  # P3 semi-join
    # F7: verbatim file headers when the store has them (base64 attrs,
    # mirroring ``ingestion/segy/file_headers.py:45-53``); re-encode from
    # the modeled fields only as a fallback for stores without raw bytes.
    # A per-file export uses THAT file's recorded headers.
    hdr_src = file_rec if file_rec is not None else attrs
    raw_text = hdr_src.get("rawTextHeader")
    raw_binary = hdr_src.get("rawBinaryHeader")
    raw_ext = hdr_src.get("rawExtendedHeaders")
    write_spec = segy.SegyWriteSpec(
        samples_per_trace=next(
            d.size for d in st.dataset.dimensions if d.name == attrs["verticalDim"]
        ),
        sample_interval=attrs["sampleIntervalUs"],
        data_format=attrs.get("dataFormat", 5),
        measurement_system=attrs.get("binaryHeader", {}).get(
            "measurement_system", 1
        ),
        text_header=attrs.get("textHeader", ""),
        raw_text_header=base64.b64decode(raw_text) if raw_text else None,
        raw_binary_header=base64.b64decode(raw_binary) if raw_binary else None,
        raw_extended_headers=base64.b64decode(raw_ext) if raw_ext else None,
    )

    # Whole-store dim-ordered exports take the CHUNK-ALIGNED zero-shuffle
    # path when the layout qualifies (round 8): the major dim's chunk
    # dirs are disjoint ranges of the sort order, so each chunk encodes
    # independently and lands at its exact final offset — no
    # repartitionByRange sampling pass, no payload exchange, no shuffle
    # spill (the 30x stress leg exceeded the sandbox disk on
    # shuffle + parts + output before this path).
    # (an explicit num_partitions request selects the shuffle path — the
    # caller is steering part sizing, which the aligned layout fixes)
    if selection_mask is None and source_file is None and num_partitions is None:
        import os

        n_aligned = segy.write_segy_store_aligned(
            spark,
            os.path.join(store_path, "traces"),
            dims,
            write_spec,
            out_path,
            stage_clock=stage_clock,
        )
        if n_aligned is not None:
            if n_aligned == 0:
                raise EmptySelectionError("no live traces selected for export")
            return n_aligned

    n = traces.count()
    if n == 0:
        raise EmptySelectionError("no live traces selected for export")

    # per-file export reproduces the file's ORIGINAL trace order via the
    # global ordinal (dims order could differ when a file's acquisition
    # order isn't the grid order); whole-store export stays dim-ordered
    order_by = ["src_trace_idx"] if source_file is not None else dims
    cols = list(dict.fromkeys([*dims, *order_by, "samples"]))
    if "raw_header" in traces.columns:
        cols.append("raw_header")
    segy.write_segy(
        traces.select(*cols),
        out_path,
        order_by=order_by,
        write_spec=write_spec,
        num_partitions=num_partitions,
        n_rows=n,
        stage_clock=stage_clock,
    )
    return n
