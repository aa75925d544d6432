"""Run one SEG-Y ingest in both header modes and check they agree.

``pipelines.ingest`` runs grid QC, the dim tables and the sorted trace-pass
rows in driver numpy at or under ``HEADER_DRIVER_MAX_TRACES`` traces and as
Spark aggregates and joins above it. Test files are far under the gate, so
the Spark side is reached by patching the gate to -1.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from mdio_python_spark.pipelines import ingest as ing
from mdio_python_spark.sources.store import open_store

GRID_ERRORS = (ing.GridTraceCountError, ing.GridTraceSparsityError)


def _file_schemas(root: str) -> set[tuple]:
    """The distinct Arrow schemas of the parquet files under ``root``, as
    (name, type, nullable) per column in file order."""
    return {
        tuple(
            (f.name, str(f.type), f.nullable)
            for f in pq.read_schema(os.path.join(parent, name))
        )
        for parent, _, files in os.walk(root)
        for name in files
        if name.endswith(".parquet")
    }


def _store_facts(spark, store_path: str, clock: dict) -> dict:
    st = open_store(spark, store_path)
    with open(os.path.join(store_path, "manifest.json")) as f:
        manifest = json.load(f)
    manifest["dataset"].pop("created_on")
    return {
        "header_mode": clock["header_mode"],
        # driver mode sorts on the driver and has no keys-per-block statistic
        "plan": (clock["write_mode"], clock.get("max_chunk_keys_per_block")),
        "chunk_schemas": _file_schemas(os.path.join(store_path, "traces")),
        "dim_schemas": {
            d: _file_schemas(os.path.join(store_path, "dims", d)) for d in st.dims
        },
        "manifest": manifest,
        "dims": {
            d: [tuple(r) for r in st.dims[d].orderBy(f"{d}_idx").collect()]
            for d in sorted(st.dims)
        },
        "rows": [r.asDict() for r in st.traces.orderBy("src_trace_idx").collect()],
    }


def ingest_both_header_modes(spark, segy_path, store_path: str, template, **kw):
    """Ingest with the Spark aggregates (gate at -1) into
    ``<store_path>_distributed``, then with the driver numpy pass at the
    module's gate into ``store_path``. Both must write the same store
    (manifest, dim tables, every row, and the Arrow schemas of the chunk
    files and of ``dims/*``: column order, types and nullability) or raise
    the same grid QC error with the same message, which is then re-raised.
    The write plan is each mode's own: ``("driver", None)`` in driver mode.
    Returns the facts of each store as ``(driver, distributed)``."""
    facts = {}
    for mode, gate in (("distributed", -1), ("driver", None)):
        path = store_path if mode == "driver" else f"{store_path}_distributed"
        clock: dict = {}
        with pytest.MonkeyPatch.context() as mp:
            if gate is not None:
                mp.setattr(ing, "HEADER_DRIVER_MAX_TRACES", gate)
            try:
                ing.segy_to_store(
                    spark, segy_path, path, template, stage_clock=clock, **kw
                )
            except GRID_ERRORS as exc:
                facts[mode] = exc
                continue
        facts[mode] = _store_facts(spark, path, clock)
        assert facts[mode]["header_mode"] == mode
    driver, distributed = facts["driver"], facts["distributed"]
    if isinstance(driver, Exception) or isinstance(distributed, Exception):
        assert (type(driver), str(driver)) == (type(distributed), str(distributed))
        raise driver
    assert driver["plan"] == ("driver", None)
    assert len(driver["chunk_schemas"]) == 1, driver["chunk_schemas"]
    for key in ("chunk_schemas", "dim_schemas", "manifest", "dims", "rows"):
        assert driver[key] == distributed[key], key
    return driver, distributed
