"""The Python workers of the SEG-Y pivot import neither pandas nor pydantic.

A cold worker that imports pandas pays 0.3-0.45 s for it (pyarrow's pandas
shim loads it on the first ``Array.to_numpy()``, ``pa.array(...)``,
``RecordBatch.from_pydict`` or ``pq.read_table``), and one that unpickles a
module importing the dataset schema pays pydantic's import. The test runs a
small ingest (header scan and store writer) and a chunk-aligned export in a
fresh Spark session whose Python workers, and only they, load a
``sitecustomize`` that logs every attempt to import either package. The
log must stay empty. Logging, not blocking: pyarrow catches an
``ImportError`` of pandas and carries on, which would hide the import.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
WATCHED = ("pandas", "pydantic")

SITECUSTOMIZE = textwrap.dedent(
    """
    import os
    import sys

    _LOG = os.environ.get("MDIO_WORKER_IMPORT_LOG")


    class _ImportLogger:
        def find_spec(self, name, path=None, target=None):
            if name.split(".")[0] in {watched!r}:
                with open(_LOG, "a") as f:
                    f.write(f"{{os.getpid()}} {{name}}\\n")
            return None


    if _LOG:  # set for the Python workers only (spark.executorEnv)
        sys.meta_path.insert(0, _ImportLogger())
    """
).format(watched=WATCHED)

SCRIPT = textwrap.dedent(
    """
    import filecmp
    import os
    import sys

    from tests.segy_factory import make_poststack_3d

    from mdio_python_spark.pipelines.export import store_to_segy
    from mdio_python_spark.pipelines.ingest import segy_to_store
    from mdio_python_spark.schemas import default_registry
    from mdio_python_spark.session import get_spark

    tmp = sys.argv[1]
    spark = get_spark("worker-imports")
    path = os.path.join(tmp, "cube.sgy")
    make_poststack_3d(path, n_inline=12, n_crossline=9, n_samples=25, dead_fraction=0.1)
    template = default_registry().get("PostStack3DTime")
    clock = {}
    segy_to_store(spark, path, os.path.join(tmp, "store"), template, stage_clock=clock)
    out = os.path.join(tmp, "export.sgy")
    store_to_segy(spark, os.path.join(tmp, "store"), out, stage_clock=clock)
    assert filecmp.cmp(path, out, shallow=False)
    print("modes", clock["write_mode"], clock["export_encode_mode"])
    spark.stop()
    """
)


def test_pivot_workers_import_no_pandas_or_pydantic(tmp_path):
    site = tmp_path / "site"
    site.mkdir()
    (site / "sitecustomize.py").write_text(SITECUSTOMIZE)
    log = tmp_path / "imports.log"
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([str(site), str(REPO)]),
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.executorEnv.MDIO_WORKER_IMPORT_LOG={log} pyspark-shell"
        ),
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEMORY="1g",
    )
    run = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(tmp_path)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    # the run went through the scan, the direct-mode writer and the
    # chunk-aligned export
    assert "modes direct chunk_aligned" in run.stdout, run.stdout
    lines = log.read_text().splitlines() if log.exists() else []
    top = sorted({line.split()[1] for line in lines if "." not in line.split()[1]})
    assert not lines, f"Python workers imported {top}"
