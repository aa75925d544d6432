"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload of ``workloads.py`` in this process on ``local[nproc]``
with one closed-loop client. With ``--trace 0`` it prints the end-to-end
metrics; with ``--trace 1`` every op runs traced, and it prints the
per-layer metrics plus the tracer's own share of the op time
(``trace_overhead``). Both modes put ``round_rel`` on the detail line, so
a traced run compares with an untraced one of the same seed. Engine probes
taken between the timed stages of every op (``Ctx.between``) give
``round_rel`` its denominator. The last stdout line is the result object;
the line before it holds the detail metrics, environment and host stamps,
and a sidecar JSON with every op row is written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
import traceback
from pathlib import Path

import numpy as np

import metrics
import spans
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class Ctx:
    def __init__(self, seed: int, work: Path, nproc: int):
        self.seed = seed
        self.work = work
        self.nproc = nproc
        self.spark = None
        self.probes: list[float] = []

    def between(self) -> None:
        """Take one engine probe between two timed stages of an op, so the
        probes sample the host while the ops run."""
        self.probes.append(engine_probe_s(self.spark, self.nproc))


# ------------------------------------------------------------ environment


def _ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(work: Path) -> dict:
    """Fix everything the Spark session reads from the environment, before
    pyspark is imported, and keep every file it writes under ``work``."""
    nproc = len(os.sched_getaffinity(0))
    ram_mb = _ram_mb()
    driver_gb = max(1, min(4, ram_mb // 4096))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEMORY": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # the Python workers import the engine's kernels by module path
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }
    os.environ.update(env)
    import pyspark

    return {
        "nproc": nproc,
        "ram_mb": ram_mb,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        **{k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "PYTHONPATH")},
    }


# ------------------------------------------------------------ host health


def mem_touch_mb_s(n_bytes: int = 1 << 28) -> float:
    """First-touch page bandwidth: allocate and write fresh pages once."""
    t0 = time.perf_counter()
    a = np.empty(n_bytes // 8, dtype=np.float64)
    a[:] = 1.0
    dt = time.perf_counter() - t0
    del a
    return n_bytes / 1e6 / dt


def _tree_memory_kb(root_pid: int) -> dict[int, tuple[str, int, int]]:
    """``pid: (name, VmRSS, VmHWM)`` in KiB for ``root_pid`` and all its
    descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        fields = {}
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    key, _, value = line.partition(":")
                    if key in ("Name", "VmRSS", "VmHWM"):
                        fields[key] = value.split()
        except OSError:
            continue
        if "VmRSS" in fields:
            out[pid] = (fields["Name"][0], int(fields["VmRSS"][0]), int(fields["VmHWM"][0]))
    return out


class HostSampler(threading.Thread):
    """Samples the benchmark's process-tree memory and the 1-minute
    loadavg. ``peak_rss_kb`` is the largest summed RSS seen at one sample;
    ``hwm_kb`` keeps each process's own high-water mark, which the kernel
    records between samples too."""

    def __init__(self, period_s: float = 0.25):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.stop_event = threading.Event()
        self.peak_rss_kb = 0
        self.hwm_kb: dict[int, tuple[str, int]] = {}
        self.loads: list[float] = []

    def sample(self) -> None:
        tree = _tree_memory_kb(os.getpid())
        self.peak_rss_kb = max(self.peak_rss_kb, sum(rss for _, rss, _ in tree.values()))
        for pid, (name, _, hwm) in tree.items():
            self.hwm_kb[pid] = (name, max(hwm, self.hwm_kb.get(pid, (name, 0))[1]))
        self.loads.append(os.getloadavg()[0])

    def run(self) -> None:
        while not self.stop_event.is_set():
            self.sample()
            self.stop_event.wait(self.period_s)

    def stop(self) -> None:
        self.stop_event.set()
        self.join()

    def hwm_by_name_mb(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, hwm in self.hwm_kb.values():
            out[name] = out.get(name, 0.0) + hwm / 1024
        return out


def _identity_batches(batches):
    yield from batches


def engine_probe_s(spark, nproc: int) -> float:
    """Wall seconds of a fixed engine-only job: ``nproc`` partitions of
    ``spark.range`` through an identity ``mapInArrow`` into the noop sink.
    It runs no program code and no exchange, so it tracks the host's speed
    at that moment (CPU steal, frequency), not the program's."""
    df = spark.range(0, 1_000_000, numPartitions=nproc).selectExpr("id", "id * 3 AS x")
    t0 = time.perf_counter()
    df.mapInArrow(_identity_batches, df.schema).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# ------------------------------------------------------------ session


def start_session():
    from mdio_python_spark.session import get_spark

    return get_spark("perfbench")


def stop_session(spark) -> None:
    """Stop the context and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the JVM exits when the pipe on its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - the JVM must not outlive us
                proc.kill()
                proc.wait()


# ------------------------------------------------------------ measuring


def timed_loop(wl, seconds: float, seed: int, tracer) -> dict:
    """Closed loop, one client: run whole rounds until ``seconds`` pass.
    With a tracer every op runs traced."""
    rng = np.random.default_rng([seed, 1])
    rows, errors = [], []
    attempted = failed = 0
    t_start = time.perf_counter()
    for n_round, batch in enumerate(wl.rounds(rng)):
        for param in batch:
            attempted += 1
            try:
                row = wl.run_op(param, tracer)
            except workloads.CheckFailed as e:
                failed += 1
                errors.append(f"check: {e}")
                continue
            except Exception:  # noqa: BLE001 - count, report, continue
                failed += 1
                errors.append(traceback.format_exc(limit=4))
                continue
            row["round"] = n_round
            rows.append(row)
        if time.perf_counter() - t_start >= seconds:
            break
    return {
        "rows": rows,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "wall_s": time.perf_counter() - t_start,
    }


def _phase(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def run(args) -> int:
    if not (ROOT / "mdio_python_spark").is_dir():
        print(f"perfbench: no mdio_python_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out_dir.mkdir(exist_ok=True)
    sampler = HostSampler()
    sampler.start()
    ctx = Ctx(args.seed, work, 0)
    try:
        env = pin_environment(work)
        ctx.nproc = env["nproc"]
        host = {"mem_touch_start_mb_s": mem_touch_mb_s()}
        size = workloads.SIZES[args.size]
        wl = workloads.WORKLOADS[args.workload](ctx, size)

        setup: dict[str, float] = {}
        setup["session_s"], ctx.spark = _phase(start_session)
        input_reps = [_phase(wl.make_inputs)[0] for _ in range(3)]
        setup["inputs_s"] = float(np.median(input_reps))
        setup["prepare_s"], _ = _phase(wl.prepare)
        # the first probe starts the Python workers, outside every op; it is
        # kept as a stamp, not as a probe
        host["worker_start_s"] = engine_probe_s(ctx.spark, ctx.nproc)
        # a wrong check fails the run's correctness and counts as a failed
        # op, but the timed ops still run
        early_errors = []
        try:
            check_s, check = _phase(wl.check)
        except workloads.CheckFailed as e:
            check_s, check = 0.0, None
            early_errors.append(f"check: {e}")

        tracer = spans.Tracer(ctx.spark) if args.trace else None
        loop = timed_loop(wl, args.seconds, args.seed, tracer)
        host["engine_probe_s"] = ctx.probes
        sampler.sample()  # every high-water mark, before the session stops
        host["hwm_by_process_mb"] = sampler.hwm_by_name_mb()
        loop["attempted"] += 1  # the check
        loop["failed"] += len(early_errors)
        loop["errors"] = early_errors + loop["errors"]
        host["mem_touch_end_mb_s"] = mem_touch_mb_s()
    except Exception:  # noqa: BLE001 - setup failed: no result line
        traceback.print_exc()
        loop = None
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    if loop is None:
        return 1
    if not loop["rows"]:
        print("perfbench: every timed op failed:", *loop["errors"][:3], sep="\n", file=sys.stderr)
        return 1

    host["loadavg_1m_min"] = min(sampler.loads)
    host["loadavg_1m_max"] = max(sampler.loads)

    rows = loop["rows"]
    setup_s = sum(setup.values())
    rounds: dict[int, float] = {}
    for r in rows:
        rounds[r["round"]] = rounds.get(r["round"], 0.0) + r["latency_s"]
    round_s = float(np.median(list(rounds.values())))
    round_rel = round_s / float(np.median(host["engine_probe_s"]))
    detail = {
        "setup_s": (setup_s, "s"),
        "round_s": (round_s, "s"),
        "round_rel": (round_rel, "ratio"),
        "peak_rss_mb": (sampler.peak_rss_kb / 1024, "MB"),
        "error_rate": (loop["failed"] / loop["attempted"], "ratio"),
        **wl.summarize(rows),
    }
    e2e = {
        "setup_s": setup_s,
        "round_rel": round_rel,
        "peak_rss_mb": sampler.peak_rss_kb / 1024,
    }
    if args.trace:
        layer = wl.layer_metrics(rows)
        all_spans = [s for r in rows for s in wl.spans_of(r)]
        busy = sum(s["executor_run_s"] for s in all_spans)
        span_wall = sum(s["wall_s"] for s in all_spans)
        layer["session.core_busy"] = busy / (span_wall * ctx.nproc) if span_wall else 0.0
        # the tracer's own work runs inside the ops' clocks
        op_s = sum(r["latency_s"] for r in rows)
        layer["trace_overhead"] = tracer.overhead_s / (op_s - tracer.overhead_s)
        reported = metrics.fill_layers(layer)
    else:
        reported = metrics.fill_end_to_end(e2e)

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "size": args.size,
        "env": env,
        "host": host,
        "setup": setup,
        "check_s": check_s,
        "measure_wall_s": loop["wall_s"],
        "ops": len(rows),
        "detail": {k: {"value": v, "unit": u} for k, (v, u) in detail.items()},
        "errors": loop["errors"][:5],
    }
    sidecar = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    sidecar.write_text(
        json.dumps(
            {
                **info,
                "check": check,
                "end_to_end": e2e,
                "per_layer": reported if args.trace else None,
                "rows": rows,
            },
            indent=1,
            default=str,
        )
    )
    print(json.dumps(info, default=str))
    print(
        json.dumps(
            {
                "correct": loop["failed"] == 0,
                "attempted": loop["attempted"],
                "failed": loop["failed"],
                "metrics": reported,
            }
        ),
        flush=True,
    )
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(workloads.SIZES), default="full")
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
