#!/usr/bin/env python3
"""Run one benchmark workload for one seed and print one JSON result line.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload live_ingest --seed 1 --seconds 12 --trace 0

The runner pins the environment (cores, driver memory, private local, temp
and warehouse dirs under ``.perfbench-work/`` in the checkout, UTC), starts
one ``local[nproc]`` session through the engine's own ``get_spark``, runs
the workload and stops the JVM before exiting. Spark's log goes to a file
in the work dir; its ERROR lines are counted. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The line before it
carries the run's environment and sample details.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "data_engineering_datawarehousingandetlpipeline_spark"
UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "round_s": "s",
    "rows_per_s": "rows/s",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("bytes_per_row"):
        return "bytes/row"
    if name.endswith(("keep_ratio", "coverage")):
        return "ratio"
    return "count"


def pin_environment(work: Path) -> dict:
    """Environment every run uses; returns what was pinned, for the record."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    driver_mb = max(1024, min(2048, total_mb // 8))
    tmp = work / "tmp"
    for d in (tmp, work / "local"):
        d.mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(tmp),
        TZ="UTC",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        PYSPARK_SUBMIT_ARGS=" ".join([
            # a fixed-size heap: no heap-growth ergonomics between runs; no
            # perf-data file in the system temp dir
            "--conf spark.driver.extraJavaOptions="
            f"'-Xms{driver_mb}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}'",
            f"--conf spark.sql.warehouse.dir={work / 'spark-warehouse'}",
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "pyspark-shell",
        ]),
    )
    time.tzset()
    return {"nproc": cpus, "driver_memory_mb": driver_mb, "host_memory_mb": total_mb}


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads as wl
    from perfbench.trace import Tracer

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench-work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = pin_environment(work)
    os.chdir(work)

    # Spark (and its JVM, which inherits fd 2) logs to a file; keep the
    # real stderr for our own diagnostics.
    log_path = work / "spark.log"
    real_stderr = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)

    spark = None
    try:
        from data_engineering_datawarehousingandetlpipeline_spark.session import get_spark

        tracer = Tracer() if args.trace else None
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        env.update(
            pyspark=spark.version,
            java=spark._jvm.java.lang.System.getProperty("java.version"),
        )
        if tracer:
            tracer.install()
        ctx = wl.Context(spark, work, args.seed, args.seconds, session_s,
                         cache=ROOT / ".perfbench-work" / "cache")
        outcome = wl.WORKLOADS[args.workload](ctx, tracer)
        if tracer:
            tracer.uninstall()
        rss = peak_rss_mb(jvm_pid)
        stop_spark(spark)
        spark = None
    except Exception:
        os.write(real_stderr, traceback.format_exc().encode())
        if spark is not None:
            stop_spark(spark)
        os.write(real_stderr, _log_tail(log_path).encode())
        return 1
    finally:
        os.dup2(real_stderr, 2)

    with open(log_path, errors="replace") as fh:
        errors = sum(1 for line in fh if re.match(r"^\S+ \S+ ERROR ", line))

    if args.trace:
        values = dict.fromkeys(wl.per_layer_names(), 0.0)
        values.update(outcome.metrics)
        values["session.start_s"] = session_s
        values["session.error_log_lines"] = errors
        metrics = {k: {"value": float(v), "unit": layer_unit(k)} for k, v in values.items()}
    else:
        values = dict(outcome.metrics, setup_s=outcome.setup_s, peak_rss_mb=rss)
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in UNITS.items()}
    info = dict(outcome.info, workload=args.workload, seed=args.seed,
                error_log_lines=errors, session_s=round(session_s, 3), **env)
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    shutil.rmtree(work, ignore_errors=True)
    return 0


def _log_tail(path: Path, lines: int = 40) -> str:
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-lines:])
    except OSError:
        return ""


if __name__ == "__main__":
    sys.exit(main())
