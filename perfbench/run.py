#!/usr/bin/env python3
"""Benchmark entry point: one closed-loop run of one workload.

    python3 perfbench/run.py --workload nsql_loop --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The run pins its environment,
generates its input tables from the seeded generator in harness/gen_sf.py,
runs ``worker.py`` in a fresh directory under ``.perfbench/``, and prints
one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (see README.md). Everything else goes to standard
error. Without the engine sources next to ``perfbench/`` the run exits
with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# workload -> whether it reads the generated sf tables
WORKLOADS = {"nsql_loop": False, "olap_sf01": True, "dml_warehouse": True}
DEADLINE_S = 170.0  # the worker is killed this long after the run started
DRIVER_MEM = "2g"
PR_SET_CHILD_SUBREAPER = 36

# Spark logging off. An appender must exist, or Spark installs its own
# default profile at level WARN.
LOG4J2 = """\
rootLogger.level = off
rootLogger.appenderRef.stderr.ref = stderr
appender.stderr.type = Console
appender.stderr.name = stderr
appender.stderr.target = SYSTEM_ERR
appender.stderr.layout.type = PatternLayout
appender.stderr.layout.pattern = %m%n
"""


def sources_present() -> bool:
    need = ("duckdb_nsql_spark/__init__.py", "harness/gen_sf.py",
            "harness/oracle.py", "bench.py")
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in need)


def pinned_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    log_conf = os.path.join(run_dir, "log4j2.properties")
    with open(log_conf, "w") as fh:
        fh.write(LOG4J2)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_TABLE_FORMAT", None)  # durable tables: parquet
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYTHONHASHSEED": "0",
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={tmp} "
            f"-Dlog4j2.configurationFile=file:{log_conf}"),
    })
    return env


def generated_data(sf: float) -> str:
    """Tables of harness/gen_sf.py at ``sf``, generated once per checkout.
    The generator is seeded, so every run reads byte-identical tables."""
    out = os.path.join(STATE, f"data-sf{sf}")
    if not os.path.isdir(out):
        sys.path.insert(0, ROOT)
        from harness.gen_sf import generate

        tmp = tempfile.mkdtemp(prefix="data-", dir=STATE)
        with contextlib.redirect_stdout(sys.stderr):
            generate(sf, tmp)
        os.rename(tmp, out)
    return out


def stop_group(pgid: int) -> None:
    """Stop every process left in the worker's process group (the JVM) and
    reap it: orphans are reparented to this process, a child subreaper."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        with contextlib.suppress(ProcessLookupError):
            os.killpg(pgid, sig)
        end = time.time() + 10.0
        while time.time() < end:
            with contextlib.suppress(ChildProcessError):
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def failure_result(trace: int) -> dict:
    from metrics import E2E_UNITS, LAYER_UNITS

    units = LAYER_UNITS if trace else E2E_UNITS
    return {"correct": False, "attempted": 1, "failed": 1,
            "metrics": {k: {"value": 0.0, "unit": u} for k, u in units.items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="scale factor of the generated tables")
    ap.add_argument("--ops", type=int, default=0,
                    help="stop after this many ops (0: run for --seconds)")
    args = ap.parse_args()

    if not sources_present():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    t_start = time.time()
    # SIGTERM unwinds through the finally blocks: the worker's process
    # group is stopped and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=STATE)
    result_path = os.path.join(run_dir, "result.json")
    rc = None
    try:
        data_dir = generated_data(args.sf) if WORKLOADS[args.workload] else ""
        env = pinned_env(run_dir)
        env["PERFBENCH_T0"] = repr(time.time())
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf", str(args.sf), "--ops", str(args.ops),
            "--data-dir", data_dir, "--run-dir", run_dir,
            "--result", result_path,
            "--trace-out", os.path.join(
                STATE, "traces", f"{args.workload}-seed{args.seed}.json"),
        ]
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            print("perfbench: run exceeded its deadline", file=sys.stderr)
        finally:
            stop_group(proc.pid)
            proc.wait()
        if rc == 0 and os.path.exists(result_path):
            with open(result_path) as fh:
                result = json.load(fh)
        else:
            result = failure_result(args.trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
