"""One benchmark run inside the pinned environment that ``run.py`` sets up.

Set-up, the timed closed loop (one session, one client, no think time),
the DuckDB check after the loop, and the metrics. The result is written as
one JSON object to ``--result``; ``run.py`` prints it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import threading
import time
import traceback
import zlib
from contextlib import nullcontext
from dataclasses import dataclass

import py4j.clientserver
from duckdb_nsql_spark import connect, validate
from duckdb_nsql_spark.frontend import rewrites
from duckdb_nsql_spark.session import DuckSparkSession
from duckdb_nsql_spark.sources.warehouse import DurableWarehouse
from metrics import E2E_UNITS, LAYER_UNITS
from spans import Tracer
from workloads import WORKLOADS, engine_rows

T_SPAWN = float(os.environ["PERFBENCH_T0"])  # when run.py started this process
OP_DEADLINE_S = 30.0  # an op still running after this is cancelled and failed
LOOP_BUDGET_S = 110.0  # no round starts this long after process start


class ValidationFailed(RuntimeError):
    pass


@dataclass
class Outcome:
    ok: bool
    latency_s: float
    traced: bool
    error: str | None = None
    pdf: object = None
    schema: object = None
    rows: list | None = None


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile: a value that was measured."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def peak_rss_mb(spark) -> dict[str, float]:
    """VmHWM of this process and of the JVM it launched."""
    out = {}
    for name, pid in (("python", os.getpid()),
                      ("jvm", spark.sparkContext._gateway.proc.pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    out[name] = int(line.split()[1]) / 1024.0
    return out


def dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def live_bytes(root: str) -> int:
    """Bytes of the warehouse's current table versions."""
    total = 0
    for ent in DurableWarehouse(root).tables().values():
        v = ent["version"]
        for seg in v if isinstance(v, list) else [v]:
            total += sum(dir_files(os.path.join(root, ent["dir"], seg)).values())
    return total


class Runner:
    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload](args.data_dir, args.run_dir, args.sf)
        self.tracer = Tracer()
        self.ops = []
        self.outcomes: list[Outcome] = []
        self.bytes_written: list[int] = []
        self._group = None

    # ------------------------------------------------------------ set-up
    def setup(self) -> float:
        run_dir = self.args.run_dir
        con = connect(
            cpus=int(os.environ["SPARK_GRAFT_CPUS"]),
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark = con.spark
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("OFF")
        spark_s = time.time() - T_SPAWN
        catalog_s = []
        for k in range(self.wl.setups):
            t0 = time.perf_counter()
            self.con = self.wl.setup(self.spark, k)
            catalog_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for i, op in enumerate(self.wl.warmup(self.con)):
            self.run_op(op, f"warmup-{i}", traced=False)
        warm_s = time.perf_counter() - t0
        self.setup_detail = {"spark_s": spark_s, "catalog_s": catalog_s,
                             "warmup_s": warm_s}
        return spark_s + statistics.median(catalog_s) + warm_s

    # ---------------------------------------------------------- one op
    def _set_group(self, gid: str) -> None:
        self._group = gid
        self.sc.setJobGroup(gid, gid)

    def _cancel(self) -> None:
        if self._group is not None:
            self.sc.cancelJobGroup(self._group)

    def run_op(self, op, gid: str, traced: bool) -> Outcome:
        tr = self.tracer
        timer = threading.Timer(OP_DEADLINE_S, self._cancel)
        timer.start()
        out = Outcome(False, 0.0, traced)
        t0 = time.perf_counter()
        try:
            with tr.traced_op(len(self.ops)) if traced else nullcontext():
                self._set_group(f"{gid}-build")
                if self.wl.nsql_pipeline:
                    self.con.schema_text()  # the prompt's schema, per request
                    res = validate.validate_sql(self.con, op.sql)
                    if not res.ok:
                        raise ValidationFailed(f"{res.category}: {res.error}")
                with tr.span("session.build"):
                    df = self.wl.build(self.con, op)
                self._set_group(f"{gid}-fetch")
                with tr.span("spark.fetch"):
                    if df is not None:
                        out.pdf = df.toPandas()
                        out.schema = df.schema
            out.ok = True
        except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
            first = str(e).splitlines()[0][:200] if str(e) else ""
            out.error = f"{type(e).__name__}: {first}"
        finally:
            out.latency_s = time.perf_counter() - t0
            timer.cancel()
            self._group = None
        if out.latency_s >= OP_DEADLINE_S:
            out.ok = False
            out.error = out.error or "deadline exceeded"
        return out

    # ------------------------------------------------------------ loop
    def loop(self) -> float:
        """Runs whole rounds: as many as cover ``--seconds`` at the
        workload's nominal round time on a 4-core box. The work is fixed by
        the arguments, not by the clock, so every run of a seed has the same
        ops and the same state evolution, whatever the speed of the
        program."""
        rng = random.Random(self.args.seed)
        rounds = math.ceil(self.args.seconds / self.wl.round_s)
        if self.args.trace:
            # every op label runs traced in half the rounds and plain in the
            # other half, so the traced run needs an even number of rounds
            rounds += rounds % 2
            self._install_tracing()
        root = getattr(self.wl, "warehouse_dir", None)
        t0 = time.perf_counter()
        for r in range(rounds):
            if time.time() - T_SPAWN >= LOOP_BUDGET_S:
                break
            for op in self.wl.round(rng, r):
                i = len(self.ops)
                if self.args.ops and i >= self.args.ops:
                    break
                traced = bool(self.args.trace) and (
                    r + zlib.crc32(op.label.encode())) % 2 == 1
                before = dir_files(root) if traced and root else {}
                out = self.run_op(op, f"op{i}", traced)
                self.ops.append(op)
                self.outcomes.append(out)
                if traced:
                    after = dir_files(root) if root else {}
                    self.bytes_written.append(
                        sum(sz for p, sz in after.items() if p not in before))
        wall = time.perf_counter() - t0
        self.tracer.uninstall()
        return wall

    def _install_tracing(self) -> None:
        tr = self.tracer
        tr.wrap(rewrites, "rewrite_sql", "frontend.rewrite")
        tr.wrap(validate, "validate_sql", "validate.validate")
        tr.wrap(DuckSparkSession, "schema_text", "introspect.schema_text")
        for m in ("save_table", "append_table", "upsert_table"):
            tr.wrap(DurableWarehouse, m, "warehouse.commit")
        tr.wrap_py4j(py4j.clientserver.ClientServerConnection, "send_command")

    # ---------------------------------------------------------- metrics
    def e2e_metrics(self, setup_s: float, wall: float, rss: dict) -> dict:
        # A run has 42-60 ops, so p75 is the highest percentile with ten
        # samples beyond it. Rounds fix the op mix, so p50 and p75 fall at
        # the same place in it on every run (see README.md).
        lat = [1e3 * (o.latency_s if o.ok else max(o.latency_s, OP_DEADLINE_S))
               for o in self.outcomes]
        return {
            "setup_s": setup_s,
            "op_p50_ms": quantile(lat, 0.5),
            "op_p75_ms": quantile(lat, 0.75),
            "throughput_ops_s": sum(1 for o in self.outcomes if o.ok) / wall,
            "peak_rss_mb": sum(rss.values()),
        }

    def layer_metrics(self) -> dict:
        tr = self.tracer
        self._drain_listener_bus()
        tracker = self.sc.statusTracker()
        rows = []
        # label -> (plain latencies, traced latencies)
        by_label: dict[str, tuple[list, list]] = {}
        for i, (op, o) in enumerate(zip(self.ops, self.outcomes)):
            if not o.ok:
                continue
            by_label.setdefault(op.label, ([], []))[o.traced].append(
                1e3 * o.latency_s)
            if not o.traced:
                continue
            ms = tr.layer_ms(i)
            build_jobs = list(tracker.getJobIdsForGroup(f"op{i}-build"))
            jobs = build_jobs + list(tracker.getJobIdsForGroup(f"op{i}-fetch"))
            stages = tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else []:
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks + st.numFailedTasks:
                        stages += 1
                        tasks += st.numCompletedTasks + st.numFailedTasks
            rec = tr.ops[i]
            rows.append({
                "frontend.rewrite_ms": ms.get("frontend.rewrite", 0.0),
                "frontend.rewrite_calls": tr.count(i, "frontend.rewrite"),
                "validate.validate_ms": ms.get("validate.validate", 0.0),
                "introspect.schema_text_ms": ms.get("introspect.schema_text", 0.0),
                "session.build_ms": ms.get("session.build", 0.0),
                "session.build_self_ms": tr.self_ms(i, "session.build"),
                "session.build_jobs": len(build_jobs),
                "spark.fetch_ms": ms.get("spark.fetch", 0.0),
                "spark.jobs": len(jobs), "spark.stages": stages,
                "spark.tasks": tasks,
                "py4j.calls": rec.py4j_calls, "py4j.ms": 1e3 * rec.py4j_s,
                "warehouse.commit_ms": ms.get("warehouse.commit", 0.0),
            })
        m = {k: statistics.fmean(r[k] for r in rows) for k in rows[0]} if rows else {}
        m["warehouse.bytes_written_per_op"] = (
            statistics.fmean(self.bytes_written) if self.bytes_written else 0.0)
        root = getattr(self.wl, "warehouse_dir", None)
        files = dir_files(root) if root else {}
        m["warehouse.files_end"] = float(len(files))
        live = live_bytes(root) if root else 0
        m["warehouse.space_amp"] = sum(files.values()) / live if live else 0.0
        # traced minus plain median per op label, so the op mix of the two
        # halves does not enter the difference
        diffs = [statistics.median(t) - statistics.median(p)
                 for p, t in by_label.values() if p and t]
        m["trace.overhead_ms"] = statistics.median(diffs) if diffs else 0.0
        return {k: m.get(k, 0.0) for k in LAYER_UNITS}

    def _drain_listener_bus(self) -> None:
        """Job/stage status reaches the status tracker through Spark's
        asynchronous listener bus; let it catch up before reading."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
        except Exception:  # noqa: BLE001 — private API moved; fall back to a pause
            time.sleep(2.0)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--ops", type=int, default=0)
    ap.add_argument("--data-dir", default="")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out", required=True)
    args = ap.parse_args()

    runner = Runner(args)
    setup_s = runner.setup()
    wall = runner.loop()
    rss = peak_rss_mb(runner.spark)
    metrics = runner.layer_metrics() if args.trace else runner.e2e_metrics(
        setup_s, wall, rss)
    units = LAYER_UNITS if args.trace else E2E_UNITS

    for o in runner.outcomes:
        if o.ok and o.pdf is not None:
            o.rows = engine_rows(o.pdf, o.schema)
            o.pdf = None
    mismatched = runner.wl.oracle().check(runner.ops, runner.outcomes)
    for i in mismatched:
        runner.outcomes[i].ok = False
        runner.outcomes[i].error = "result differs from DuckDB"
    failed = sum(1 for o in runner.outcomes if not o.ok)
    errors: dict[str, int] = {}
    for op, o in zip(runner.ops, runner.outcomes):
        if not o.ok:
            key = f"{op.label}: {o.error}"
            errors[key] = errors.get(key, 0) + 1
    for key, n in sorted(errors.items()):
        print(f"failed x{n} {key}", file=sys.stderr)
    print(json.dumps({
        "setup": runner.setup_detail, "loop_wall_s": wall, "rss_mb": rss,
        "ops": [[op.label, op.kind, round(1e3 * o.latency_s, 1), o.ok]
                for op, o in zip(runner.ops, runner.outcomes)],
    }), file=sys.stderr)

    if args.trace:
        runner.tracer.dump(args.trace_out)
    result = {
        "correct": not mismatched,
        "attempted": len(runner.outcomes),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    runner.spark.stop()
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report set-up failures to run.py
        traceback.print_exc()
        sys.exit(1)
