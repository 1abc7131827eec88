"""Benchmark entry point: one workload, one fresh JVM, one JSON result.

    python3 perfbench/run.py --workload invoice_ingest --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench/work-<pid>/`` (removed at exit); span dumps and the
full diagnostics of each run are kept under ``.perfbench/runs/``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps the
layers' public functions, turns Spark's event log on and prints the
per-layer metrics instead. The last stdout line is the result object:
``{"correct", "attempted", "failed", "metrics"}``. See README.md.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import glob  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"invoice_ingest": "ingest", "corpus_dedup": "corpus"}

import eventlog  # noqa: E402
from spans import Tracer, self_times  # noqa: E402

# span name -> per-layer metric reporting that layer's self time per op
SELF_TIME = {
    "sources.load_table": "sources.load_table_s",
    "sources.read_invoice_csv": "sources.read_invoice_csv_s",
    "operators.construct": "operators.construct_self_s",
    "barrier.materialization_barrier": "barrier.s",
    "operators.build_receipts": "operators.build_receipts_s",
    "spark.action": "spark.action_s",
    "sinks.land_raw_files": "sinks.land_raw_files_s",
    "sinks.write_receipts_parquet": "sinks.write_receipts_s",
    "sinks.drain_webhook_outbox": "sinks.drain_outbox_s",
    "sinks.manifest.commit": "sinks.manifest.commit_s",
    "sinks.manifest.lock_acquire": "sinks.manifest.lock_wait_s",
    "sinks.read_receipts": "sinks.read_receipts_s",
    "op": "trace.unattributed_s",
}
# span name -> per-layer metric counting that layer's calls per op
CALLS = {
    "sources.load_table": "sources.load_table_calls",
    "barrier.materialization_barrier": "barrier.calls",
    "sinks.manifest.commit": "sinks.manifest.commits",
}
# metrics a workload fills in itself; 0 where the layer is not touched
WORKLOAD_LAYERS = (
    "sinks.webhook.posts",
    "sinks.webhook.delivered_ratio",
    "sinks.lake_segments",
    "sinks.lake_read_p50_s",
    "sinks.lake_bytes_per_input_byte",
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load_per_cpu() -> float:
    return round(os.getloadavg()[0] / nproc(), 3)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class Run:
    """State of one benchmark run, shared with the workload module."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.tracer = Tracer(enabled=self.traced)
        self.work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
        self.out = os.path.join(ROOT, ".perfbench", "runs")
        self.spark = None
        self.jvm = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_times: list[float] = []
        self.first_op_at: float | None = None
        self.layers: dict[str, float] = {}
        self.diag: dict = {}

    def mark(self, phase: str) -> None:
        """Record the wall time since process start at the end of a
        set-up phase (diagnostics only)."""
        self.diag.setdefault("setup_marks_s", {})[phase] = round(
            time.time() - T0, 3)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def record(self, ok: bool, what: str = "") -> None:
        """Count one operation; a failed check or an error fails it."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what[:500])

    def group(self, name: str) -> None:
        """Job group for the Spark jobs that follow, ``<op>:<phase>``."""
        self.spark.sparkContext.setJobGroup(name, name)

    def start_spark(self):
        from fintech_etl_spark import session

        tmp = self.path("tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        # traced runs record this call through the patched function
        self.spark = session.build_session("perfbench", extra_conf=conf)
        self.jvm = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.mark("session")
        return self.spark

    def loop(self, step, min_ops: int = 1) -> None:
        """Closed loop, one client: run ``step(i)`` until ``seconds`` have
        passed since the first timed operation and at least ``min_ops``
        operations ran, so the count of timed operations does not flip
        with small speed changes."""
        self.first_op_at = time.time()
        i = 0
        while i < min_ops or time.time() - self.first_op_at < self.seconds:
            step(i)
            i += 1

    def peak_rss_mb(self) -> float:
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        if self.jvm is not None:
            with open(f"/proc/{self.jvm.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        return kb / 1024.0

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        # Spark's Python workers are re-parented once the JVM exits, so
        # take their pids while they are still this process's descendants
        workers = [p for p in _descendants() if p != getattr(self.jvm, "pid", None)]
        self.spark.stop()
        gateway.shutdown()
        if self.jvm is not None:
            self.jvm.stdin.close()
            self.jvm.wait(timeout=60)
        self.spark = None
        _wait_gone(workers)


def _descendants() -> list[int]:
    """Live descendants of this process."""
    parent: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            parent[int(stat.split("/")[2])] = int(fields[1])
    me, out = os.getpid(), []
    for pid in parent:
        p = pid
        while p in parent and p != me:
            p = parent[p]
        if p == me and pid != me:
            out.append(pid)
    return out


def _alive(pids: list[int]) -> list[int]:
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                    out.append(pid)
        except OSError:
            pass
    return out


def _wait_gone(pids: list[int], grace: float = 15.0) -> None:
    """Wait for ``pids`` to exit; terminate any that outlive ``grace``."""
    deadline = time.time() + grace
    while _alive(pids) and time.time() < deadline:
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _alive(pids):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        end = time.time() + 5
        while _alive(pids) and time.time() < end:
            time.sleep(0.1)


def patch_layers(tracer: Tracer) -> None:
    """Wrap the public functions each per-layer metric is measured at."""
    # cli is imported first so its import-time bindings get rebound too
    from fintech_etl_spark import barrier, cli, registry, session  # noqa: F401
    from fintech_etl_spark.operators import receipts as ops_receipts
    from fintech_etl_spark.sinks import landing, manifest
    from fintech_etl_spark.sinks import receipts as sink_receipts
    from fintech_etl_spark.sources import invoice_csv, tables

    registry.queries()  # imports every operator module, binding its names
    tracer.patch(session, "build_session", "session.build_session")
    tracer.patch(tables, "load_table", "sources.load_table")
    tracer.patch(invoice_csv, "read_invoice_csv", "sources.read_invoice_csv")
    tracer.patch(barrier, "materialization_barrier",
                 "barrier.materialization_barrier")
    tracer.patch(ops_receipts, "build_receipts", "operators.build_receipts")
    tracer.patch(landing, "land_raw_files", "sinks.land_raw_files")
    tracer.patch(sink_receipts, "write_receipts_parquet",
                 "sinks.write_receipts_parquet")
    tracer.patch(sink_receipts, "drain_webhook_outbox",
                 "sinks.drain_webhook_outbox")
    tracer.patch(sink_receipts, "read_receipts", "sinks.read_receipts")
    tracer.patch(manifest, "commit", "sinks.manifest.commit")
    tracer.patch_method(manifest.FileLockProvider, "acquire",
                        "sinks.manifest.lock_acquire")


def _measured(group: str) -> bool:
    return group.startswith("m")


def layer_metrics(run: Run, events: dict) -> dict[str, float]:
    spans = run.tracer.spans
    ops = {s.op for s in spans if s.op and _measured(s.op)}
    n = max(len(ops), 1)
    st = self_times(spans)
    roots = {s.op: s.end - s.start for s in spans
             if s.name == "op" and s.op in ops}
    err = 0.0
    for op, wall in roots.items():
        layers = sum(st[s.id] for s in spans if s.op == op)
        err = max(err, abs(layers - wall) / wall)
    run.diag["trace_reconcile_max_err"] = round(err, 6)
    out = {m: 0.0 for m in (*SELF_TIME.values(), *CALLS.values())}
    for s in spans:
        if s.op in ops and s.name in SELF_TIME:
            out[SELF_TIME[s.name]] += st[s.id] / n
        if s.op in ops and s.name in CALLS:
            out[CALLS[s.name]] += 1 / n
    out["session.build_s"] = sum(
        s.end - s.start for s in spans
        if s.name == "session.build_session" and s.op is None)
    out["operators.construct_s"] = sum(
        s.end - s.start for s in spans
        if s.op in ops and s.name == "operators.construct") / n

    def op_of(g: str) -> str:
        return g.split(":")[0].split(".")[0]

    construct = eventlog.totals(
        events, lambda g: op_of(g) in ops and g.endswith(":construct"))
    action = eventlog.totals(
        events, lambda g: op_of(g) in ops and g.endswith(":action"))
    every = eventlog.totals(events, lambda g: op_of(g) in ops)
    ingest = eventlog.totals(
        events, lambda g: op_of(g) in ops and g == op_of(g) + ":action")
    out.update({
        "operators.construct_jobs": construct.jobs / n,
        "operators.construct_executor_s": construct.executor_run_ms / 1e3 / n,
        "spark.action_jobs": action.jobs / n,
        "spark.stages": action.stages / n,
        "spark.tasks": action.tasks / n,
        "spark.executor_run_s": every.executor_run_ms / 1e3 / n,
        "spark.shuffle_write_bytes": every.shuffle_write_bytes / n,
        "spark.shuffle_read_bytes": every.shuffle_read_bytes / n,
        "spark.spill_bytes": every.spill_bytes / n,
        "spark.failed_tasks": float(every.failed_tasks),
        "spark.jobs_per_ingest": ingest.jobs / n,
        "trace.op_p50_s": statistics.median(run.op_times),
    })
    for m in WORKLOAD_LAYERS:
        out.setdefault(m, 0.0)
    out.update(run.layers)
    return out


UNITS = {("_s", ".s"): "s", ("_bytes",): "bytes", ("_mb",): "MB"}


def unit_of(name: str) -> str:
    for suffixes, unit in UNITS.items():
        if name.endswith(suffixes):
            return unit
    return "ratio" if name.endswith(("_ratio", "_byte")) else "count"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # turn SIGTERM into SystemExit so the session stops and the work
    # directory is removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "fintech_etl_spark")):
        print(f"no fintech_etl_spark package under {ROOT}", file=sys.stderr)
        return 2

    run = Run(args)
    shutil.rmtree(run.work, ignore_errors=True)
    os.makedirs(run.out, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            x for x in (ROOT, os.environ.get("PYTHONPATH")) if x),
        "PYSPARK_PYTHON": sys.executable,
        # half the CPUs for Spark's task threads: the other half is left to
        # the driver, the JIT compiler and GC threads and the Python
        # workers, so a stage does not wait on a thread the OS has parked
        "SPARK_GRAFT_CPUS": str(max(1, nproc() // 2)),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_LOCAL_DIRS": run.path("spark-local"),
        # the short-lived launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS":
            f"-XX:-UsePerfData -Djava.io.tmpdir={run.path('tmp')}",
        "TMPDIR": run.path("tmp"),
    })
    sys.path.insert(0, ROOT)
    load_start, ticks_start = load_per_cpu(), cpu_ticks()
    workload = importlib.import_module(WORKLOADS[args.workload])
    events = {}
    try:
        try:
            if run.traced:
                patch_layers(run.tracer)
            workload.run(run)
            peak_rss = run.peak_rss_mb()
        finally:
            run.tracer.unpatch()
            run.stop_spark()
        if run.traced:  # the log is complete once the context has stopped
            [log] = glob.glob(os.path.join(run.work, "events", "*"))
            events = eventlog.parse_file(log)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    steal, total = cpu_ticks()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if run.traced:
        run.tracer.write(os.path.join(run.out, tag + ".spans.jsonl"))
        values = layer_metrics(run, events)
        values["memory.peak_rss_mb"] = peak_rss
    else:
        values = {
            "setup_s": run.first_op_at - T0,
            "op_p50_s": statistics.median(run.op_times),
        }
    run.diag.update({
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops_timed": len(run.op_times),
        "op_times_s": [round(t, 4) for t in run.op_times],
        "load_per_cpu": {"start": load_start, "end": load_per_cpu()},
        "cpu_steal_frac": round(
            (steal - ticks_start[0]) / max(total - ticks_start[1], 1), 4),
        "cpus": nproc(),
        "errors": run.errors,
    })
    with open(os.path.join(run.out, tag + ".json"), "w") as f:
        json.dump({"diagnostics": run.diag, "metrics": values}, f, indent=1)
    print(json.dumps({"diagnostics": run.diag}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            k: {"value": v, "unit": unit_of(k)} for k, v in sorted(values.items())
        },
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
