"""Cold, layered benchmark of the migration lifecycle and the sync loop
(incremental sync, CDC and crawl dedup against a fingerprint index).

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one closed-loop client: the
benchmark drives the product's own front door in-process
(``database_migration_spark.__main__.main``), one route call per
operation, on ``local[<cores>]``. Inputs are generated from ``--seed``
before timing; every unit's output is checked against DuckDB outside the
timed region.

Times are steal-adjusted: each interval's wall time is scaled by the share
of the VM's runnable CPU time the hypervisor did not take from it (the
``steal`` column of /proc/stat), so a busy neighbour on a shared host does
not read as a slower program. On a dedicated host the factor is 1. The
model holds for CPU-bound work, which a unit here mostly is (py4j calls,
planning, local-mode tasks); seconds spent waiting on disk are scaled
too. The raw wall times and the steal shares are in the details line.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on an
uncompressed Spark event log, alternates traced and untraced units, and
prints the per-layer metrics: span self time, driver time (self time
while no job of the call runs) and the task sums of the jobs each call
tagged with its job group, all per traced unit. Spans come from wrappers
the benchmark installs around each layer's public functions (spans.py);
lazy DataFrames put a returned plan's compute in the caller's span. The
dedup probe's share of the index it reads comes from the file-scan sizes
the event log records after partition pruning.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it holds the
details (raw samples, tail percentile, steal, run conditions). Everything
the run writes (inputs, targets, event log, Spark scratch,
``spark-warehouse``, ``derby.log``) lives in a temporary directory under
``.perfbench_work/`` that is removed at exit.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402


def cpu_ticks() -> list:
    """The aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


T0_TICKS = cpu_ticks()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "database_migration_spark"
DRIVER_MEM = "2g"
# a run stops starting units past this age so it exits well within 180 s
STOP_STARTING_S = 120.0

LAYER_METRICS = ("calls", "self_s", "driver_s", "jobs", "tasks",
                 "executor_run_s", "gc_s", "shuffle_bytes", "spill_bytes",
                 "input_bytes", "output_bytes")
LAYER_UNITS = {"calls": "count", "jobs": "count", "tasks": "count"}


def process_age() -> float:
    """Seconds since this process started, from /proc (0 elsewhere)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


PROCESS_START = T0 - process_age()


def vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def steal_share(start: list, end: list) -> float:
    """Share of the VM's runnable CPU time between two /proc/stat samples
    that the hypervisor took (steal over busy plus steal; idle and iowait
    excluded, since a halted CPU is not stolen from)."""
    d = [b - a for a, b in zip(start, end)]
    runnable = sum(d) - d[3] - d[4]
    return d[7] / runnable if runnable > 0 else 0.0


def tail(values: list) -> tuple:
    """(value, percentile, samples beyond it): the highest percentile with
    at least ten samples beyond it; with ten samples or fewer, the
    maximum, which has none beyond it."""
    s = sorted(values)
    n = len(s)
    if n > 10:
        return s[n - 11], 100.0 * (n - 10) / n, 10
    return s[-1], 100.0, 0


def pin_environment(work: str) -> None:
    """Run conditions: all cores of this host, a driver heap that fits
    it, and every scratch file under ``work``."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # both JVMs spark-submit starts: scratch files in ``work``, and no
        # hsperfdata file in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Spark's Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    tempfile.tempdir = tmp
    os.chdir(work)  # spark-warehouse/ and derby.log land here


class Context:
    """What a workload needs: the session, the work dir, the seeded
    generator and ``route`` (one CLI call, stdout captured)."""

    def __init__(self, spark, work, rng):
        self.spark = spark
        self.work = work
        self.rng = rng
        self.cli = importlib.import_module(f"{PKG}.__main__")
        self.persisted = 0

    def route(self, argv: list) -> int:
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                # looked up per call, so the traced run's wrapper applies
                rc = self.cli.main(argv)
        except SystemExit as e:
            rc = e.code if isinstance(e.code, int) else 1
        except Exception:
            traceback.print_exc()
            rc = -1
        if rc:
            sys.stderr.write(f"route {argv[:2]} rc={rc}\n{buf.getvalue()}")
        self.persisted = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        return rc


def run(args, work: str, workload_cls) -> tuple:
    pin_environment(work)
    sys.path.insert(0, ROOT)
    import numpy as np

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # a heap committed at its full size makes peak RSS repeat across
        # runs instead of following when the collector grew the heap
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={work} -Xms{DRIVER_MEM}",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    t_session = time.time()
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench_{args.workload}", extra_conf=extra)
    session_s = time.time() - t_session
    gateway = spark.sparkContext._gateway
    conditions = {
        "master": spark.sparkContext.master,
        "driver_memory": DRIVER_MEM,
        "spark": spark.version,
        "python": sys.version.split()[0],
    }
    try:
        ctx = Context(spark, work, np.random.default_rng(args.seed))
        wl = workload_cls(ctx)
        wl.warm_up()
        m = measure(args, ctx, wl)
        m.peak_rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(gateway.proc.pid)
    finally:
        stop_session(spark, gateway)

    value, pct, beyond = tail(m.lat)
    setup_wall = m.first_op - PROCESS_START
    details = {
        "workload": args.workload, "unit": wl.unit, "samples": len(m.lat),
        "latencies_s": [round(x, 4) for x in m.lat],
        "wall_latencies_s": [round(x, 4) for x in m.wall],
        "steal_per_unit": [round(x, 4) for x in m.steal],
        "setup_wall_s": round(setup_wall, 4),
        "setup_steal": round(m.setup_steal, 4),
        "tail_percentile": pct, "tail_samples_beyond": beyond,
        "failed_share": m.failed / max(1, m.attempted),
        "persisted_rdds_after_unit": m.persisted,
        "conditions": conditions,
        "problems": m.problems[:20],
    }
    if not args.trace:
        metrics = {
            "setup_s": (setup_wall * (1.0 - m.setup_steal), "s"),
            "latency_p50_s": (statistics.median(m.lat), "s"),
            "latency_tail_s": (value, "s"),
            "rows_per_s": (m.changes / sum(m.lat), "1/s"),
            "peak_rss_mb": (m.peak_rss, "MB"),
        }
    else:
        metrics = layer_metrics(m, wl, log_dir, session_s)
        details["traced_units"] = len(m.traced_lat)
        details["attribution"] = (
            "per traced unit; lazy plans (apply_cdc, validate_pair, "
            "incremental_dedup_indexed) run inside the caller's action, so "
            "their compute lands in the caller's span and only their build "
            "time in their own")
    result = {
        "correct": m.failed == 0 and not m.problems,
        "attempted": m.attempted,
        "failed": m.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return details, result


class Measured:
    def __init__(self):
        # per unit: steal-adjusted seconds, wall seconds, steal share
        self.lat, self.wall, self.steal = [], [], []
        self.traced_lat, self.untraced_lat = [], []
        self.traced_units: list = []
        self.problems: list = []
        self.persisted: list = []
        self.attempted = self.failed = self.changes = self.traced_io_changes = 0
        self.first_op = None
        self.setup_steal = 0.0
        self.tracer = None
        self.peak_rss = 0.0


def measure(args, ctx, wl) -> Measured:
    """The closed loop: untimed input preparation, one timed unit, then
    the untimed reference check; until ``--seconds`` of timed wall time,
    which is one unit while a unit outlasts ``--seconds``. The traced run
    runs whole T U U T blocks, so traced and untraced units see about the
    same share of the in-run warm-up."""
    m = Measured()
    if args.trace:
        from spans import Tracer

        m.tracer = Tracer(ctx.spark.sparkContext)
    i = 0
    while True:
        enough = sum(m.wall) >= args.seconds
        if args.trace:
            enough = enough and i % 4 == 0
        if enough or time.time() - PROCESS_START > STOP_STARTING_S:
            break
        wl.prepare(i)
        traced = m.tracer is not None and i % 4 in (0, 3)
        if traced:
            m.tracer.install()
        ticks = cpu_ticks()
        if m.first_op is None:
            m.first_op = time.time()
            m.setup_steal = steal_share(T0_TICKS, ticks)
        t = time.perf_counter()
        rcs = wl.run(i)
        dt = time.perf_counter() - t
        share = steal_share(ticks, cpu_ticks())
        if traced:
            m.tracer.uninstall()
        m.wall.append(dt)
        m.steal.append(share)
        m.lat.append(dt * (1.0 - share))
        (m.traced_lat if traced else m.untraced_lat).append(m.lat[-1])
        m.persisted.append(ctx.persisted)
        try:
            bad = wl.check(i)
        except Exception as e:  # a missing or unreadable output is a failure
            traceback.print_exc()
            bad = [f"unit {i}: check could not read the output: {e}"]
        wl.cleanup(i)
        m.problems += bad
        m.attempted += len(rcs)
        m.failed += len(rcs) if bad else sum(1 for rc in rcs if rc)
        m.changes += wl.changes(i)
        if traced:
            m.traced_units.append(i)
            m.traced_io_changes += getattr(wl, "io_changes", wl.changes)(i)
        i += 1
        if m.failed:
            break
    return m


def layer_metrics(m: Measured, wl, log_dir: str, session_s: float) -> dict:
    """Per-layer totals per traced unit, from the spans and the event log
    (readable once the session has stopped)."""
    import eventlog
    from spans import LAYERS

    groups = eventlog.reduce_log_dir(log_dir)
    totals = m.tracer.layer_totals(groups)
    n = max(1, len(m.traced_lat))
    out = {}
    for layer in LAYERS:
        t = totals.get(layer, {})
        for name in LAYER_METRICS:
            unit = LAYER_UNITS.get(name, "s" if name.endswith("_s") else "B")
            out[f"{layer}.{name}"] = (t.get(name, 0) / n, unit)
    io_bytes = totals.get("io", {}).get("output_bytes", 0)
    # the probes' index scans against the index's size when each probe ran
    index = getattr(wl, "index", None)
    at_probe = [wl.index_at_probe[i] for i in m.traced_units
                if i in getattr(wl, "index_at_probe", {})]
    read = sum(
        b for s in m.tracer.spans if s.route == "dedup probe"
        and s.group in groups
        for loc, b in groups[s.group].scan_bytes.items()
        if index and loc.startswith("file:" + index + "/")
    )
    index_bytes = sum(size for _, size in at_probe)
    out.update({
        "session.start_s": (session_s, "s"),
        "cache.persisted_rdds": (m.persisted[-1] if m.persisted else 0, "count"),
        "io.bytes_written_per_change": (
            io_bytes / m.traced_io_changes if m.traced_io_changes else 0.0,
            "B"),
        "dedup.index_read_share": (
            read / index_bytes if index_bytes else 0.0, "share"),
        "dedup.index_files": (
            statistics.mean(f for f, _ in at_probe) if at_probe else 0.0,
            "count"),
        "trace.overhead_share": (
            statistics.median(m.traced_lat) / statistics.median(m.untraced_lat)
            - 1.0 if m.traced_lat and m.untraced_lat else 0.0, "share"),
    })
    return out


def stop_session(spark, gateway) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM to exit
    (its Python workers are its children and end with it)."""
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__main__.py")):
        print(f"error: {PKG} not found under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r} "
              f"(one of {sorted(workloads.WORKLOADS)})", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}_", dir=base)
    cwd = os.getcwd()
    try:
        details, result = run(args, work, workloads.WORKLOADS[args.workload])
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
