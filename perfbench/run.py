"""spark-graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 16 --trace 0

Run from the root of a checkout (the directory holding ``sparkgraft/``
and ``__spark_entry__.py``); every input is generated from ``--seed``
under ``.perfbench_runs/`` there and removed at the end.  The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it holds
run context (versions, load average, sample counts, failures), which
is not a metric.  Workloads, metrics and the layer map are described
in ``perfbench/DESIGN.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

WORKLOADS = ("batch_mix", "e1_ingest")
DRIVER_MEM = "3g"  # fits a 15 GiB box beside the Python side and workers
STAGINGS = 3  # staging repeats; setup reports their median
MIN_PASSES = 3  # so pass_s always averages at least three passes
# An untimed noop pass after the correctness pass, so every query has
# run through the noop sink before timing starts.  The JVM keeps
# compiling for tens of passes more, but it speeds the probe below up
# at the same rate, so the scaled times are level from here on.
WARM_PASSES = 1
# About how long a timed pass and the probe after it take on the 4-core
# development VM.  The number of timed passes is --seconds over this,
# fixed before the run rather than read from the clock, so every run of
# a workload holds the same number of samples whatever the host's speed.
NOMINAL_PASS_S = {"batch_mix": 2.7, "e1_ingest": 3.5}


def timed_passes(workload: str, seconds: float) -> int:
    return max(MIN_PASSES, round(seconds / NOMINAL_PASS_S[workload]))


# -- host-speed probe -----------------------------------------------------------
#
# The VM this runs on shares its host: over minutes, the share of CPU
# time the hypervisor takes from it (steal) moves between 0 and 25 %,
# and the wall time of a pass moves with it by up to 2.5x.  The JVM's
# own warm-up moves it too: a pass keeps getting faster for tens of
# passes.  A probe -- a fixed set of tiny Spark jobs that run no
# sparkgraft code -- is timed after every timed pass; the host and the
# JVM's warm-up slow or speed it as they do the passes, changes to the
# program do not.  Pass times are reported scaled to a host on which the
# probe takes PROBE_REF_S: wall time x PROBE_REF_S / (the run's trimmed
# mean probe time).  A busy host slows set-up less than it slows the probe
# (1.27x and 1.34x where the probe slowed 1.45x and 1.9x, measured), so
# set-up time is scaled by the square root of that factor.  Raw wall
# times are on the context line.

PROBE_JOBS = 4
# About the probe's trimmed mean over the timed passes of a run on the 4-core
# development VM at no steal, so that scaled times read close to wall
# times on a quiet host.
PROBE_REF_S = 0.55


def probe(spark) -> float:
    """Wall time of PROBE_JOBS jobs of one tiny two-stage plan (a
    two-partition range, an exchange into two partitions, a count per
    key): scheduling and per-stage overhead, as in the benchmarked
    queries, with partition counts fixed so that session settings do
    not change the plan."""
    t0 = time.perf_counter()
    for _ in range(PROBE_JOBS):
        spark.range(0, 2000, 1, 2).selectExpr("id % 7 as g").repartition(2, "g").groupBy(
            "g"
        ).count().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def trimmed_mean(xs: list[float]) -> float:
    """The mean without the largest value (kept below three values): one
    stalled pass or probe does not move it."""
    xs = sorted(xs)
    return statistics.mean(xs[:-1] if len(xs) > 2 else xs)


def host_scale(probes: list[float]) -> float:
    return PROBE_REF_S / trimmed_mean(probes)


END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "pass_s": "s",
}

LAYER_UNITS = {
    "setup.session_s": "s",
    "setup.staging_s": "s",
    "setup.warmup_s": "s",
    "build.wall_s": "s",
    "build.jobs": "count",
    "plan.wall_s": "s",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.max_task_share": "ratio",
    "storage.cached_mb": "MiB",
    "streaming.self_s": "s",
    "streaming.jobs_per_file": "count",
    "operators.transform_s": "s",
    "sinks.kv_s": "s",
    "sinks.register_s": "s",
    "sinks.versioned_commit_s": "s",
    "sinks.jobs_per_file": "count",
    **{f"{fam}.calls": "count" for fam in ("sources", "operators", "sinks", "streaming", "entry")},
    **{f"{fam}.call_s": "s" for fam in ("sources", "operators", "sinks", "streaming", "entry")},
    "trace.pass_s": "s",
    "trace.unattributed_s": "s",
    "host.probe_s": "s",
}


def _per_query_units() -> dict[str, str]:
    from perfbench.batch import QUERIES

    return {
        f"{q}.{k}": "s" for q in QUERIES for k in ("build_s", "plan_s", "exec_s", "task_s")
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", type=float, default=0.01, help="table scale factor (batch_mix)"
    )
    return ap.parse_args(argv)


# -- statistics -----------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and
    its label.  Below 21 samples that percentile is not above the
    median, and the sample maximum is reported instead."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return xs[-1], f"max of {n}"
    return xs[n - 11], f"p{100 * (n - 10) / n:.0f} of {n}"


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine since boot: steal is the
    time the hypervisor ran something else on this VM's CPUs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def peak_rss_mib(pid: int) -> float:
    """A process's peak resident set (VmHWM)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# -- process lifetime ---------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    end = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < end:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    return alive


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and the Python worker
    daemons the JVM started, and wait until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _children(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in _wait_gone(workers, 10):
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- session ------------------------------------------------------------------------


def task_slots() -> int:
    """Spark task threads: half the cores this process may use, at
    least one.  The other half stays free for the JVM's JIT compiler
    and GC threads, the Python driver and the host, so a busy or
    slowed core does not hold up every stage."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def prepare_env(work: str) -> None:
    """Fit the run to this box and keep every file it writes in ``work``."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(work: str, traced: bool):
    from sparkgraft.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed young generation: G1 sizes it from measured pause
        # times, so under CPU steal the peak RSS of one seed moved
        # between 1.2 and 1.8 GB; fixed, it moves by about 2 %.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xms1g -Xmn256m"
        ),
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- workloads -------------------------------------------------------------------


class Result:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.setup: dict[str, float] = {}
        self.passes: list[float] = []
        self.latencies: list[float] = []
        self.probes: list[float] = []  # one after each timed pass
        self.ops = 0
        self.pass_spans: list[int] = []
        self.cached: list[float] = []
        self.per_query: dict[str, list[float]] = {}
        self.warmup_query_s: dict[str, float] = {}
        self.steal: list[float] = []

    def add(self, attempted: int, failed: int, notes: list[str]) -> None:
        self.attempted += attempted
        self.failed += failed
        self.notes.extend(notes)


def run_batch_mix(spark, work, args, tracer, res: Result) -> None:
    from perfbench import batch, inputs
    from perfbench.tracing import cached_mb

    import __spark_entry__ as entry

    stamps = []
    for i in range(STAGINGS):
        t0 = time.perf_counter()
        inputs.write_tables(args.seed, args.sf, os.path.join(work, f"data{i}"))
        stamps.append(time.perf_counter() - t0)
    res.setup["staging_s"] = statistics.median(stamps)
    data = os.path.join(work, "data0")

    queries = entry.queries()
    names = list(batch.QUERIES)
    t0 = time.perf_counter()
    check = batch.OracleCheck(REPO, data, entry.oracle_sql())
    try:
        order = inputs.query_order(args.seed, names, 0)
        *checked, res.warmup_query_s = batch.warmup(spark, queries, order, data, check, tracer)
        res.add(*checked)
    finally:
        check.close()
    for pass_no in range(1, 1 + WARM_PASSES):
        order = inputs.query_order(args.seed, names, pass_no)
        _, failed, notes = batch.timed_pass(spark, queries, order, data, tracer)
        res.add(len(order), failed, notes)
    res.setup["warmup_s"] = time.perf_counter() - t0
    tracer.reset_calls()

    probe(spark)  # untimed: the probe's own first run
    first = 1 + WARM_PASSES
    for pass_no in range(first, first + timed_passes(args.workload, args.seconds)):
        order = inputs.query_order(args.seed, names, pass_no)
        with tracer.span("pass") as rec:
            t0, c0 = time.perf_counter(), cpu_ticks()
            lat, failed, notes = batch.timed_pass(spark, queries, order, data, tracer)
            res.passes.append(time.perf_counter() - t0)
            res.steal.append(steal_share(c0, cpu_ticks()))
        if rec:
            res.pass_spans.append(rec["id"])
            res.cached.append(cached_mb(spark.sparkContext))
        res.probes.append(probe(spark))
        res.latencies.extend(lat)
        for name, t in zip(order, lat):
            res.per_query.setdefault(name, []).append(t)
        res.ops += len(lat)
        res.add(len(order), failed, notes)


def run_e1_ingest(spark, work, args, tracer, res: Result) -> None:
    from perfbench import ingest
    from perfbench.tracing import cached_mb

    import __spark_entry__ as entry

    t0 = time.perf_counter()
    run = ingest.IngestRun(spark, os.path.join(work, "e1"), args.seed, tracer)
    init_s = time.perf_counter() - t0
    stamps = []
    for i in range(STAGINGS):
        t0 = time.perf_counter()
        if i == 0:
            run.stage(ingest.WARMUP_FILES)
        else:
            spare = os.path.join(work, f"stage{i}")
            os.makedirs(spare, exist_ok=True)
            run.stage(ingest.WARMUP_FILES, out_dir=spare)
        stamps.append(time.perf_counter() - t0)
    res.setup["staging_s"] = statistics.median(stamps)
    t0 = time.perf_counter()
    run.drain()
    for _ in range(WARM_PASSES):  # untimed drains of one healthy file
        run.stage(ingest.FILES_PER_PASS)
        run.drain()
    res.setup["warmup_s"] = init_s + time.perf_counter() - t0
    tracer.reset_calls()

    probe(spark)  # untimed: the probe's own first run
    for _ in range(timed_passes(args.workload, args.seconds)):
        run.stage(ingest.FILES_PER_PASS)  # the backlog arrives, untimed
        with tracer.span("pass") as rec:
            c0 = cpu_ticks()
            wall, gaps = run.drain()
            res.steal.append(steal_share(c0, cpu_ticks()))
        if rec:
            res.pass_spans.append(rec["id"])
            res.cached.append(cached_mb(spark.sparkContext))
        res.passes.append(wall)
        res.probes.append(probe(spark))
        res.latencies.extend(gaps)
        res.ops += ingest.FILES_PER_PASS
    res.add(*run.check(entry.oracle_sql()["channel_stats"]))


RUNNERS = {"batch_mix": run_batch_mix, "e1_ingest": run_e1_ingest}


# -- main -----------------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    # Run as a script, this file's directory leads sys.path; its module
    # names must not shadow top-level ones.
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    if not (
        os.path.isfile(os.path.join(REPO, "sparkgraft", "__init__.py"))
        and os.path.isfile(os.path.join(REPO, "__spark_entry__.py"))
    ):
        print(
            f"perfbench: no sparkgraft checkout at {REPO}; run from a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, REPO)
    runs = os.path.join(REPO, ".perfbench_runs")
    work = os.path.join(runs, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    prepare_env(work)

    from perfbench.tracing import Tracer

    tracer = Tracer(bool(args.trace))
    tracer.instrument()
    res = Result()
    load_before = os.getloadavg()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        res.setup["session_s"] = time.perf_counter() - t0
        RUNNERS[args.workload](spark, work, args, tracer, res)
        rss = {
            "python": peak_rss_mib(os.getpid()),
            "jvm": peak_rss_mib(spark.sparkContext._gateway.proc.pid),
        }
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_mem": DRIVER_MEM,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "setup_wall_s": res.setup,
            "peak_rss_mib": rss,
            "pass_wall_s": res.passes,
            "probe_s": res.probes,
            "steal_share": res.steal,
            "warmup_query_s": res.warmup_query_s,
            "query_s": res.per_query,
            "op_s": res.latencies,
            "ops": res.ops,
            "failed_share": res.failed / max(res.attempted, 1),
            "failures": res.notes[:10],
        }
        if args.trace:
            context["calibration"] = calibration(spark, work, args)
        context["loadavg"] = [[round(x, 2) for x in load_before],
                              [round(x, 2) for x in os.getloadavg()]]
        stop_spark(spark)  # also flushes and closes the event log
        spark = None
        if args.trace:
            from perfbench import layers

            metrics = layers.per_layer(tracer, res, os.path.join(work, "eventlog"))
            metrics.update({f"setup.{k}": v for k, v in res.setup.items()})
            # Computed like pass_s, so the two differ by the tracing cost.
            metrics["trace.pass_s"] = trimmed_mean(res.passes) * host_scale(res.probes)
            metrics["host.probe_s"] = trimmed_mean(res.probes)
            units = {**LAYER_UNITS, **_per_query_units()}
            tracer.write(
                os.path.join(runs, "traces", f"{args.workload}-seed{args.seed}.json")
            )
        else:
            k = host_scale(res.probes)
            metrics = {
                "setup_s": sum(res.setup.values()) * k**0.5,
                "peak_rss_mb": sum(rss.values()),
                "pass_s": trimmed_mean(res.passes) * k,
            }
            units = END_TO_END
            # Operation latencies, host-scaled: context, not metrics (see
            # DESIGN.md, "Why no latency metric").
            tail_v, label = tail(res.latencies)
            context["op_latency_s"] = {
                "p50": statistics.median(res.latencies) * k,
                "tail": tail_v * k,
                "tail_is": label,
                "per_query_p50": {
                    q: statistics.median(v) * k for q, v in res.per_query.items()
                },
            }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


def calibration(spark, work, args) -> dict:
    """bench.py's three fixed-work probes (JVM, Arrow, scan), imported,
    run after the timed region: they separate box contention from
    program changes."""
    import bench
    from perfbench import inputs

    events_dir = os.path.join(work, "calib")
    inputs.write_tables(args.seed, args.sf, events_dir)
    return {
        "jvm_s": bench._calibration_probe(spark),
        "arrow_s": bench._arrow_calibration_probe(spark),
        "scan_s": bench._scan_calibration_probe(spark, events_dir),
    }


if __name__ == "__main__":
    sys.exit(main())
