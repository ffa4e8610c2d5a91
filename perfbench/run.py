"""Backtest benchmark: one workload per process.

    python3 perfbench/run.py --workload universe_backtest --seed 1 --seconds 12 --trace 0

Run from the repository root.  The run builds seeded synthetic bars and
sets up once (``get_spark``, writing and loading the bars, one cold
operation and the DuckDB oracle check), warms up, then times operations
for ``--seconds``.  Every operation's output digest must equal the cold
operation's.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end
metrics (``op_s``, ``setup_s``); ``--trace 1`` reports the per-layer
metrics, measured from outside the package (see ``layers.py``) and from
a Spark event log switched on for a second session (see
``eventlog.py``); ``--eventlog 0`` runs that second session without the
log, as the reference for the log's overhead.  Host context (load
average, stray Spark JVMs, CPU steal) and the set-up and operation times
go to stderr.  Workload choices and measurement notes are in
``perfbench/README.md``.
"""

import time

T_PROCESS = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

CORES = 4  # local[CORES], capped at the host's CPU count
HEAP = "4g"
MIN_TIMED = 5  # timed operations per run, at least
MIN_TRACED = 3  # operations per half of a traced run, at least
WARMUP = 4  # untimed operations after each session start (README: warm-up)


def host_context() -> dict:
    """Load average and Spark JVMs already running before ours start."""
    try:
        stray = subprocess.run(
            ["pgrep", "-f", "[S]parkSubmit"], capture_output=True, text=True, timeout=10
        ).stdout.split()
    except (OSError, subprocess.SubprocessError):
        stray = ["unknown"]
    return {"loadavg_1m": round(os.getloadavg()[0], 2), "stray_spark_jvms": stray}


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters from /proc/stat (steal is the
    eighth field)."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def pin_environment(cores: int) -> None:
    """Session settings come from here, not from package defaults: the
    package defaults (32 cores, 16 g heap) oversubscribe a small host."""
    for d in ("local", "tmp", "events"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    tmp = WORK / "tmp"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_LOCAL_DIRS=str(WORK / "local"),
        TMPDIR=str(tmp),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
            " pyspark-shell"
        ),
    )


def descendants() -> list[int]:
    """Pids of every live descendant of this process, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the Spark JVM and
    the Python workers it forks), sampled every 0.2 s from /proc."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> float:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total / 2**20

    def run(self) -> None:
        while not self._stop_evt.wait(0.2):
            self.peak_mb = max(self.peak_mb, self.sample())

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def shutdown_spark() -> None:
    """Stop the active SparkContext, the JVM this process launched and
    the JVM's Python workers, and wait until all of them have exited."""
    from pyspark import SparkContext

    started = descendants()  # once the JVM exits, its children are re-parented
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the Python workers exit with their JVM; wait for them, then make sure
    deadline = time.monotonic() + 10
    while alive(started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive(started):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while alive(started):
        time.sleep(0.1)


def alive(pids: list[int]) -> list[int]:
    """The pids that still name a running (not zombie) process."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                state = fh.read().rsplit(")", 1)[1].split()[0]
        except (OSError, IndexError):
            continue
        if state not in ("Z", "X"):
            out.append(pid)
    return out


class Run:
    """One workload, one seed: set-up, warm-up, timed (and traced)
    operations, and the counts of attempted and failed operations."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 eventlog: bool = True) -> None:
        from perfbench import layers, workloads

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.eventlog = eventlog
        self.op = workloads.OPS[workload]
        self.wl = workloads
        self.samples = layers.Samples() if trace else None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.reference = None  # the cold operation's digest
        self.op_times: list[float] = []

    def one_op(self, spark, inp, times: list | None = None) -> None:
        """Run and time one operation; count it as failed if it raises
        or its digest differs from the cold operation's."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            d, _ = self.op(spark, inp)
        except Exception as exc:  # a failed operation is a result, not a crash
            self.failed += 1
            self.errors.append(f"op {self.attempted}: {type(exc).__name__}: {exc}")
            return
        dt = time.perf_counter() - t0
        if d != self.reference:
            self.failed += 1
            self.errors.append(f"op {self.attempted}: digest {d[:12]} != {self.reference[:12]}")
        elif times is not None:
            times.append(dt)

    def setup(self):
        """Session, inputs, the cold operation and the oracle check."""
        from strat_backtest_spark.session import get_spark

        from perfbench.layers import timed

        with timed(self.samples, "session.start_s"):
            spark = get_spark(app_name="perfbench")
        inp = self.wl.write_inputs(spark, self.seed, self.workload, str(WORK / "bars"), self.samples)
        self.reference, finals = self.op(spark, inp)
        bad = self.wl.check_against_oracle(inp, finals)
        if bad:
            self.failed += 1
            self.errors.extend(bad)
        return spark, inp

    def timed_ops(self, spark, inp, seconds: float, min_ops: int, times: list) -> None:
        for _ in range(WARMUP):
            self.one_op(spark, inp)
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or len(times) < min_ops:
            self.one_op(spark, inp, times)
            if self.failed and time.perf_counter() >= end:
                break  # the run has failed; do not chase min_ops past the window

    def execute(self) -> dict | None:
        """The end-to-end figures, or None when the set-up or the traced
        session threw or no timed operation succeeded; failures are
        counted either way."""
        self.attempted += 1  # the cold operation
        try:
            spark, inp = self.setup()
        except Exception as exc:  # reported as a failed run, not a crash
            self.failed += 1
            self.errors.append(f"set-up: {type(exc).__name__}: {exc}")
            return None
        setup_s = time.perf_counter() - T_PROCESS
        seconds, min_ops = (self.seconds / 2, MIN_TRACED) if self.trace else (self.seconds, MIN_TIMED)
        self.timed_ops(spark, inp, seconds, min_ops, self.op_times)
        if self.trace and self.op_times:
            try:
                self.traced(spark, inp)
            except Exception as exc:
                self.failed += 1
                self.errors.append(f"traced session: {type(exc).__name__}: {exc}")
                return None
        print(json.dumps({"setup_s": setup_s, "op_times_s": self.op_times}), file=sys.stderr)
        if not self.op_times:
            return None
        return {"setup_s": setup_s, "op_s": statistics.median(self.op_times)}

    def traced(self, spark, inp):
        """Second session with the event log on (unless ``--eventlog 0``
        asked for the same session without it): traced operations, each
        in its own job group, then the per-layer forcing passes."""
        from strat_backtest_spark.session import get_spark

        from perfbench import eventlog, layers

        jvm_props = spark.sparkContext._jvm.java.lang.System
        log_dir = WORK / "events"
        if self.eventlog:
            for key, val in {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }.items():
                jvm_props.setProperty(key, val)
        spark.stop()
        spark = get_spark(app_name="perfbench")
        inp = self.wl.load_inputs(spark, inp)
        rec = layers.Recorder()
        rec.install()
        try:
            for _ in range(WARMUP):
                self.one_op(spark, inp)
            windows, per_op = [], []
            end = time.perf_counter() + self.seconds / 2
            i = 0
            while time.perf_counter() < end or i < MIN_TRACED:
                rec.reset()
                spark.sparkContext.setJobGroup(f"op{i}", "perfbench traced op")
                w0 = time.time()
                times: list[float] = []
                self.one_op(spark, inp, times)
                windows.append((f"op{i}", w0, time.time()))
                per_op.append((list(rec.calls), times))
                i += 1
        finally:
            rec.uninstall()
        spark.sparkContext.setJobGroup("layers", "perfbench layer passes")
        layers.exec_layers(self.samples, self.workload, inp, rec)
        app_id = spark.sparkContext.applicationId
        spark.stop()  # flushes the event log
        groups = eventlog.parse_file(str(log_dir / app_id)) if self.eventlog else {}
        self.layer_report(groups, windows, per_op)

    def layer_report(self, groups, windows, per_op) -> None:
        s = self.samples
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        traced = []
        for (gid, w0, w1), (calls, times) in zip(windows, per_op):
            if not times:
                continue
            op = times[0]
            traced.append(op)
            g = groups.get(gid)
            for layer, name in (("signals", "signals.build_ms"), ("kernel", "kernel.build_ms"),
                                ("metrics", "metrics.build_ms"), ("backtest", "backtest.build_ms")):
                s.add(name, 1e3 * sum(c[2] for c in calls if c[0] == layer))
            opt = [c for c in calls if c[0] == "optimize"]
            s.add("optimize.build_s", sum(c[2] for c in opt))
            s.add("optimize.score_calls", sum(1 for c in calls if c[0] == "score"))
            if g is None:
                continue
            s.add("optimize.eager_jobs", sum(
                1 for t in g.job_times if any(c[3] <= t <= c[4] for c in opt)))
            for name in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                         "gc_s", "python_worker_s", "shuffle_write_mb", "spill_mb"):
                s.add(f"spark.{name}", getattr(g, name))
            s.add("spark.busy_ratio", g.executor_run_s / (op * cores))
            s.add("spark.driver_s", op - g.covered_s(w0, w1))
        if traced:
            s.add("trace.op_s", statistics.median(traced))
            s.add("trace.overhead_ratio", statistics.median(traced) / statistics.median(self.op_times))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["universe_backtest", "param_sweep"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--eventlog", type=int, choices=[0, 1], default=1,
                    help="with --trace 1: 0 runs the traced session without the event log,"
                    " as the reference that measures the log's overhead")
    args = ap.parse_args(argv)

    if not (ROOT / "strat_backtest_spark" / "session.py").is_file():
        print("perfbench: strat_backtest_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"host": host_context()}), file=sys.stderr, flush=True)
    pin_environment(min(CORES, len(os.sched_getaffinity(0))))

    cpu0 = cpu_times()
    rss = RssSampler() if args.trace else None
    if rss is not None:
        rss.start()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), bool(args.eventlog))
    try:
        e2e = run.execute()
    finally:
        if rss is not None:
            rss.stop()
        shutdown_spark()
        shutil.rmtree(WORK, ignore_errors=True)
    delta = [b - a for a, b in zip(cpu0, cpu_times())]
    print(json.dumps({"cpu_steal_share": round(delta[7] / max(1, sum(delta)), 4)}), file=sys.stderr)
    for err in run.errors:
        print(f"perfbench: {err}", file=sys.stderr)
    # the metrics BENCHMARK.json lists, by name and unit
    spec = json.loads((ROOT / "BENCHMARK.json").read_text(encoding="utf-8"))
    if e2e is None:  # nothing to measure: every metric is null
        metrics = {m["name"]: {"value": None, "unit": m["unit"]}
                   for m in spec["per_layer" if args.trace else "end_to_end"]}
    elif args.trace:
        run.samples.add("spark.peak_rss_mb", rss.peak_mb)
        metrics = {m["name"]: {"value": run.samples.median(m["name"]), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
