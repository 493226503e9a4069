"""The repository benchmark: one workload, one seed, one measurement.

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Inputs are generated from the seed into a
private directory under ``.graftbench-run/`` that is removed at exit, and
the engine is driven only through its public functions.  The engine runs
with its own defaults; only ``SPARK_GRAFT_CPUS`` is set, to the number of
usable cores, and ``SPARK_LOCAL_DIRS``, the temp directories and the
working directory (hence the warehouse) point into the private directory.

A run starts the engine once (new JVM, ``get_spark``, registry, input
attach: ``setup_s``), makes the workload's warm-up passes, then makes
the passes that fit in ``--seconds`` (at least one) and reports their
medians.  Every pass is checked against the oracle.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
session with Spark's event log on, makes one warm-up pass more, then
alternates traced passes (one span and job group per public call) with
untraced ones, and reports the per-layer metrics of the traced passes.

Standard output ends with two JSON lines: the run's record (seed,
inputs, hardware stamp, load, per-pass times) and the result
``{"correct", "attempted", "failed", "metrics"}``.  The exit code is 0
only when every output matched its oracle.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procs  # noqa: E402
from spans import NullTracer, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PREPARE_TIMEOUT_S = 120
ENGINE_PKG = "simplex_mapreduce_spark"
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[graftbench +{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr)


class Engine:
    """One engine session in a freshly launched JVM; :meth:`stop` leaves
    no process behind."""

    def __init__(self, workload):
        self.w = workload
        self.spark = None
        self.jvm_proc = None

    def start(self, tracer, extra_conf=None) -> None:
        """Launch the JVM and session, load the registry, attach inputs."""
        from pyspark import SparkContext

        from simplex_mapreduce_spark import get_spark, registry

        log("starting session")
        with tracer.span("session.get_spark", "session"):
            self.spark = get_spark(extra_conf=extra_conf)
        self.jvm_proc = SparkContext._gateway.proc
        if tracer.enabled:
            tracer.sc = self.spark.sparkContext
        with tracer.span("registry.load_all", "registry"):
            registry.load_all()
        with tracer.span("attach", "sources.tables"):
            self.w.attach(self.spark)

    def stop(self) -> None:
        """Stop the session, shut the JVM down and wait until every
        process it started (Python worker daemons too) has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        children = procs.descendants(procs.snapshot(), os.getpid())[1:]
        try:
            self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
            if self.jvm_proc is not None:
                self.jvm_proc.stdin.close()  # the JVM exits when stdin closes
                try:
                    self.jvm_proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    self.jvm_proc.kill()
                    self.jvm_proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
            self.jvm_proc = None
            _wait_gone(children)


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def tree_cpu() -> dict[str, float]:
    return procs.cpu_split(procs.snapshot(), os.getpid())


def tail(values: list[float]) -> tuple[float, int]:
    """The highest of the 99th, 95th, 90th, 75th and 50th percentiles
    (nearest rank) that has at least ten samples above it, with that
    percentile; the median when there are too few samples for any."""
    xs = sorted(values)
    n = len(xs)
    for pct in (99, 95, 90, 75, 50):
        rank = max(1, math.ceil(pct / 100 * n))
        if n - rank >= 10:
            return xs[rank - 1], pct
    return statistics.median(xs), 50


def _shuffle_written(spark) -> int:
    """Shuffle bytes written so far in this session, from the status
    store once the listener bus has caught up."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return int(sc.statusStore().executorSummary("driver").totalShuffleWrite())


class Oracle:
    """The expected outputs, computed by ``prepare.py --stage expected``
    in a process of its own, started once the engine is up so that it
    runs while the engine warms up rather than while it starts."""

    def __init__(self, cmd: list[str], path: str):
        self.cmd, self.path = cmd, path
        self.proc = None
        self.value = None

    def start(self) -> None:
        self.proc = subprocess.Popen(self.cmd, stdout=sys.stderr)

    def get(self) -> dict:
        if self.value is None:
            if self.proc.wait(timeout=PREPARE_TIMEOUT_S) != 0:
                raise RuntimeError(f"oracle exited with code {self.proc.returncode}")
            with open(self.path, "rb") as f:
                self.value = pickle.load(f)
        return self.value

    def close(self) -> None:
        if self.proc is None:
            return
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


class Session:
    """One run's engine session and the checked passes made in it."""

    def __init__(self, w, oracle: Oracle):
        self.w, self.oracle = w, oracle
        self.eng = Engine(w)
        self.setup_s = float("nan")
        self.attempted = 0
        self.failed = 0
        self.last: dict = {}
        self.unchecked: list[dict] = []
        self.rss_kb: dict = {}

    def start(self, tracer, extra_conf=None) -> None:
        t0 = time.perf_counter()
        self.eng.start(tracer, extra_conf)
        self.setup_s = time.perf_counter() - t0
        self.oracle.start()

    @property
    def spark(self):
        return self.eng.spark

    def stop(self) -> None:
        if self.eng.spark is not None:
            self.rss_kb = procs.peak_rss_kb(os.getpid())
        self.eng.stop()

    def one_pass(self, tracer, check: bool = True) -> dict | None:
        """One pass: its wall time, process-tree CPU split and shuffle
        bytes written, or None when it raised or was wrong.  Without
        ``check`` its outputs wait in ``unchecked`` for :meth:`warm_up`
        to check them."""
        self.attempted += 1
        shuffle0 = _shuffle_written(self.spark)
        c0 = tree_cpu()
        t0 = time.perf_counter()
        try:
            with tracer.span("iteration", "workload"):
                out = self.w.iteration(self.spark, tracer)
            wall = time.perf_counter() - t0
            c1 = tree_cpu()
            if check:
                self.w.check(out, self.oracle.get())
            else:
                self.unchecked.append(out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        self.last = out
        return {
            "wall": wall,
            "cpu": {k: c1[k] - c0[k] for k in c0},
            "shuffle": _shuffle_written(self.spark) - shuffle0,
        }

    def warm_up(self, tracer, passes: int) -> float:
        """``passes`` warm-up passes, checked once the oracle is done
        (which it is when this returns); returns their wall time."""
        t0 = time.perf_counter()
        for _ in range(passes):
            self.one_pass(tracer, check=False)
        wall = time.perf_counter() - t0
        expected = self.oracle.get()
        for out in self.unchecked:
            try:
                self.w.check(out, expected)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
        self.unchecked = []
        return wall


def measure(s: Session, seconds: float, tracers) -> list[list[dict]]:
    """Passes within ``seconds``, cycling through ``tracers``: another
    pass starts only while one more, as long as the last, would end
    inside the window, and there is always at least one pass per tracer.
    Returns the passes that succeeded, per tracer."""
    log(f"measuring for {seconds:g} s")
    out: list[list[dict]] = [[] for _ in tracers]
    end = time.perf_counter() + seconds
    i, last = 0, 0.0
    while i < len(tracers) or time.perf_counter() + last <= end:
        k = i % len(tracers)
        t0 = time.perf_counter()
        p = s.one_pass(tracers[k])
        last = time.perf_counter() - t0
        if p is not None:
            out[k].append(p)
        i += 1
    return out


def plain_run(w, oracle: Oracle, seconds: float) -> tuple[dict, dict, Session]:
    s = Session(w, oracle)
    try:
        s.start(NullTracer())
        warmup_s = s.warm_up(NullTracer(), w.WARMUP_PASSES)
        (passes,) = measure(s, seconds, [NullTracer()])
    finally:
        s.stop()
    med = statistics.median
    nan = float("nan")
    walls = [p["wall"] for p in passes]
    p50 = med(walls) if walls else nan
    tail_s, tail_pct = tail(walls) if walls else (nan, 0)
    # The bounded metrics: set-up time and the costs of a pass.  Wall
    # times of a pass are reported too, without a bound: on a shared
    # machine they move with the other tenants' load far more than CPU
    # time does (see METRICS.md).
    metrics = {
        "setup_s": (s.setup_s, "s"),
        "cpu_s": (med(p["cpu"]["total"] for p in passes) if passes else nan, "s"),
        "shuffle_bytes": (med(p["shuffle"] for p in passes) if passes else nan, "bytes"),
    }
    unbounded = {
        "wall_s.p50": (p50, "s"),
        "wall_s.tail": (tail_s, "s"),
        "input_rows_per_s": (w.input_rows / p50, "rows/s"),
        "peak_rss_mb": (s.rss_kb.get("total", 0) / 1024, "MB"),
        "failed_frac": (s.failed / max(s.attempted, 1), "ratio"),
    }
    record = {
        "metrics": {
            k: {"value": None if math.isnan(v) else v, "unit": u}
            for k, (v, u) in unbounded.items()
        },
        "wall_s.tail_percentile": tail_pct,
        "passes": len(walls),
        "warmup_passes": w.WARMUP_PASSES,
        "warmup_s": round(warmup_s, 3),
        "wall_s": [round(x, 3) for x in walls],
        "cpu_s": [round(p["cpu"]["total"], 2) for p in passes],
    }
    return metrics, record, s


def traced_run(w, oracle: Oracle, seconds: float, work: str) -> tuple[dict, dict, Session]:
    """One session with the event log on: set-up as in a plain run, one
    warm-up pass more, then passes alternately traced (one span and job
    group per public call) and untraced.  Returns the per-layer metrics
    of the traced passes and ``trace.overhead_frac``, the traced passes'
    median wall time over the untraced passes' median, minus one."""
    import layers

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    conf = {**EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + log_dir}
    tracer = Tracer(None, "setup")
    unpatch = layers.patch_load_table(tracer)
    s = Session(w, oracle)
    extra: dict = {}
    try:
        s.start(tracer, conf)
        app_id = s.spark.sparkContext.applicationId
        tracer.run = "warmup"
        # one warm-up pass more than a plain run, so that traced and
        # untraced passes are both warm ones
        s.warm_up(tracer, w.WARMUP_PASSES + 1)
        tracer.run = "it"  # spans of the measured passes
        traced, untraced = measure(s, seconds, [tracer, NullTracer()])
        tracer.run = "after"
        if traced:
            extra = layers.after_traced(w, s.spark, s)
    finally:
        s.stop()
        unpatch()
    metrics = layers.per_layer(
        tracer.spans, os.path.join(log_dir, app_id),
        [p["cpu"] for p in traced], s.rss_kb, extra,
    )
    med = statistics.median
    nan = float("nan")
    p50_t = med(p["wall"] for p in traced) if traced else nan
    p50_u = med(p["wall"] for p in untraced) if untraced else nan
    metrics["trace.overhead_frac"] = (p50_t / p50_u - 1, "ratio")
    record = {
        "warmup_passes": w.WARMUP_PASSES + 1,
        "wall_s": [round(p["wall"], 3) for p in traced],
        "untraced_wall_s": [round(p["wall"], 3) for p in untraced],
        "spans": [sp.__dict__ for sp in tracer.spans],
    }
    return metrics, record, s


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if sys.flags.optimize:
        print("the output checks use assert; run without -O", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, ENGINE_PKG)):
        print(f"engine package {ENGINE_PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".graftbench-run")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    cwd = os.getcwd()
    try:
        return _run(a, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run is using it


def _run(a, work: str) -> int:
    load_start = procs.loadavg()
    log(f"preparing {a.workload} inputs for seed {a.seed}")

    def prepare(stage: str) -> list[str]:
        return [sys.executable, os.path.join(HERE, "prepare.py"), "--stage", stage,
                "--workload", a.workload, "--seed", str(a.seed), "--out", work]

    subprocess.run(
        prepare("inputs"), check=True, timeout=PREPARE_TIMEOUT_S, stdout=sys.stderr,
    )
    with open(os.path.join(work, "inputs.json")) as f:
        inputs = json.load(f)
    w = WORKLOADS[a.workload](os.path.join(work, "inputs"))
    w.input_rows = sum(rows for rows, _ in inputs.values())

    for d in ("local", "tmp", "cwd"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # keep the JVM's own scratch files (native library extraction, perf
    # counters) inside the private directory too
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    )
    os.chdir(os.path.join(work, "cwd"))  # the warehouse lands here
    sys.path.insert(0, ROOT)

    log("inputs ready")
    oracle = Oracle(prepare("expected"), os.path.join(work, "expected.pkl"))
    try:
        if a.trace:
            metrics, record, c = traced_run(w, oracle, a.seconds, work)
        else:
            metrics, record, c = plain_run(w, oracle, a.seconds)
    finally:
        oracle.close()

    record.update({
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "inputs": {k: {"rows": r, "bytes": b} for k, (r, b) in inputs.items()},
        "stamp": procs.hardware_stamp(),
        "loadavg_start": load_start,
        "loadavg_end": procs.loadavg(),
    })
    correct = c.failed == 0 and c.attempted > 0
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": correct,
        "attempted": c.attempted,
        "failed": c.failed,
        # a metric no pass measured (every pass failed) is null, not NaN
        "metrics": {
            k: {"value": None if math.isnan(v) else v, "unit": u}
            for k, (v, u) in metrics.items()
        },
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
