"""Run loop shared by the workloads: isolated scratch root, repeated
set-up, warm-up, timed closed-loop passes, RSS sampling and the result
line.

A workload object provides:

* ``name`` and ``op_kinds`` (the op kinds whose latencies form the
  workload's op distribution);
* ``warmup_passes``: untimed passes before the timed ones, at least
  one (the first pass of a run is the checked one);
* ``make_inputs(seed, data_dir) -> int`` (bytes of user data written)
  and ``setup(spark, data_dir)`` (loads the inputs); both are part of
  every set-up and so of ``setup_s``, which also counts the start of
  the set-up's own JVM and Spark session;
* optionally ``prepare_checks(spark)``: expected outputs, computed once
  after set-up and never timed;
* ``run_pass(spark, ctx) -> PassResult``: one closed-loop pass, each op
  starting when the previous one returned. ``ctx.check`` asks the pass
  to verify the outputs it can only check at extra cost.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import tempfile
import threading
import time
from dataclasses import dataclass, field

CPUS = 4
# set-ups per run, each in a fresh JVM; setup_s is their median
SETUP_REPS = 2
# timed passes per run at least, whatever ``--seconds`` says; run_s and
# cpu_s are medians over them
MIN_TIMED_PASSES = 2


@dataclass
class PassResult:
    wall_s: float = 0.0
    ops: list[tuple[str, float]] = field(default_factory=list)  # (kind, seconds)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def op(self, kind: str, seconds: float, ok: bool = True) -> None:
        """Record one attempted op; only successful ops enter the
        latency distribution."""
        self.attempted += 1
        if ok:
            self.ops.append((kind, seconds))

    def fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)


@dataclass
class PassContext:
    pass_no: int
    check: bool
    scratch: str
    tracer: object | None = None
    root: object | None = None  # the traced pass span, once timed_region ran
    cpu_s: float = 0.0  # CPU seconds of this process tree in the timed region
    steal: float = 0.0  # share of the machine's CPU time stolen meanwhile

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    @contextlib.contextmanager
    def timed_region(self):
        """Brackets the part of a pass that ``run_s`` times; in a traced
        pass it is the root span (checks after it are not traced)."""
        cpu0, steal0 = tree_cpu_s(), host_steal()
        with self.span("pass") as root:
            self.root = root
            yield root
        cpu1, steal1 = tree_cpu_s(), host_steal()
        self.cpu_s = cpu1 - cpu0
        self.steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])


# --- isolation ----------------------------------------------------------------

def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def make_scratch(root: str) -> dict[str, str]:
    """Per-process scratch tree; TMPDIR and Spark's local dirs point
    into it before the JVM starts, so nothing lands outside. Trees left
    by runs that were killed are removed first."""
    os.makedirs(root, exist_ok=True)
    for d in os.listdir(root):
        if d.startswith("run-") and d[4:].isdigit() and not _pid_alive(int(d[4:])):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    run = os.path.join(root, f"run-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    paths = {k: os.path.join(run, k) for k in ("tmp", "local", "warehouse", "data", "state")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    paths["run"] = run
    os.environ["TMPDIR"] = paths["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = paths["local"]
    tempfile.tempdir = paths["tmp"]
    return paths


def clear_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def spark_conf(paths: dict[str, str], ui: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": paths["warehouse"],
        "spark.local.dir": paths["local"],
        # no hsperfdata files in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={paths['tmp']} -XX:-UsePerfData",
        "spark.driver.memory": "3g",
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if ui:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000",
        })
    return conf


def stop_jvm(timeout: float = 30.0) -> None:
    """End the py4j gateway JVM this process launched and wait for it
    (it exits when its stdin closes). The next ``get_spark`` in this
    process launches a fresh JVM."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.close()
        proc.stdin.close()
        proc.wait(timeout=timeout)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- processes ----------------------------------------------------------------

def _procs() -> dict[int, tuple[str, list[str]]]:
    """pid -> (command name, the /proc stat fields after the name)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        rp = raw.rfind(")")
        out[int(d)] = (raw[raw.find("(") + 1: rp], raw[rp + 2:].split())
    return out


def _tree(procs: dict, root: int) -> list[int]:
    """``root`` and every process descended from it."""
    kids: dict[int, list[int]] = {}
    for pid, (_, fields) in procs.items():
        kids.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def jvm_pids() -> list[int]:
    """Java processes descended from this one (the py4j gateway JVM)."""
    procs = _procs()
    return [p for p in _tree(procs, os.getpid()) if procs.get(p, ("",))[0] == "java"]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM, Python workers), children they reaped included."""
    procs = _procs()
    ticks = sum(
        sum(int(x) for x in procs[p][1][11:15]) for p in _tree(procs, os.getpid())
    )
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine so far: time the
    hypervisor gave the machine's CPUs to other guests."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


# --- memory -------------------------------------------------------------------

def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of (Python process RSS + JVM RSS), sampled every 50 ms."""

    def __init__(self):
        self.pids = [os.getpid(), *jvm_pids()]
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))
            self._stop.wait(0.05)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        return False


# --- statistics ---------------------------------------------------------------

def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value) at the highest percentile with at least
    ``min_beyond`` samples above it, or None with too few samples."""
    n = len(values)
    if n < 2 * min_beyond:
        return None
    xs = sorted(values)
    idx = n - min_beyond - 1
    return round(100.0 * (idx + 1) / n, 2), xs[idx]


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def calibrate(spark) -> dict[str, float]:
    """Host-speed micro-workloads of the sf0.1 bench harness (a codegen
    hash scan, a small shuffle and a pure-Python spin), one run each and
    the scan and spin at a fifth of the bench's sizes to fit a run's
    time budget."""
    t = time.perf_counter()
    spark.range(10_000_000).selectExpr("sum(pmod(xxhash64(id), 1048576)) AS s") \
        .write.format("noop").mode("overwrite").save()
    jvm = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(2_000_000).selectExpr("id % 1000 AS k").groupBy("k").count() \
        .write.format("noop").mode("overwrite").save()
    shuf = time.perf_counter() - t
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i
    return {"jvm_hash_s": jvm, "shuffle_s": shuf, "py_spin_s": time.perf_counter() - t}
