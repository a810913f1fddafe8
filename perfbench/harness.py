"""Measurement plumbing shared by the workloads: the Spark session's
lifetime, timed and job-group-tagged layer calls, stage metrics from
Spark's status store, peak RSS sampling and output comparison.

The benchmark measures the program from outside: it wraps calls into
the program's public functions and reads what Spark itself records.
"""

from __future__ import annotations

import math
import os
import signal
import subprocess
import threading
import time
from collections import defaultdict

#: Stage metrics summed per layer call in a traced run:
#: (metric suffix, StageData accessor, scale to the reported unit).
STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("input_bytes", "inputBytes", 1),
)


class Tracer:
    """Times every call into a layer. While ``traced`` is set, each call
    also runs under its own Spark job group, and ``end_pass`` sums the
    stage metrics of those groups from the status store.

    Stage metrics are read between passes, outside every timed region:
    the only cost tracing adds inside a pass is ``setJobGroup``.
    """

    def __init__(self, spark):
        self.spark = spark
        self.traced = False
        self.passes: list[dict] = []  # one metrics dict per traced pass
        self._calls: list[tuple[str, float, str | None]] = []
        self._seq = 0

    def call(self, layer: str, fn, *args, **kwargs):
        """Run ``fn`` as one call into ``layer`` and return its result."""
        group = None
        sc = self.spark.sparkContext
        if self.traced:
            self._seq += 1
            group = f"perfbench:{layer}:{self._seq}"
            sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self._calls.append((layer, time.perf_counter() - t0, group))
            if group is not None:
                sc.setJobGroup("perfbench:untagged", "")

    def end_pass(self, wall_s: float) -> None:
        """Close a pass; if it was traced, record its per-layer sums."""
        calls, self._calls = self._calls, []
        if not self.traced:
            return
        acc: dict[str, float] = defaultdict(float)
        acc["pass_s"] = wall_s
        for layer, seconds, _ in calls:
            acc[f"{layer}_s"] += seconds
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), sc.statusTracker()
        for layer, _, group in calls:
            if group is not None:
                add_stage_metrics(acc, layer, group, tracker, store)
        self.passes.append(acc)


def add_stage_metrics(acc: dict, layer: str, group: str, tracker, store) -> None:
    """Add one job group's job and task counts to ``acc`` under
    ``layer``, and its stage metrics to the ``spark`` totals."""
    seen: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        acc[f"{layer}.spark_jobs"] += 1
        for stage_id in info.stageIds:
            acc["spark.stage_slots"] += 1
            stage = store.lastStageAttempt(stage_id)
            if stage.status().toString() == "SKIPPED":
                acc["spark.stages_skipped"] += 1
                continue
            if stage_id in seen:
                continue
            seen.add(stage_id)
            acc[f"{layer}.tasks"] += stage.numTasks()
            acc["spark.tasks_failed"] += stage.numFailedTasks()
            for name, getter, scale in STAGE_FIELDS:
                acc[f"spark.{name}"] += getattr(stage, getter)() * scale


class RssSampler:
    """Samples the summed RSS of a process tree (the driver JVM, its
    Python daemon and workers) every ``interval`` seconds."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        total = sum(_rss_bytes(pid) for pid in process_tree(self.root_pid))
        self.peak_bytes = max(self.peak_bytes, total)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _sort_key(v) -> str:
    # floats print at 6 significant digits so that two rows differing
    # only by rounding noise still sort into the same position
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def _close(a, b) -> bool:
    """Equal, with floats equal up to summation-order rounding: the
    engines may add in different orders, which can move a rounded sum
    by one unit in its last kept digit (relative error ~1e-10)."""
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(cols_a, rows_a, cols_b, rows_b) -> bool:
    """Order-insensitive comparison of two result sets whose columns
    may come in different orders."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False

    def norm(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [tuple(_canon(r[i]) for i in order) for r in rows]
        return sorted(out, key=lambda t: tuple(_sort_key(x) for x in t))

    return all(
        _close(x, y) for x, y in zip(norm(cols_a, rows_a), norm(cols_b, rows_b))
    )


def spark_env(workdir: str, cpus: int) -> dict[str, str]:
    """Environment for a benchmark process that starts Spark: every
    scratch file (shuffle spills, JVM temp files, Python temp files)
    lands under ``workdir``, and the engine sizes itself for ``cpus``."""
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher included: temp files here,
        # and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS") or str(cpus),
    }


def setup(sf_dir: str, table: str, cpus: int):
    """The program's set-up, as a nightly job pays it: import the
    engine, start the session, register every plan, open the first
    table. Returns ``(spark, registry, timings)``."""
    t0 = time.perf_counter()
    from drive_bc_datapipeline_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cpus}]")
    t2 = time.perf_counter()
    from drive_bc_datapipeline_spark.plans import registry

    registry.load_all_plans()
    t3 = time.perf_counter()
    registry.t(spark, sf_dir, table).schema  # noqa: B018 — footer read
    t4 = time.perf_counter()
    return spark, registry, {
        "setup_s": t4 - t0,
        "import_s": t1 - t0,
        "get_spark_s": t2 - t1,
        "load_all_plans_s": t3 - t2,
        "first_table_s": t4 - t3,
    }


def stop_session(spark) -> None:
    """Stop Spark and wait until the driver JVM and every process it
    started (the Python worker daemon and workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_gone(spawned)


def wait_gone(pids, timeout: float = 30.0) -> None:
    """Wait for ``pids`` to exit; kill any still alive at ``timeout``."""
    deadline = time.monotonic() + timeout
    killed = False
    while alive := [p for p in pids if _alive(p)]:
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} did not exit")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
