"""Measurement plumbing shared by the workloads: spans, Spark job-group
counters, peak RSS of the process tree, and the session factory."""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from pathlib import Path


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def median(values) -> float:
    return float(statistics.median(values))


def whole_rounds(seconds: float):
    """Yield 0, 1, 2, ... for whole rounds of work (query passes, blocks
    of operations) until ``seconds`` have passed: at least one round, and
    the last one may run past the deadline."""
    deadline = time.perf_counter() + seconds
    n = 0
    while n == 0 or time.perf_counter() < deadline:
        yield n
        n += 1


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory span recorder.  A span is (id, name, parent, op, start,
    end); spans opened inside another span are its children, and every
    span carries the id of the operation it belongs to.  Disabled
    tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._next_op = 0

    @contextmanager
    def op(self, name: str):
        """Root span of one operation; nested spans inherit its op id."""
        if not self.enabled:
            yield
            return
        prev, self._op = self._op, self._next_op
        self._next_op += 1
        try:
            with self.span(name):
                yield
        finally:
            self._op = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "op": self._op, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it its child spans cover."""
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(self.children(span), key=lambda s: s["start"]):
            s, e = max(c["start"], span["start"]), min(c["end"], span["end"])
            if e <= s:
                continue
            if cur_end is None or s > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = s, e
            else:
                cur_end = max(cur_end, e)
        if cur_end is not None:
            covered += cur_end - cur_start
        return (span["end"] - span["start"]) - covered

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))


def traced_call(tracer: Tracer, name: str, fn, materialize=None):
    """Wrap ``fn`` so each call records a span named ``name``; with
    ``materialize`` the returned DataFrame is written to the noop sink
    inside the span, so the lazy layer's work lands on its boundary."""

    def wrapper(*args, **kwargs):
        with tracer.span(name):
            out = fn(*args, **kwargs)
            if materialize is not None:
                materialize(name, out)
            return out

    return wrapper


@contextmanager
def patched(targets):
    """Temporarily replace module/class attributes: ``targets`` is a list
    of (owner, attribute, replacement)."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, repl in targets:
            setattr(owner, attr, repl)
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# Spark counters per job group
# ---------------------------------------------------------------------------

COUNTER_KEYS = ("jobs", "stages", "tasks", "run_s", "cpu_s",
                "shuffle_write_bytes", "shuffle_read_bytes")


class JobCounters:
    """Tags each operation with its own Spark job group and harvests the
    group's jobs, stages and stage metrics right after the operation —
    the status store only retains the most recent 1000 jobs/stages."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, label: str, out: dict | None = None):
        """Run the body under a fresh job group; afterwards add the
        group's counters into ``out`` (a dict keyed by COUNTER_KEYS)."""
        gid = f"perfbench-{self._n}-{label}"
        self._n += 1
        self.sc.setJobGroup(gid, label)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            if out is not None:
                for k, v in self.harvest(gid).items():
                    out[k] = out.get(k, 0) + v

    def harvest(self, gid: str) -> dict:
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        no_tasks = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        res = dict.fromkeys(COUNTER_KEYS, 0)
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(gid):
            res["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        for sid in sorted(stage_ids):
            try:
                seq = store.stageData(sid, False, no_tasks, False,
                                      no_quantiles)
            except Py4JJavaError:  # stage evicted from the store
                continue
            for i in range(seq.size()):
                sd = seq.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                res["stages"] += 1
                res["tasks"] += int(sd.numCompleteTasks())
                res["run_s"] += sd.executorRunTime() / 1e3
                res["cpu_s"] += sd.executorCpuTime() / 1e9
                res["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
                res["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
        return res


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def _descendants(root: int) -> dict[int, str]:
    """pid -> command name of every process below ``root``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may contain spaces; ppid follows the last ')'
        parent[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
    tree, frontier = {}, [root]
    while frontier:
        p = frontier.pop()
        for pid, pp in parent.items():
            if pp == p and pid not in tree:
                try:
                    with open(f"/proc/{pid}/comm") as f:
                        tree[pid] = f.read().strip()
                except OSError:
                    continue
                frontier.append(pid)
    return tree


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            return next(int(line.split()[1]) for line in f
                        if line.startswith(field + ":"))
    except (OSError, StopIteration):
        return 0


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next(int(line.split()[1]) for line in f
                        if line.startswith("Pss:"))
    except (OSError, StopIteration):
        return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants.  The
    benchmark's Python process and the JVM count their high-water mark
    (``VmHWM``), which the kernel keeps, read at the end; Spark's Python
    workers, which come and go, count the peak of their summed
    proportional set size, sampled on a background thread, so pages the
    forked workers share count once."""

    INTERVAL_S = 0.5

    def __init__(self):
        self.parts_mb: dict[str, float] = {}
        self._workers_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.INTERVAL_S)

    def sample(self) -> None:
        tree = _descendants(os.getpid())
        self._workers_kb = max(self._workers_kb, sum(
            _pss_kb(pid) for pid, comm in tree.items() if comm != "java"))

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB.  Call it while the JVM
        still runs."""
        self._stop.set()
        self._thread.join()
        self.sample()
        jvm_kb = sum(_status_kb(pid, "VmHWM") for pid, comm
                     in _descendants(os.getpid()).items() if comm == "java")
        self.parts_mb = {
            "python": _status_kb(os.getpid(), "VmHWM") / 1024,
            "jvm": jvm_kb / 1024, "workers": self._workers_kb / 1024}
        return sum(self.parts_mb.values())


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

# G1 sizes its young generation from measured pause times, so on a loaded
# machine the JVM's peak memory followed the load; a fixed young
# generation keeps peak_rss_mb steady
YOUNG_GEN = "384m"


def start_session(work: Path, cpus: int):
    """SparkSession with the fmx defaults on local[cpus] and a fixed young
    generation; every temporary path Spark and the JVM write to is under
    ``work``."""
    from fmx.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                f"-Xmn{YOUNG_GEN}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def dispatch_floor_ms(spark, reps: int = 9) -> float:
    """Median wall time of an empty plan into the noop sink — the fixed
    per-job cost every Spark action pays."""
    empty = spark.range(0)
    noop_write(empty)
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        noop_write(empty)
        times.append((time.perf_counter() - t) * 1e3)
    return median(times)


SETUP_REPS = 3


def repeated_setup(ctx, build):
    """Set up SETUP_REPS times — ``fmx.session.get_spark`` plus
    ``build(spark, rep)`` (input generation and construction) — so
    ``setup_s`` is a median over repetitions.  The first repetition
    launches the JVM and the SparkContext; later ones get the live
    session back from ``get_spark`` and start from an empty cache.
    Returns (spark, last build's state, setup times, session-start
    times)."""
    setup, session = [], []
    spark = state = None
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.catalog.clearCache()
        t0 = time.perf_counter()
        spark = start_session(ctx.work, ctx.cpus)
        t1 = time.perf_counter()
        state = build(spark, rep)
        setup.append(time.perf_counter() - t0)
        session.append(t1 - t0)
    ctx.details["setup_runs_s"] = [round(s, 3) for s in setup]
    return spark, state, setup, session


def shutdown() -> None:
    """Stop the active SparkContext, if any, and the JVM behind it, and
    wait for the JVM to exit."""
    from pyspark import SparkContext

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
        if proc.stdin is not None:
            proc.stdin.close()   # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
