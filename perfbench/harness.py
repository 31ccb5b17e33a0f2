"""Run context shared by the workloads: paths, the Spark session, the peak-RSS
sampler and the result record."""

from __future__ import annotations

import contextlib
import os
import shutil
import threading
import time
import traceback

LAYER_METRICS = {
    # name: unit
    "extract.wall_s": "s", "extract.udf_task_s": "s", "extract.task_skew": "ratio",
    "extract.side_rows": "rows", "extract.audit_s": "s",
    "triples.parse_us": "us", "triples.semantics_us": "us",
    "triples.per_record": "triples", "triples.golden_s": "s",
    "canonicalize.dedup_s": "s", "canonicalize.dedup_shuffle_mb": "MB",
    "canonicalize.dedup_drop_ratio": "ratio", "canonicalize.cc_s": "s",
    "canonicalize.cc_jobs": "count", "canonicalize.cc_stages": "count",
    "canonicalize.cc_loop_s": "s", "canonicalize.cc_iter_max_s": "s",
    "canonicalize.cc_iterations": "count",
    "link.s": "s", "link.shuffle_mb": "MB", "link.task_skew": "ratio",
    "link.join_rows": "rows",
    "materialize.nodes_s": "s", "materialize.lineage_s": "s",
    "materialize.write_mb": "MB",
    "pipeline.jobs": "count", "pipeline.stages": "count", "pipeline.tasks": "count",
    "pipeline.failed_tasks": "count", "pipeline.shuffle_mb": "MB",
    "pipeline.spill_mb": "MB", "pipeline.tail_s": "s",
    "pipeline.tail_overlap": "ratio", "pipeline.untraced_s": "s",
    "pipeline.session_start_s": "s", "pipeline.peak_rss_mb": "MB",
    "textops.ngram_jaccard_s": "s", "textops.minhash_lsh_s": "s",
    "textops.simhash_s": "s", "textops.ngram_task_skew": "ratio",
    "textops.shuffle_mb": "MB",
    "simsearch.embedding_neardup_s": "s", "simsearch.cosine_topk_s": "s",
    "simsearch.lsh_topk_s": "s", "simsearch.ivf_topk_s": "s",
    "simsearch.ivf_materialized_s": "s",
    "trace.overhead": "ratio",
}

END_TO_END_METRICS = {"wall_s": "s", "rows_per_s": "rows/s", "setup_s": "s"}

# setup is repeated this many times per run and reported as the median
SETUP_REPS = 3


def dir_mb(path: str) -> float:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return pids


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


class PeakRss:
    """Samples the resident memory of a process tree (the Spark JVM plus the
    Python workers it forks) from /proc while active."""

    INTERVAL_S = 0.2

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree(self.pid):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


class Run:
    """One benchmark run: arguments, scratch space inside the checkout, the
    Spark session, and the tally of attempted and failed operations."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(root, "perfbench", "_work")
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.checks: list[dict] = []
        self.detail: dict = {}
        self.layers = {name: 0.0 for name in LAYER_METRICS}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Wall time of one phase of the run, kept in the details."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.detail.setdefault("phases_s", {})[name] = round(
                time.perf_counter() - t0, 3)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self) -> float:
        """Start Spark at local[<cpus>] with the program's own session
        defaults; returns the start-up time.  Traced runs turn the event log
        on; untraced runs leave it off."""
        from olkg.session import build_session
        tmp = self.path("tmp")
        conf = {"spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.path("eventlog")
            conf["spark.eventLog.compress"] = "false"
        t0 = time.perf_counter()
        self.spark = build_session(app_name=f"perfbench-{self.workload}",
                                   master=f"local[{self.cpus}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def stop_session(self) -> None:
        """Stop Spark and its JVM, and wait until the JVM and the Python
        workers it forked have exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        self.spark.stop()
        self.spark = None
        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        pids = process_tree(gateway.proc.pid)
        gateway.shutdown()
        # the JVM exits when its stdin closes; its workers follow it
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        deadline = time.monotonic() + 60
        while any(_alive(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.1)

    def check(self, name: str, **values) -> None:
        """Record a correctness check; every value must be 0 to pass."""
        ok = all(v == 0 for v in values.values())
        self.checks.append({"op": name, "ok": ok, **values})
        if not ok:
            self.fail(f"{name}: {values}")

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg)

    def attempt(self, name: str, fn, *args):
        """Run one operation; an exception counts as a failure and is kept
        on record with its traceback."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # a failing operation is a result, not a crash
            self.fail(f"{name}: {traceback.format_exc(limit=4)}")
            return None

    def timed_loop(self, call) -> list[float]:
        """Closed loop, one caller: each call starts after the previous one
        returned, until ``seconds`` of calls have been measured.  The first
        call always runs; it is the end-to-end sample (see README).  ``call``
        returns its wall time, or None on failure."""
        walls: list[float] = []
        while not walls or sum(walls) < self.seconds:
            w = call()
            if w is None:
                break
            walls.append(w)
        return walls

    @staticmethod
    def trace_overhead(traced_wall: float, bookkeeping_s: float) -> float:
        """Traced wall ÷ the same wall less the tracer's own time, summed
        over the threads that opened spans.  Spark's event log, written on
        its listener thread, is not counted.  (A ratio to an untraced run in
        another process would mostly measure how the host's speed drifted
        between the two.)"""
        return traced_wall / (traced_wall - bookkeeping_s)

    def result(self, setup_s: float, walls: list[float], rows: float) -> dict:
        correct = self.failed == 0 and bool(walls)
        if self.trace:
            metrics = {k: {"value": float(v), "unit": LAYER_METRICS[k]}
                       for k, v in self.layers.items()}
        else:
            values = {"wall_s": walls[0] if walls else 0.0,
                      "rows_per_s": rows / walls[0] if walls else 0.0,
                      "setup_s": setup_s}
            metrics = {k: {"value": v, "unit": END_TO_END_METRICS[k]}
                       for k, v in values.items()}
        self.detail.update(setup_s=setup_s, walls_s=walls, checks=self.checks,
                           failures=self.failures)
        return {"correct": correct, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    def cleanup(self) -> None:
        self.stop_session()
        shutil.rmtree(self.work, ignore_errors=True)
