"""Measurement plumbing shared by the workloads.

* :class:`Outcome` -- the run's operation counts, metrics and details;
* :func:`fold` -- a chunk/result table folded to a row count plus an
  order-independent digest (every column reaches the hash, so no
  expression can be pruned away);
* host-noise probes (``/proc/stat`` steal, the md5 calibration loop,
  load average) and :class:`RssSampler`, the peak RSS of this process
  tree;
* :func:`event_log_stages` -- per-stage task statistics from a Spark
  event log, grouped by the ``perfbench.label`` local property the
  workloads set around each action.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Dict, List

LABEL_PROP = "perfbench.label"
#: the SQL metric Spark's Python operators record per task
PY_SENT = "data sent to Python workers"


class Outcome:
    """What one benchmark run reports."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: List[str] = []
        self.metrics: Dict[str, tuple] = {}
        self.detail: Dict[str, object] = {}
        self.steal: List[float] = []

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (value, unit)

    def check(self, what: str, ok: bool) -> bool:
        """An output check that guards a timed operation already
        counted: a failure turns one attempted operation into a failed
        one."""
        if not ok:
            self.failed = min(self.failed + 1, max(self.attempted, 1))
            self.errors.append(f"check failed: {what}")
        return ok

    @contextmanager
    def op(self, name: str, fatal: bool = True):
        """One timed operation: counted as attempted, and as failed if
        it raises. With ``fatal`` the exception propagates and ends the
        run; otherwise the run goes on without this operation's result
        (the repeated operations, whose later passes stand in for it)."""
        self.attempted += 1
        st0 = cpu_stat()
        try:
            yield
        except Exception as e:
            self.failed += 1
            self.errors.append(f"{name}: {e!r}"[:300])
            if fatal:
                raise
        finally:
            self.steal.append(steal_pct(st0, cpu_stat()))


@contextmanager
def labelled(spark, label: str):
    """Tag every job started inside the block with ``label`` (read back
    from the event log by :func:`event_log_stages`)."""
    sc = spark.sparkContext
    sc.setLocalProperty(LABEL_PROP, label)
    try:
        yield
    finally:
        sc.setLocalProperty(LABEL_PROP, None)


def fold(df) -> tuple:
    """``(rows, digest)`` of a DataFrame, independent of row order."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns]).alias("h")
    n, s, x = (
        df.select(h)
        .agg(
            F.count(F.lit(1)),
            F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))),
            F.bit_xor("h"),
        )
        .first()
    )
    return int(n), f"{(s or 0) & (2**64 - 1):016x}{(x or 0) & (2**64 - 1):016x}"


# ---------------------------------------------------------------------------
# host noise
# ---------------------------------------------------------------------------


def cpu_stat() -> List[int]:
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_pct(before: List[int], after: List[int]) -> float:
    if len(before) < 8 or len(after) < 8:
        return -1.0
    d = [b - a for a, b in zip(before, after)]
    tot = sum(d)
    return round(100.0 * d[7] / tot, 3) if tot else 0.0


def md5_calib() -> float:
    """Seconds of a fixed single-core md5 loop: a slow host shows here
    whatever the engine does."""
    buf = b"\xab" * 65536
    t0 = time.perf_counter()
    h = buf
    for _ in range(2000):
        h = hashlib.md5(h).digest() + buf
    return round(time.perf_counter() - t0, 4)


def host_noise(outcome: Outcome) -> dict:
    return {
        "nproc": nproc(),
        "loadavg": list(os.getloadavg()),
        "md5_calib_s": md5_calib(),
        "steal_pct_per_op": outcome.steal,
    }


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-linux
        return os.cpu_count() or 1


# ---------------------------------------------------------------------------
# peak RSS of the process tree
# ---------------------------------------------------------------------------


def _proc_table() -> tuple:
    """``(children by parent pid, RSS kB by pid, JVM pids)`` of every
    process."""
    children: Dict[int, List[int]] = {}
    rss: Dict[int, int] = {}
    jvm = set()
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                name, fields = f.read().rsplit(")", 1)
            fields = fields.split()
            children.setdefault(int(fields[1]), []).append(int(d))
            rss[int(d)] = int(fields[21]) * page_kb
            if name.endswith("(java"):
                jvm.add(int(d))
        except (OSError, ValueError, IndexError):
            continue
    return children, rss, jvm


def _tree(children: Dict[int, List[int]], root: int) -> List[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> List[int]:
    return _tree(_proc_table()[0], root)[1:]


class RssSampler:
    """Samples the RSS of this process and all its descendants while
    :meth:`active` blocks run, split into the driver JVM and the Python
    processes (this one and Spark's Python workers). The JVM's share is
    mostly heap its garbage collector has not yet shrunk, which moves
    ~20% between identical runs; the Python share follows the data."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_kb = {"tree": 0, "jvm": 0, "python": 0}
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self, me: int) -> None:
        children, rss, jvm = _proc_table()
        pids = _tree(children, me)
        java = sum(rss.get(p, 0) for p in pids if p in jvm)
        rest = sum(rss.get(p, 0) for p in pids if p not in jvm)
        for k, v in (("tree", java + rest), ("jvm", java), ("python", rest)):
            self.peak_kb[k] = max(self.peak_kb[k], v)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            if self._on.wait(0.2):
                self._sample(me)
                self._stop.wait(self.interval_s)

    @contextmanager
    def active(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()

    def close(self) -> Dict[str, float]:
        """Peak MB of the whole tree, the JVM and the Python processes."""
        self._stop.set()
        self._thread.join()
        return {k: v / 1024.0 for k, v in self.peak_kb.items()}


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def _acc(entries, key: str) -> Dict[str, float]:
    out: Dict[str, float] = {}
    for a in entries or ():
        try:
            out[a["Name"]] = out.get(a["Name"], 0.0) + float(a[key])
        except (KeyError, TypeError, ValueError):
            continue
    return out


def event_log_stages(log_dir: str) -> Dict[str, List[dict]]:
    """Per label: one summary per completed stage of the jobs run under
    that label (read after the session has stopped, when the log is
    complete)."""
    # stage ids restart in every application, so key them by its log
    stage_label: Dict[tuple, str] = {}
    tasks: Dict[tuple, List[dict]] = {}
    stages: Dict[tuple, dict] = {}
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    for path in paths:
        app = os.path.dirname(path)
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    label = (ev.get("Properties") or {}).get(LABEL_PROP)
                    if label:
                        for sid in ev.get("Stage IDs", ()):
                            stage_label[app, sid] = label
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    tasks.setdefault((app, ev["Stage ID"]), []).append(
                        {
                            "s": (info.get("Finish Time", 0) - info.get("Launch Time", 0))
                            / 1000.0,
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                            "shuffle_read": sum(
                                (m.get("Shuffle Read Metrics") or {}).get(k, 0)
                                for k in ("Remote Bytes Read", "Local Bytes Read")
                            ),
                            "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "acc": _acc(info.get("Accumulables"), "Update"),
                        }
                    )
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    stages[app, si["Stage ID"]] = {
                        "wall_s": (si.get("Completion Time", 0) - si.get("Submission Time", 0))
                        / 1000.0,
                    }
    out: Dict[str, List[dict]] = {}
    for sid, label in stage_label.items():
        if sid not in stages or not tasks.get(sid):
            continue
        ts = tasks[sid]
        durs = [t["s"] for t in ts]
        # skew among the tasks that fed Python, where a stage has any:
        # a partition with no rows finishes in milliseconds
        fed = [t["s"] for t in ts if t["acc"].get(PY_SENT, 0) > 0] or durs
        acc: Dict[str, float] = {}
        for t in ts:
            for k, v in t["acc"].items():
                acc[k] = acc.get(k, 0.0) + v
        out.setdefault(label, []).append(
            {
                "stage": sid[1],
                "wall_s": stages[sid]["wall_s"],
                "tasks": len(ts),
                "task_s": durs,
                "max_over_median": max(fed) / max(statistics.median(fed), 1e-3),
                "gc_s": sum(t["gc_s"] for t in ts),
                "in_bytes": sum(t["in_bytes"] for t in ts),
                "shuffle_read": sum(t["shuffle_read"] for t in ts),
                "shuffle_write": sum(t["shuffle_write"] for t in ts),
                "python_sent": acc.get(PY_SENT, 0.0),
                "python_returned": acc.get("data returned from Python workers", 0.0),
            }
        )
    return out


def dir_bytes(path: str, suffix: str = "") -> tuple:
    """``(files, bytes)`` of the regular files under ``path``."""
    n = b = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(suffix) and not fn.startswith((".", "_")):
                n += 1
                b += os.path.getsize(os.path.join(root, fn))
    return n, b


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
