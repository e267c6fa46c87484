"""Measurement plumbing: summary statistics, a process-tree RSS sampler,
in-memory spans, the Spark event-log reduction and the UDF-profile split.

Nothing here imports the engine; the benchmark wraps calls into the engine
with these helpers from the outside.
"""

from __future__ import annotations

import glob
import json
import math
import os
import pstats
import re
import statistics
import threading
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail_percentile(xs, min_beyond: int = 10):
    """``(p, value, n)`` for the highest percentile of :data:`TAIL_LADDER`
    that leaves at least ``min_beyond`` samples above its nearest rank, or
    ``None`` when there are too few samples for any of them."""
    s = sorted(xs)
    n = len(s)
    for p in TAIL_LADDER:
        rank = max(math.ceil(p / 100 * n), 1)
        if n - rank >= min_beyond:
            return p, s[rank - 1], n
    return None


def union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]`` (in the
    unit of the arguments)."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---------------------------------------------------------------------------
# memory and CPU of the benchmark process plus every descendant (driver JVM,
# Python workers), from /proc
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _tree_stats(root: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of ``root`` and
    every descendant."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(p)] = fields
        children.setdefault(int(fields[1]), []).append(int(p))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            out[pid] = stats[pid]
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this process tree: the driver, its JVM and the Python workers."""
    tree = _tree_stats(root or os.getpid())
    return sum(sum(int(f[i]) for i in (11, 12, 13, 14)) for f in tree.values()) / _TICK


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far (all CPUs)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def _tree_rss_bytes(root: int) -> int:
    return sum(int(f[21]) for f in _tree_stats(root).values()) * _PAGE


class RssSampler:
    """Samples the summed RSS of this process tree every ``interval`` s;
    ``peak_mb()`` is the highest sum seen since the last ``reset()``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self._peak = max(self._peak, _tree_rss_bytes(root))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        self._peak = 0

    def peak_mb(self) -> float:
        return max(self._peak, _tree_rss_bytes(os.getpid())) / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans ``{id, op, name, parent, start, end}`` (epoch
    seconds). While a span is open the Spark job group is ``<op>/<id>``, so
    the event log attributes every job to the innermost span. Disabled, a
    span records nothing and touches no Spark state."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._next_id, "name": name,
               "op": op or (parent["op"] if parent else name),
               "parent": parent["id"] if parent else None, "start": time.time()}
        self._next_id += 1
        self._stack.append(rec)
        self.sc.setJobGroup(f"{rec['op']}/{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if parent:
                self.sc.setJobGroup(f"{parent['op']}/{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_ms(self, span: dict) -> float:
        """Duration minus the part of it covered by direct children."""
        kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"]]
        dur = span["end"] - span["start"]
        return 1000 * (dur - union_len(kids, span["start"], span["end"]))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), fh)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

PY_NODE = re.compile(r"Python|InPandas|InArrow")


class EventLog:
    """Job, stage and SQL-metric records of uncompressed event logs. Job and
    stage ids restart with every SparkContext, so they are keyed by
    ``(log file, id)``."""

    def __init__(self, log_dir: str):
        self.jobs: dict[tuple, dict] = {}
        self.stages: dict[tuple, dict] = {}
        self.task_ms: dict[tuple, list[float]] = {}
        self.acc_names: dict[int, tuple[str, str]] = {}  # acc id -> (node, metric)
        paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                       if os.path.isfile(p)
                       and not os.path.basename(p).startswith(("appstatus", ".")))
        for n, path in enumerate(paths):
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    self._event(n, json.loads(line))

    def _plan(self, info: dict) -> None:
        for m in info.get("metrics", ()):
            self.acc_names[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
        for child in info.get("children", ()):
            self._plan(child)

    def _event(self, n: int, ev: dict) -> None:
        et = ev.get("Event", "")
        if et == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[n, ev["Job ID"]] = {"group": props.get("spark.jobGroup.id"),
                                          "stages": [(n, s) for s in ev.get("Stage IDs", [])]}
        elif et == "SparkListenerTaskEnd":
            ti = ev.get("Task Info", {})
            self.task_ms.setdefault((n, ev["Stage ID"]), []).append(
                ti.get("Finish Time", 0) - ti.get("Launch Time", 0))
        elif et == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self.stages[n, info["Stage ID"]] = {
                "tasks": info.get("Number of Tasks", 0),
                "submit": info.get("Submission Time", 0),
                "complete": info.get("Completion Time", 0),
                "acc": {a["ID"]: (a.get("Name", ""), a.get("Value", 0))
                        for a in info.get("Accumulables", [])},
            }
        elif et.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            self._plan(ev.get("sparkPlanInfo", {}))

    def summarize(self, groups: set[str], windows: list[tuple[float, float]]) -> dict:
        """Totals over the jobs whose group is in ``groups``; the residue is
        the part of the ``windows`` (epoch-second intervals) that no stage of
        those jobs covers: driver-side time between and around stages."""
        jobs = [j for j in self.jobs.values() if j["group"] in groups]
        sids = sorted({s for j in jobs for s in j["stages"] if s in self.stages})
        out = dict.fromkeys(("stages", "tasks", "task_run_ms", "shuffle_write_mb",
                             "shuffle_read_mb", "spill_mb", "gc_ms", "task_skew",
                             *(key for key, _ in _PY_METRICS.values())), 0.0)
        out["jobs"] = len(jobs)
        intervals = []
        for sid in sids:
            st = self.stages[sid]
            acc = {name: v for name, v in st["acc"].values()}

            def num(key: str) -> float:
                try:
                    return float(acc.get(key, 0) or 0)
                except (TypeError, ValueError):
                    return 0.0
            out["stages"] += 1
            out["tasks"] += st["tasks"]
            out["task_run_ms"] += num("internal.metrics.executorRunTime")
            out["gc_ms"] += num("internal.metrics.jvmGCTime")
            out["shuffle_write_mb"] += num("internal.metrics.shuffle.write.bytesWritten") / 2**20
            out["shuffle_read_mb"] += (num("internal.metrics.shuffle.read.localBytesRead")
                                       + num("internal.metrics.shuffle.read.remoteBytesRead")) / 2**20
            out["spill_mb"] += num("internal.metrics.diskBytesSpilled") / 2**20
            for acc_id, (name, value) in st["acc"].items():
                node, metric = self.acc_names.get(acc_id, ("", name))
                if not PY_NODE.search(node):
                    continue
                key, scale = _PY_METRICS.get(metric, (None, 1))
                if key:
                    out[key] += _acc_number(value) / scale
            ts = sorted(self.task_ms.get(sid, ()))
            if ts and ts[len(ts) // 2] > 0:
                out["task_skew"] = max(out["task_skew"], ts[-1] / ts[len(ts) // 2])
            if st["submit"] and st["complete"]:
                intervals.append((st["submit"] / 1000, st["complete"] / 1000))
        out["residue_ms"] = 1000 * sum((hi - lo) - union_len(intervals, lo, hi) for lo, hi in windows)
        return out


# SQL metrics of Python plan nodes (summed over tasks; times in ms)
_PY_METRICS = {
    "data sent to Python workers": ("py_mb_in", 2**20),
    "data returned from Python workers": ("py_mb_out", 2**20),
    "number of output rows": ("py_rows", 1),
    "time to start Python workers": ("py_start_ms", 1),
    "time to initialize Python workers": ("py_init_ms", 1),
    "time to run Python workers": ("py_run_ms", 1),
}


def _acc_number(v) -> float:
    """SQL metric accumulables carry numbers, or strings such as '1.2 MiB'
    in older logs; only plain numbers are summed."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


# ---------------------------------------------------------------------------
# Python UDF profile (spark.sql.pyspark.udf.profiler=perf)
# ---------------------------------------------------------------------------

def own_functions(package_dir: str) -> set[tuple[str, str]]:
    """``(file basename, function name)`` of every function defined in the
    package. The UDF profile names files by basename only, so a name pair
    (not a path) identifies the package's own code."""
    import ast

    out = set()
    for path in glob.glob(os.path.join(package_dir, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        base = os.path.basename(path)
        for n in ast.walk(tree):
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out.add((base, n.name))
            elif isinstance(n, ast.Lambda):
                out.add((base, "<lambda>"))
    return out


def drain_perf_profile(spark, out_dir: str, own: set[tuple[str, str]]) -> tuple[float, float]:
    """``(kernel_s, rest_s)`` of the perf profiles collected since the last
    call: own time in the package's functions (``own``), and every other
    function's own time (imports, unpickling, Arrow serde, the worker
    loop). Clears the collected profiles."""
    os.makedirs(out_dir, exist_ok=True)
    for f in glob.glob(os.path.join(out_dir, "*")):
        os.remove(f)
    spark.profile.dump(out_dir, type="perf")
    spark.profile.clear(type="perf")
    kernel = rest = 0.0
    for f in glob.glob(os.path.join(out_dir, "*")):
        for (path, _line, fn), (_cc, _nc, tt, _ct, _callers) in pstats.Stats(f).stats.items():
            if (os.path.basename(path), fn) in own:
                kernel += tt
            else:
                rest += tt
    return kernel, rest
