"""Per-layer metrics of a traced run.

Layers, named after the repository's modules: ``session``/``tables``
(set-up), ``queries``/``pipeline`` plan build, Catalyst, ``operators``/
``pipeline`` execution, ``operators.segmented``, the Python workers
(``functions.*kernels`` and the format engines) and ``checkpoint``.

Each traced op is a span tree ``op -> build | exec -> ckpt.*``; each span's
Spark jobs carry its job group. Checkpoint figures come from every
``ckpt.backfill``/``ckpt.resume``/``ckpt.verify`` span of the run, whether it
sits under an op or under the extra ``ckpt.cycle`` a workload runs at the end
of a traced run. After every op, outside its timing,
:class:`OpCollector` records the plan's Catalyst phase times and node counts
and drains the Python UDF profile. :func:`reduce` joins that with the event
log and reports the median over ops of each per-op figure.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

import measure

UNITS = {
    "setup.session_s": "s", "setup.input_s": "s", "setup.hot_stats_s": "s", "setup.warmup_s": "s",
    "build.ms": "ms", "build.jobs": "count",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "plan.exchanges": "count", "plan.python_nodes": "count",
    "exec.ms": "ms", "exec.stages": "count", "exec.tasks": "count", "exec.task_run_ms": "ms",
    "exec.task_skew": "ratio", "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.gc_ms": "ms", "exec.residue_ms": "ms",
    "segmented.hot_keys": "count", "segmented.hot_row_share": "ratio",
    "py.kernel_s": "s", "py.worker_overhead_s": "s", "py.arrow_mb_in": "MB",
    "py.arrow_mb_out": "MB", "py.rows": "count", "py.worker_start_ms": "ms",
    "py.worker_init_ms": "ms", "py.worker_run_ms": "ms",
    "ckpt.snapshot_ms": "ms", "ckpt.write_partition_ms_p50": "ms",
    "ckpt.write_partition_ms_max": "ms", "ckpt.jobs": "count", "ckpt.mb_written": "MB",
    "ckpt.manifests": "count", "ckpt.resume_buckets": "count", "ckpt.resume_jobs": "count",
    "ckpt.verify_ms": "ms",
    "self.op_ms": "ms", "self.build_ms": "ms", "self.exec_ms": "ms",
    "trace.overhead_pct.setup_s": "%", "trace.overhead_pct.peak_rss_mb": "%",
    "trace.overhead_pct.op_p50_s": "%", "trace.overhead_pct.op_cpu_s": "%",
    "trace.overhead_pct.mix_wall_s": "%",
}

_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)")


def plan_stats(df) -> dict:
    """Catalyst phase times of ``df``'s query execution (planning is forced
    here, after the op) and its physical node counts."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()

    def ms(phase: str) -> float:
        opt = phases.get(phase)
        return float(opt.get().durationMs()) if opt.isDefined() else 0.0
    names = [m.group(1) for m in map(_NODE.match, plan.splitlines()) if m]
    return {
        "plan.analysis_ms": ms("analysis"), "plan.optimization_ms": ms("optimization"),
        "plan.planning_ms": ms("planning"),
        "plan.exchanges": sum(n.endswith("Exchange") and n != "ReusedExchange" for n in names),
        "plan.python_nodes": sum(bool(measure.PY_NODE.search(n)) for n in names),
    }


class OpCollector:
    """Untimed per-op probes of a traced segment, stored on the op span."""

    def __init__(self, profile_dir: str, package_dir: str):
        self.profile_dir = profile_dir
        self.own = measure.own_functions(package_dir)

    def on_op(self, spark, span: dict, res) -> None:
        rec = {}
        df = res.get("df") if isinstance(res, dict) else res
        if df is not None and hasattr(df, "_jdf"):
            rec.update(plan_stats(df))
        rec["py.kernel_s"], rec["py.worker_overhead_s"] = measure.drain_perf_profile(
            spark, self.profile_dir, self.own)
        span["layer"] = rec


@contextmanager
def checkpoint_spans(tracer: measure.Tracer):
    """Wrap ``checkpoint.input_snapshot_id`` and ``checkpoint.write_partition``
    (module attributes, looked up by ``run_resumable`` at call time) in spans."""
    from fs2_data_spark import checkpoint

    saved = {"input_snapshot_id": checkpoint.input_snapshot_id,
             "write_partition": checkpoint.write_partition}

    def wrap(span_name, fn):
        def traced(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)
        return traced
    checkpoint.input_snapshot_id = wrap("ckpt.snapshot", saved["input_snapshot_id"])
    checkpoint.write_partition = wrap("ckpt.write_partition", saved["write_partition"])
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(checkpoint, name, fn)


def _subtree(spans: list[dict], root: dict) -> list[dict]:
    ids, out = {root["id"]}, [root]
    for s in sorted(spans, key=lambda s: s["id"]):
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def _groups(spans: list[dict], roots: list[dict]) -> set[str]:
    return {f"{s['op']}/{s['id']}" for r in roots for s in _subtree(spans, r)}


def reduce(tracer: measure.Tracer, log: measure.EventLog) -> dict:
    spans = tracer.spans
    per_op = []
    for op in tracer.named("op"):
        tree = _subtree(spans, op)
        builds = [s for s in tree if s["name"] == "build"]
        execs = [s for s in tree if s["name"] == "exec"]
        b = log.summarize(_groups(spans, builds), [(s["start"], s["end"]) for s in builds])
        e = log.summarize(_groups(spans, execs), [(s["start"], s["end"]) for s in execs])
        rec = dict.fromkeys(UNITS, 0.0)
        rec.update(op.get("layer", {}))
        rec.update({
            "build.ms": sum(1000 * (s["end"] - s["start"]) for s in builds),
            "build.jobs": b["jobs"],
            "exec.ms": sum(1000 * (s["end"] - s["start"]) for s in execs),
            "py.arrow_mb_in": e["py_mb_in"], "py.arrow_mb_out": e["py_mb_out"],
            "py.rows": e["py_rows"], "py.worker_start_ms": e["py_start_ms"],
            "py.worker_init_ms": e["py_init_ms"], "py.worker_run_ms": e["py_run_ms"],
            "self.op_ms": tracer.self_ms(op),
            "self.build_ms": sum(tracer.self_ms(s) for s in builds),
            "self.exec_ms": sum(tracer.self_ms(s) for s in execs),
        })
        rec.update({f"exec.{k}": e[k] for k in ("stages", "tasks", "task_run_ms", "task_skew",
                                                "shuffle_write_mb", "shuffle_read_mb",
                                                "spill_mb", "gc_ms", "residue_ms")})
        per_op.append(rec)
    out = {k: measure.median([r[k] for r in per_op]) for k in UNITS
           if not k.startswith(("setup.", "segmented.", "trace.", "ckpt."))}
    out.update(_checkpoint(tracer, log))
    return out


def _checkpoint(tracer: measure.Tracer, log: measure.EventLog) -> dict:
    """Checkpoint figures over every traced backfill cycle (medians over
    cycles; write_partition over all bucket writes)."""
    spans = tracer.spans

    def ms(name: str) -> list[float]:
        return [1000 * (s["end"] - s["start"]) for s in tracer.named(name)]

    def jobs(name: str) -> list[int]:
        return [log.summarize(_groups(spans, [s]), [])["jobs"] for s in tracer.named(name)]
    writes = ms("ckpt.write_partition")
    stats = [s["stats"] for s in spans if "stats" in s]
    out = {
        "ckpt.snapshot_ms": measure.median(ms("ckpt.snapshot")),
        "ckpt.write_partition_ms_p50": measure.median(writes),
        "ckpt.write_partition_ms_max": max(writes, default=0.0),
        "ckpt.jobs": measure.median(jobs("ckpt.backfill")),
        "ckpt.resume_jobs": measure.median(jobs("ckpt.resume")),
        "ckpt.verify_ms": measure.median(ms("ckpt.verify")),
    }
    for k in ("mb_written", "manifests", "resume_buckets"):
        out[f"ckpt.{k}"] = measure.median([st[k] for st in stats])
    return out
