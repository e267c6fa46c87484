"""fs2_data_spark benchmark: end-to-end metrics per workload, and a traced
run that splits them by layer.

    python3 pitbench/run.py --workload pit_skewed --seed 1 --seconds 10 --trace 0

Run from the repository root (any directory works: the repository is found
relative to this file). Workloads: pit_skewed, pit_backfill, query_mix,
python_tier (see ``workloads.py`` and ``README.md``). The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; lines
before it give provenance, sample counts and workload-named figures.

One run: start Spark on ``local[nproc]``; set up three times (generate the
seeded input, write parquet, compute hot-key statistics) and keep the last;
warm up; run the workload's ops in a closed loop with one client for
``--seconds`` (whole passes); then check outputs against references outside
the engine. ``--trace 1`` instead alternates untraced and traced segments of
``--seconds / 2`` each (twice) and reports per-layer metrics from the traced
ones plus the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from pathlib import Path

import measure
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
K_SETUP = 3  # set-up repetitions; setup_s uses their median

E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_s": "s", "op_cpu_s": "s",
             "mix_wall_s": "s"}


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def host_ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        return int(fh.readline().split()[1]) // 1024


def configure_host(work: Path, nproc: int) -> dict:
    """Environment for a single-host run: Spark scratch and temp files in
    the work directory, a driver heap well below host RAM, and the
    repository on the Python workers' path."""
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    mem_mb = max(1024, min(2048, host_ram_mb() // 4))
    os.environ["SPARK_DRIVER_MEM"] = f"{mem_mb}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # the JVM spark-submit starts to build the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    return {"driver_mem_mb": mem_mb}


def spark_conf(work: Path, event_dir: Path | None) -> dict:
    # The driver heap is committed and touched at start (-Xms = heap size,
    # AlwaysPreTouch): when and how far G1 grows the heap is timing-driven,
    # and peak RSS varied by a quarter run to run on the same input with a
    # growing heap. Warm-up is there to take code generation and JIT
    # compilation out of the timed ops, and two settings let it:
    # - the codegen cache holds every class of a workload's plans; with
    #   Spark's default of 100 entries a pit_skewed pass evicted its own
    #   classes and compiled them again on every pass;
    # - the JIT stops at C1: C2 never settled within a run (a pit_skewed
    #   pass kept getting faster by a quarter over a whole run, at a pace
    #   that differed from run to run), and its compiler threads took 3-4
    #   CPU-s per python_tier pass from the Python workers.
    # Builder options persist across sessions in one process, so the event
    # log is switched off explicitly rather than left out.
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'} "
                                          f"-Xms{os.environ['SPARK_DRIVER_MEM']} "
                                          "-XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"),
        "spark.sql.codegen.cache.maxEntries": "5000",
        "spark.eventLog.enabled": "true" if event_dir else "false",
    }
    if event_dir:
        conf.update({"spark.eventLog.dir": str(event_dir), "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def start_spark(work: Path, nproc: int, event_dir: Path | None = None):
    """Session on ``local[nproc]``; a traced session (``event_dir`` set) also
    logs events and profiles Python UDFs."""
    from fs2_data_spark.session import get_spark

    spark = get_spark(master=f"local[{nproc}]", app_name="pitbench",
                      shuffle_partitions=2 * nproc,
                      extra_conf=spark_conf(work, event_dir))
    if event_dir:
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    else:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    return spark


def restart_spark(spark, work: Path, nproc: int, event_dir: Path | None):
    """New SparkContext in the same JVM (so tracing conf can change)."""
    spark.stop()
    return start_spark(work, nproc, event_dir)


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the driver JVM (and so its Python workers)
    to exit: closing its stdin is PySpark's shutdown signal to the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, args, work: Path, nproc: int, t_proc0: float, sampler):
        self.args, self.work, self.nproc, self.t_proc0 = args, work, nproc, t_proc0
        self.sampler = sampler
        self.wl = workloads.WORKLOADS[args.workload]()
        self.ctx = workloads.Ctx(spark=None, seed=args.seed, work_dir=str(work / "out"),
                                 tracer=measure.Tracer(False))
        self.failures: list[tuple[str, str]] = []   # (op, error)
        self.attempted = 0
        self.layer: dict[str, float] = {}

    # -- set-up ---------------------------------------------------------------
    def setup(self) -> dict:
        import inputs

        ctx, wl = self.ctx, self.wl
        ctx.spark = start_spark(self.work, self.nproc)
        ctx.spark.range(1).count()  # first job: executor and codegen start-up
        session_s = time.perf_counter() - self.t_proc0
        reps, fps = [], []
        for k in range(K_SETUP):
            t0 = time.perf_counter()
            tables = wl.generate(self.args.seed)
            fps.append(inputs.fingerprint(tables))
            data_dir = str(self.work / f"input-{k}")
            inputs.write_tables(tables, data_dir)
            t1 = time.perf_counter()
            ctx.data_dir = data_dir
            wl.hot_stats(ctx)
            t2 = time.perf_counter()
            reps.append((t1 - t0, t2 - t1))
            if k:
                shutil.rmtree(self.work / f"input-{k - 1}")
        self.tables = tables
        self.fingerprint = fps[-1]
        self.check("same_seed_same_input", len(set(fps)) == 1, f"fingerprints {fps}")
        t0 = time.perf_counter()
        self.guard("warmup", lambda: wl.warmup(ctx))
        warmup_s = time.perf_counter() - t0
        rep_s = [a + b for a, b in reps]
        med = measure.median
        self.layer.update({
            "setup.session_s": session_s, "setup.input_s": med([a for a, _ in reps]),
            "setup.hot_stats_s": med([b for _, b in reps]), "setup.warmup_s": warmup_s,
            "segmented.hot_keys": len(ctx.hot_keys),
            "segmented.hot_row_share": wl.hot_row_share(tables, ctx.hot_keys),
        })
        return {"setup_s": session_s + med(rep_s) + warmup_s}

    # -- bookkeeping ----------------------------------------------------------
    def check(self, name: str, ok: bool, detail: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append((name, detail))

    def guard(self, name: str, fn):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - counted as a failed op, run continues
            import traceback
            traceback.print_exc(file=sys.stderr)
            self.failures.append((name, f"{type(e).__name__}: {str(e)[:200]}"))
            return None

    # -- closed loop ----------------------------------------------------------
    def loop(self, seconds: float, on_op=None) -> "Samples":
        """Whole passes over the op list until ``seconds`` have elapsed. Per op:
        wall time, CPU time of the process tree, and host-wide steal (the
        last only to explain noise)."""
        m, smp = measure, Samples()
        ops = self.wl.ops(self.ctx)
        deadline = time.perf_counter() + seconds
        while True:
            wall = 0.0
            for op in ops:
                self.attempted += 1
                with self.ctx.tracer.span("op", op=f"{op.name}#{self.attempted}") as sp:
                    c0, s0, t0 = m.tree_cpu_s(), m.steal_s(), time.perf_counter()
                    res = self.guard(op.name, lambda: op.fn(self.ctx))
                    dt = time.perf_counter() - t0
                    smp.add(op.name, dt, m.tree_cpu_s() - c0, m.steal_s() - s0)
                wall += dt
                if res is not None and op.after:
                    self.guard(op.name, lambda: op.after(self.ctx, res))
                if on_op:
                    on_op(sp, res)
            smp.passes.append(wall)
            if time.perf_counter() >= deadline:
                return smp

    def e2e(self, smp: "Samples") -> dict:
        """``mix_wall_s`` adds up each op's median rather than taking the
        median pass: a run holds few passes, and one slow op would otherwise
        move the whole pass it fell in."""
        med = measure.median
        return {"op_p50_s": med(smp.all("wall")), "op_cpu_s": med(smp.all("cpu")),
                "mix_wall_s": sum(med(ts) for ts in smp.wall.values())}

    # -- verification ---------------------------------------------------------
    def verify(self) -> None:
        import inputs

        for name, ok, detail in self.ctx.checks:
            self.check(name, ok, detail)
        self.ctx.checks.clear()
        for name, ok, detail in self.guard("verify", lambda: self.wl.verify(self.ctx)) or []:
            self.check(name, ok, detail)
        other = inputs.fingerprint(self.wl.generate(self.args.seed + 1))
        self.check("other_seed_other_input", other != self.fingerprint,
                   f"seed {self.args.seed + 1} fingerprint {other}")
        tail = measure.tail_percentile(list(range(100)))
        self.check("tail_percentile_helper", tail == (90.0, 89, 100) and
                   measure.tail_percentile(list(range(19))) is None, f"{tail}")

    # -- runs -----------------------------------------------------------------
    def run_untraced(self) -> dict:
        metrics = self.setup()
        t0 = time.perf_counter()
        smp = self.loop(self.args.seconds)
        t1 = time.perf_counter()
        metrics["peak_rss_mb"] = self.sampler.peak_mb()
        metrics.update(self.e2e(smp))
        self.verify()
        print("phases: " + ", ".join(f"{k} {v:.2f}" for k, v in self.layer.items()
                                     if k.startswith("setup.")) +
              f", measure {t1 - t0:.2f}, verify {time.perf_counter() - t1:.2f} s")
        self.report(metrics, smp)
        return {k: (metrics[k], u) for k, u in E2E_UNITS.items()}

    def run_traced(self) -> dict:
        """Untraced and traced segments alternate (A B A B), each on a fresh
        SparkContext in the same JVM, so order effects hit both sides."""
        import layers

        self.setup()
        ev_dir = self.work / "eventlog"
        ev_dir.mkdir()
        tracer = measure.Tracer(True)
        collector = layers.OpCollector(str(self.work / "profile"), str(ROOT / "fs2_data_spark"))
        segments: dict[bool, list] = {False: [], True: []}
        for traced in (False, True, False, True):
            t0 = time.perf_counter()
            self.ctx.spark = restart_spark(self.ctx.spark, self.work, self.nproc,
                                           ev_dir if traced else None)
            restart_s = time.perf_counter() - t0
            tracer.sc = self.ctx.spark.sparkContext
            self.ctx.tracer = tracer if traced else measure.Tracer(False)
            self.sampler.reset()
            if traced:
                with layers.checkpoint_spans(tracer):
                    smp = self.loop(self.args.seconds / 2,
                                    lambda sp, res: collector.on_op(self.ctx.spark, sp, res))
            else:
                smp = self.loop(self.args.seconds / 2)
            seg = self.e2e(smp)
            seg.update(setup_s=restart_s, peak_rss_mb=self.sampler.peak_mb())
            segments[traced].append(seg)
        with layers.checkpoint_spans(tracer):  # still on the last traced context
            self.guard("trace_extra", lambda: self.wl.trace_extra(self.ctx))
        # a restart closes the last traced context, which completes its event log
        self.ctx.spark = restart_spark(self.ctx.spark, self.work, self.nproc, None)
        self.ctx.tracer = measure.Tracer(False)
        self.verify()
        self.layer.update(layers.reduce(tracer, measure.EventLog(str(ev_dir))))
        med = measure.median
        for k in E2E_UNITS:
            base, traced = (med([s[k] for s in segments[t]]) for t in (False, True))
            self.layer[f"trace.overhead_pct.{k}"] = 100 * (traced - base) / base if base else 0.0
        tracer.dump(str(self.out_dir() / f"spans-{self.args.workload}-{self.args.seed}.json"))
        for k, v in sorted(self.layer.items()):
            print(f"{k:32s} {v:14.4f} {layers.UNITS[k]}")
        return {k: (v, layers.UNITS[k]) for k, v in sorted(self.layer.items())}

    def out_dir(self) -> Path:
        d = ROOT / ".pitbench_out"
        d.mkdir(exist_ok=True)
        return d

    # -- report ---------------------------------------------------------------
    def report(self, metrics: dict, smp: "Samples") -> None:
        med = measure.median
        print(f"samples: {len(smp.all('wall'))} ops over {len(smp.passes)} passes")
        for k, u in E2E_UNITS.items():
            print(f"{k:24s} {metrics[k]:12.4f} {u}")
        named = self.wl.named_metrics(self.ctx, self.tables, smp.wall, smp.passes)
        for k, (v, u) in named.items():
            print(f"{k:24s} {v:12.4f} {u}")
        for name, ts in smp.wall.items():
            tail = measure.tail_percentile(ts)
            tail_s = f" p{tail[0]:g}={tail[1]:.4f}" if tail else ""
            print(f"  op {name:32s} n={len(ts):3d} p50={med(ts):.4f} s{tail_s} "
                  f"cpu={med(smp.cpu[name]):.3f} s steal={med(smp.steal[name]):.3f} s")
        print(json.dumps({"samples_s": {"wall": smp.wall, "cpu": smp.cpu, "steal": smp.steal,
                                        "pass_wall": smp.passes}}))


class Samples:
    """Per-op samples of one closed loop, keyed by op name."""

    def __init__(self):
        self.wall: dict[str, list] = {}
        self.cpu: dict[str, list] = {}
        self.steal: dict[str, list] = {}
        self.passes: list[float] = []

    def add(self, name: str, wall: float, cpu: float, steal: float) -> None:
        for d, v in ((self.wall, wall), (self.cpu, cpu), (self.steal, steal)):
            d.setdefault(name, []).append(v)

    def all(self, kind: str) -> list[float]:
        return [v for vs in getattr(self, kind).values() for v in vs]


def provenance(args, nproc: int, host: dict) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc, "ram_mb": host_ram_mb(), **host,
            "python": platform.python_version(), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__}


def main(argv=None) -> int:
    t_proc0 = time.perf_counter() - process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "fs2_data_spark" / "__init__.py").is_file():
        print(f"fs2_data_spark not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    nproc = len(os.sched_getaffinity(0))
    work = ROOT / ".pitbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    host = configure_host(work, nproc)
    sampler = measure.RssSampler().start()
    bench = None
    try:
        bench = Bench(args, work, nproc, t_proc0, sampler)
        metrics = bench.run_traced() if args.trace else bench.run_untraced()
        sizes = bench.wl.sizes(bench.tables)
        print(json.dumps({"provenance": provenance(args, nproc, host), "input_rows": sizes,
                          "input_fingerprint": bench.fingerprint}))
        failed = len(bench.failures)
        print(f"error_rate {failed / max(bench.attempted, 1):.4f} ratio "
              f"({failed} of {bench.attempted} ops and checks)")
        for name, detail in bench.failures:
            print(f"  FAILED {name}: {detail}")
    finally:
        if bench is not None and bench.ctx.spark is not None:
            stop_jvm(bench.ctx.spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": bench.attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
