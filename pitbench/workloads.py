"""The four benchmark workloads. ``BENCHMARK.json`` lists pit_skewed and
python_tier; pit_backfill and query_mix run the same way by hand.

Each workload generates its own seeded input (``inputs``), names the ops one
closed-loop client runs over it, warms up, and checks the engine's outputs
against references outside the engine (``verify``). An op is one unit a user
waits for: a pipeline pass, one backfill-job lifecycle, or one query run into
Spark's ``noop`` sink. Ops build and execute inside ``build``/``exec`` spans,
which cost nothing unless the run is traced.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import pyarrow as pa
import pyarrow.compute as pc

import inputs
import verify

GAP_S = 3600          # session gap of the PIT pipeline, as bench.py runs it
N_BUCKETS = 16        # checkpoint buckets of the backfill job
SAMPLE_DOCS = 48      # engine-corpus documents re-derived with the stdlib


@dataclass
class Ctx:
    """Run state shared by the harness and the workload's ops."""
    spark: Any
    seed: int
    work_dir: str
    tracer: Any
    data_dir: str = ""
    hot_keys: list = field(default_factory=list)
    phase_s: dict = field(default_factory=dict)     # named sub-timings per op
    checks: list = field(default_factory=list)      # (name, ok, detail)
    counter: int = 0

    def fresh_dir(self, tag: str) -> str:
        self.counter += 1
        return os.path.join(self.work_dir, f"{tag}-{self.counter}")

    def record(self, name: str, seconds: float) -> None:
        self.phase_s.setdefault(name, []).append(seconds)


@dataclass
class Op:
    name: str
    fn: Callable[[Ctx], Any]                         # timed; may return a DataFrame
    after: Callable[[Ctx, Any], None] | None = None  # untimed bookkeeping


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def run_query(ctx: Ctx, make) -> Any:
    with ctx.tracer.span("build"):
        df = make()
    with ctx.tracer.span("exec"):
        noop(df)
    return df


class Workload:
    name = ""

    def generate(self, seed: int) -> dict[str, pa.Table]:
        raise NotImplementedError

    def sizes(self, tables: dict[str, pa.Table]) -> dict[str, int]:
        return {k: t.num_rows for k, t in tables.items()}

    def hot_stats(self, ctx: Ctx) -> None:
        """Table statistics computed once per input (none by default)."""

    def hot_row_share(self, tables: dict[str, pa.Table], hot: list) -> float:
        return 0.0

    def ops(self, ctx: Ctx) -> list[Op]:
        raise NotImplementedError

    def warmup(self, ctx: Ctx) -> None:
        """Untimed work before the timed loop; may collect what
        :meth:`verify` compares."""

    def verify(self, ctx: Ctx) -> list:
        return []

    def trace_extra(self, ctx: Ctx) -> None:
        """Untimed work a traced run adds at its end, still traced."""

    def named_metrics(self, ctx: Ctx, tables, op_times: dict, pass_times: list) -> dict:
        """Workload-specific figures printed beside the end-to-end metrics."""
        return {}


# ---------------------------------------------------------------------------
# point-in-time feature pipeline
# ---------------------------------------------------------------------------

def pit_frame(ctx: Ctx, hot_keys: list):
    from fs2_data_spark.pipeline import pit_feature_pipeline

    d = ctx.data_dir
    return pit_feature_pipeline(ctx.spark.read.parquet(f"{d}/sequences.parquet"),
                                ctx.spark.read.parquet(f"{d}/observations.parquet"),
                                gap_s=GAP_S, hot_keys=hot_keys)


class PitSkewed(Workload):
    """``pit_feature_pipeline`` into ``noop`` over 200k sequences, 55% of them
    on ``doc_0``: above bench.py's hot-key gate, so the segmented router and
    the segmented window plan run. A traced run adds one checkpoint cycle."""
    name = "pit_skewed"
    n_seq, hot_share, warmup_passes = 200_000, 0.55, 2

    def __init__(self):
        self.engine_aggs = None

    def generate(self, seed):
        return inputs.pit_tables(seed, self.n_seq, self.hot_share)

    def gate(self) -> int:
        return max(self.n_seq // 20, 100_000)  # bench.py's detect_hot_keys floor

    def hot_stats(self, ctx):
        from fs2_data_spark.operators.segmented import detect_hot_keys

        seqs = ctx.spark.read.parquet(f"{ctx.data_dir}/sequences.parquet").drop("tokens")
        ctx.hot_keys = detect_hot_keys(seqs, "doc_id", min_rows=self.gate())

    def hot_row_share(self, tables, hot):
        ids = tables["sequences"]["doc_id"]
        return pc.sum(pc.is_in(ids, pa.array(hot, pa.string()))).as_py() / len(ids) if hot else 0.0

    def ops(self, ctx):
        return [Op("pit_feature_pipeline", lambda c: run_query(c, lambda: pit_frame(c, c.hot_keys)))]

    def warmup(self, ctx):
        # the engine side of the output check, then plain passes: pass
        # times level off from the third run of the pipeline on
        self.engine_aggs = verify.pit_engine_aggregates(pit_frame(ctx, ctx.hot_keys))
        for _ in range(self.warmup_passes):
            run_query(ctx, lambda: pit_frame(ctx, ctx.hot_keys))

    def verify(self, ctx):
        want = verify.pit_reference(ctx.data_dir, GAP_S)
        return [verify.compare_pit("pit_feature_pipeline", self.engine_aggs, want),
                ("hot_key_routed", len(ctx.hot_keys) >= 1, f"hot keys {ctx.hot_keys}")]

    def trace_extra(self, ctx):
        """The checkpoint layer: one backfill cycle over a small uniform-key
        input (no hot key, so the router is bypassed), with its checks and
        the reference comparison of the written output."""
        backfill = PitBackfill(n_seq=20_000)
        data_dir = ctx.data_dir
        ctx.data_dir = os.path.join(ctx.work_dir, "ckpt-input")
        try:
            inputs.write_tables(backfill.generate(ctx.seed), ctx.data_dir)
            with ctx.tracer.span("ckpt.cycle", op="ckpt.cycle"):
                out = backfill.cycle(ctx)
            backfill.after_cycle(ctx, out)
            ctx.checks += backfill.verify(ctx)
        finally:
            ctx.data_dir = data_dir

    def named_metrics(self, ctx, tables, op_times, pass_times):
        from measure import median
        t = median(op_times["pit_feature_pipeline"])
        n_tok = pc.sum(tables["sequences"]["n_tok"]).as_py()
        return {"seq_per_s": (self.n_seq / t, "seq/s"), "tok_per_s": (n_tok / t, "tok/s")}


class PitBackfill(Workload):
    """The PIT output over uniform keys (none near the hot-key gate) through
    ``checkpoint.run_resumable``, re-run unchanged, then verified."""
    name = "pit_backfill"
    n_warmup = 3_000

    def __init__(self, n_seq: int = 60_000):
        self.n_seq = n_seq
        self.warming = False
        self.engine_aggs = None  # read back from the first full-size cycle

    def generate(self, seed):
        return inputs.pit_tables(seed, self.n_seq, 0.0)

    def ops(self, ctx):
        return [Op("backfill_cycle", self.cycle, self.after_cycle)]

    def cycle(self, ctx: Ctx) -> dict:
        """Cold backfill to a fresh path, an unchanged re-run, then manifest
        verification: the job, its restart and its audit."""
        from fs2_data_spark import checkpoint

        path, tr, out = ctx.fresh_dir("backfill"), ctx.tracer, {}
        t0 = time.perf_counter()
        with tr.span("build"):
            df = pit_frame(ctx, [])
        with tr.span("exec"), tr.span("ckpt.backfill") as sp:
            out["backfill"] = checkpoint.run_resumable(df, path, "doc_id", N_BUCKETS)
        out["span"] = sp
        out["df"] = df
        t1 = time.perf_counter()
        with tr.span("build"):
            df = pit_frame(ctx, [])
        with tr.span("exec"), tr.span("ckpt.resume"):
            out["resume"] = checkpoint.run_resumable(df, path, "doc_id", N_BUCKETS)
        t2 = time.perf_counter()
        with tr.span("exec"), tr.span("ckpt.verify"):
            out["bad"] = checkpoint.verify_manifests(ctx.spark, path)
        t3 = time.perf_counter()
        ctx.record("backfill_s", t1 - t0)
        ctx.record("resume_s", t2 - t1)
        ctx.record("verify_s", t3 - t2)
        out["path"] = path
        return out

    def after_cycle(self, ctx: Ctx, out: dict) -> None:
        """Checks of one cycle; the first full-size cycle's output is also
        read back for the reference comparison."""
        from fs2_data_spark import checkpoint

        path = out["path"]
        n_rows = self.n_warmup if self.warming else self.n_seq
        mb = sum(os.path.getsize(os.path.join(d, f))
                 for d, _, fs in os.walk(path) for f in fs) / 2**20
        n_man = len([f for f in os.listdir(os.path.join(path, "_manifests")) if f.endswith(".json")])
        out["stats"] = {"mb_written": mb, "manifests": n_man,
                        "resume_buckets": len(out["resume"]["computed"])}
        if out.get("span") is not None:
            out["span"]["stats"] = out["stats"]
        ctx.checks += [
            ("backfill_rows", out["backfill"]["rows_written"] == n_rows,
             f"{out['backfill']['rows_written']} rows written of {n_rows}"),
            ("resume_computes_nothing", not out["resume"]["computed"],
             f"resume computed buckets {out['resume']['computed']}"),
            ("verify_manifests_clean", out["bad"] == [] and n_man == N_BUCKETS,
             f"corrupt {out['bad']}, {n_man} manifests"),
        ]
        if self.engine_aggs is None and not self.warming:
            self.engine_aggs = verify.pit_engine_aggregates(
                checkpoint.read_resumable(ctx.spark, path))
        shutil.rmtree(path, ignore_errors=True)

    def warmup(self, ctx):
        # one cycle over a small input of the same shape: job submission,
        # codegen and the write path warm up without a full-size cycle
        data_dir, self.warming = ctx.data_dir, True
        ctx.data_dir = os.path.join(ctx.work_dir, "warmup-input")
        inputs.write_tables(inputs.pit_tables(ctx.seed, self.n_warmup, 0.0), ctx.data_dir)
        try:
            self.after_cycle(ctx, self.cycle(ctx))
        finally:
            ctx.data_dir, self.warming = data_dir, False
            ctx.phase_s.clear()

    def verify(self, ctx):
        if self.engine_aggs is None:
            return [("backfill_output", False, "no full-size cycle completed")]
        want = verify.pit_reference(ctx.data_dir, GAP_S)
        return [verify.compare_pit("backfill_output", self.engine_aggs, want)]

    def named_metrics(self, ctx, tables, op_times, pass_times):
        from measure import median
        b = median(ctx.phase_s["backfill_s"])
        return {"backfill_s": (b, "s"), "resume_s": (median(ctx.phase_s["resume_s"]), "s"),
                "verify_s": (median(ctx.phase_s["verify_s"]), "s"),
                "seq_per_s": (self.n_seq / b, "seq/s")}


# ---------------------------------------------------------------------------
# registry queries and format engines
# ---------------------------------------------------------------------------

class QueryWorkload(Workload):
    """Registry queries over generated tables; ``queries`` in a seeded order."""
    queries: tuple[str, ...] = ()
    tables: tuple[str, ...] = ()

    def __init__(self):
        self.engine_rows: dict = {}  # query -> (columns, rows) or the exception

    def ordered(self, seed: int) -> list[str]:
        names = list(self.queries)
        random.Random(seed).shuffle(names)
        return names

    def query_op(self, name: str) -> Op:
        from fs2_data_spark.queries import REGISTRY

        fn = REGISTRY[name][0]
        return Op(name, lambda c: run_query(c, lambda: fn(c.spark, c.data_dir)))

    def ops(self, ctx):
        return [self.query_op(q) for q in self.ordered(ctx.seed)]

    def warmup(self, ctx):
        # the warm-up pass collects every query's rows for the oracle check
        from fs2_data_spark.queries import REGISTRY

        for q in self.ordered(ctx.seed):
            try:
                df = REGISTRY[q][0](ctx.spark, ctx.data_dir)
                self.engine_rows[q] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # noqa: BLE001 - reported as a failed check
                self.engine_rows[q] = e

    def verify(self, ctx):
        from fs2_data_spark.queries import REGISTRY

        con = verify.oracle_connection(ctx.data_dir, self.tables)
        out = []
        try:
            for q in self.queries:
                got = self.engine_rows[q]
                if isinstance(got, Exception):
                    out.append((q, False, f"raised {type(got).__name__}: {str(got)[:160]}"))
                    continue
                dcols, drows = verify.oracle_rows(con, REGISTRY[q][1])
                out.append(verify.compare_query(q, got[0], got[1], dcols, drows))
        finally:
            con.close()
        return out

    def named_metrics(self, ctx, tables, op_times, pass_times):
        from measure import median, tail_percentile
        per_query = [t for name in self.queries for t in op_times.get(name, ())]
        out = {"query_p50_s": (median(per_query), "s")}
        tail = tail_percentile(per_query)
        if tail:
            out[f"query_p{tail[0]:g}_s"] = (tail[1], "s")
        return out


class QueryMix(QueryWorkload):
    """Short registry queries with no Python node, where plan build and
    Catalyst planning are a large share of each query's wall time."""
    name = "query_mix"
    queries = ("q1_pricing_summary", "w_rolling", "locf_backfill", "sessionize_events",
               "asof_join_events", "asof_join_events_forward", "pit_zscore_events",
               "kaplan_meier_events")
    tables = ("lineitem", "events")
    n_events, n_users, n_lineitem = 100_000, 1_500, 200_000

    def generate(self, seed):
        return {"events": inputs.events_table(seed, self.n_events, self.n_users),
                "lineitem": inputs.lineitem_table(seed, self.n_lineitem)}


ENGINE_VALUE = {  # output column holding each engine's value, and its parser
    "engine_jsonpath_descendant": ("value", "json"), "engine_jsonpath_prefixed": ("value", "json"),
    "engine_jq_construct": ("value", "json"), "engine_selector": ("value", "json"),
    "engine_xpath_filter": ("inner_text", "text"), "engine_xpath_fast": ("value", "text"),
    "engine_cbor_to_json": ("json", "json"), "engine_pretty_json": ("pretty", "json"),
}


ENGINE_INPUT = {e: {"engine_xpath_filter": "xml", "engine_xpath_fast": "xml",
                    "engine_cbor_to_json": "cbor"}.get(e, "js") for e in ENGINE_VALUE}


def engine_frame(name: str, docs):
    """bench.py's eight format-engine runs over the ``(doc_id, js, xml, cbor)``
    corpus."""
    from pyspark.sql import functions as F

    from fs2_data_spark.functions.jsonq import jq_run, select_path_all
    from fs2_data_spark.functions.render import pretty_json
    from fs2_data_spark.functions.selector import apply_selector
    from fs2_data_spark.functions.xpath import xpath_filter, xpath_texts
    from fs2_data_spark.sources.binary_codecs import transcode_cbor_to_json

    js = docs.select("doc_id", "js")
    xml = docs.select(F.col("doc_id").cast("string").alias("doc_key"), "xml")
    return {
        "engine_jsonpath_descendant": lambda: select_path_all(js, "js", "$..b", keep=["doc_id"]),
        "engine_jsonpath_prefixed": lambda: select_path_all(js, "js", "$.a..b", keep=["doc_id"]),
        "engine_jq_construct": lambda: jq_run(js, "js", '{ "lang": .f2, "tok": .f3[], "missing": .zz }',
                                               keep=["doc_id"]),
        "engine_selector": lambda: apply_selector(js, "js", '.a.["b","c"]?', keep=["doc_id"]),
        "engine_xpath_filter": lambda: xpath_filter(xml, "xml", '//item[@cls == "x"]|//other[@cls]'),
        "engine_xpath_fast": lambda: xpath_texts(xml, "xml", '/r/item[@cls == "x"]'),
        "engine_cbor_to_json": lambda: transcode_cbor_to_json(docs.select("doc_id", "cbor"), "cbor"),
        "engine_pretty_json": lambda: pretty_json(js, "js", width=40),
    }[name]()


class PythonTier(QueryWorkload):
    """Arrow-kernel registry queries and bench.py's per-document format
    engines: the workload where Python workers do most of the work."""
    name = "python_tier"
    queries = ("simhash_docs", "tok_entropy_docs", "winnow_fp_docs", "hashed_bow_docs",
               "ann_cosine_topk")
    engines = tuple(ENGINE_VALUE)
    tables = ("documents", "embeddings")
    n_docs, n_emb, n_engine_docs = 2_000, 1_000, 4_000

    def __init__(self):
        super().__init__()
        self.engine_checks: list = []

    def generate(self, seed):
        return {"documents": inputs.documents_table(seed, self.n_docs),
                "embeddings": inputs.embeddings_table(seed, self.n_emb),
                "engine_docs": inputs.engine_docs_table(seed, self.n_engine_docs)}

    def engine_op(self, name: str) -> Op:
        def fn(c: Ctx):
            docs = c.spark.read.parquet(f"{c.data_dir}/engine_docs.parquet")
            return run_query(c, lambda: engine_frame(name, docs))
        return Op(name, fn)

    def ordered(self, seed):
        names = list(self.queries + self.engines)
        random.Random(seed).shuffle(names)
        return names

    def ops(self, ctx):
        return [self.engine_op(n) if n in ENGINE_VALUE else self.query_op(n)
                for n in self.ordered(ctx.seed)]

    def warmup(self, ctx):
        # queries: collect rows for the oracle; engines: the stdlib check on
        # a document sample (same code path, small input); then one plain
        # pass, the first full-size run of each engine
        QueryWorkload.warmup(self, ctx)
        self.engine_checks = self.check_engines(ctx)
        for op in self.ops(ctx):
            op.fn(ctx)

    def check_engines(self, ctx) -> list:
        import json

        docs_all = ctx.spark.read.parquet(f"{ctx.data_dir}/engine_docs.parquet")
        ids = sorted(random.Random(ctx.seed).sample(range(self.n_engine_docs), SAMPLE_DOCS))
        docs = docs_all.filter(docs_all.doc_id.isin(ids))
        sample = {r["doc_id"]: r.asDict() for r in docs.collect()}
        out = []
        for name in self.engines:
            try:
                df = engine_frame(name, docs)
                col, kind = ENGINE_VALUE[name]
                key = "doc_key" if "doc_key" in df.columns else "doc_id"
                order = "match_no" if "match_no" in df.columns else key
                got: dict[int, list] = {}
                for r in df.orderBy(key, order).collect():
                    v = r[col]
                    got.setdefault(int(r[key]), []).append(json.loads(v) if kind == "json" else v)
                out.append(verify.compare_engine(name, got, sample))
            except Exception as e:  # noqa: BLE001 - reported as a failed check
                out.append((name, False, f"raised {type(e).__name__}: {str(e)[:160]}"))
        return out

    def verify(self, ctx):
        return QueryWorkload.verify(self, ctx) + self.engine_checks

    def named_metrics(self, ctx, tables, op_times, pass_times):
        from measure import median
        out = QueryWorkload.named_metrics(self, ctx, tables, op_times, pass_times)
        docs = tables["engine_docs"]
        nbytes = {c: pc.sum(pc.binary_length(docs[c])).as_py() for c in ("js", "xml", "cbor")}
        mb = sum(nbytes[ENGINE_INPUT[e]] for e in self.engines) / 1e6
        t = sum(median(op_times[e]) for e in self.engines)
        out["engine_mb_per_s"] = (mb / t, "MB/s")
        return out



WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in
                                        (PitSkewed, PitBackfill, QueryMix, PythonTier)}
