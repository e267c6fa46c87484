"""Query registry: every implemented operator exposed as a (Spark fn, oracle
SQL) pair over the driver-provided parquet tables.

Each entry maps a name to ``(fn(spark, sf_dir) -> DataFrame, sql | None)``
where ``sql`` is the DuckDB-runnable ANSI mirror producing identical
row-count, schema, and (column-name-sorted, order-insensitive) values.

Cross-engine determinism rules used throughout (empirically pinned by
``tests/test_oracle_parity.py``):

- double SUMs go through exact DECIMAL accumulation
  (``CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE)``) — decimal addition is
  associative, so shuffle/aggregation order cannot change the result;
- per-row double arithmetic (mul/div/sqrt) is IEEE-identical across engines;
  only multi-row accumulation order varies;
- rankings/limits always carry a deterministic tie-break key;
- Spark indexed lambdas are 0-based, DuckDB's 1-based; Spark double->int
  casts truncate while DuckDB rounds (use FLOOR); DuckDB ``len``/``count``
  are BIGINT (Spark sides cast to match);
- timestamps never appear in outputs (events are keyed by ``event_id``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from fs2_data_spark.functions import text as TXT
from fs2_data_spark.functions import tokens as TOK
from fs2_data_spark.functions.timeutil import epoch_us
from fs2_data_spark.operators.asof import asof_join, asof_join_multi
from fs2_data_spark.operators.sessionize import sessionize
from fs2_data_spark.operators.windows import with_lag_lead, with_rolling
from fs2_data_spark.tables import TOKENS_SQL, tokens_col

QueryFn = Callable[[SparkSession, str], DataFrame]
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def _q(name: str, sql: str | None):
    def deco(fn: QueryFn):
        REGISTRY[name] = (fn, sql)
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dsum(c: F.Column) -> F.Column:
    """Order-independent double sum via exact decimal accumulation."""
    return F.sum(c.cast("decimal(27,6)")).cast("double")


def _DSUM(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(27,6))) AS DOUBLE)"


# ---------------------------------------------------------------------------
# Relational core (TPC-H-shaped; scans/filters/aggs/joins/sorts/limits)
# ---------------------------------------------------------------------------

@_q("q1_pricing_summary", f"""
SELECT l_returnflag, l_linestatus,
       {_DSUM('l_quantity')} AS sum_qty,
       {_DSUM('l_extendedprice')} AS sum_base_price,
       {_DSUM('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {_DSUM('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {_DSUM('l_quantity')} / count(*) AS avg_qty,
       {_DSUM('l_extendedprice')} / count(*) AS avg_price,
       {_DSUM('l_discount')} / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02 00:00:00")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum(F.col("l_quantity")).alias("sum_qty"),
        _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        _dsum(disc).alias("sum_disc_price"),
        _dsum(disc * (1 + F.col("l_tax"))).alias("sum_charge"),
        (_dsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty"),
        (_dsum(F.col("l_extendedprice")) / F.count(F.lit(1))).alias("avg_price"),
        (_dsum(F.col("l_discount")) / F.count(F.lit(1))).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@_q("q3_shipping_priority", f"""
SELECT o_orderkey, {_DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""")
def q3(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15 00:00:00")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15 00:00:00")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .groupBy("o_orderkey")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@_q("q5_local_supplier_volume", f"""
SELECT n_name, {_DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""")
def q5(spark, sf_dir):
    cu, o, li = (_t(spark, sf_dir, x) for x in ("customer", "orders", "lineitem"))
    s, n, r = (_t(spark, sf_dir, x) for x in ("supplier", "nation", "region"))
    o = o.filter((F.col("o_orderdate") >= "1996-01-01 00:00:00")
                 & (F.col("o_orderdate") < "1997-01-01 00:00:00"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (cu.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@_q("q6_forecast_revenue", f"""
SELECT {_DSUM('l_extendedprice * l_discount')} AS revenue, count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 25
""")
def q6(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1997-01-01 00:00:00")
        & (F.col("l_discount") >= 0.02) & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 25)
    ).agg(
        _dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@_q("q4_order_priority", """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""")
def q4(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00")
        & (F.col("o_orderdate") < "1997-01-01 00:00:00"))
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
               "left_semi")
        .groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))
    )


@_q("top_customers_per_segment", f"""
WITH spend AS (
  SELECT c_mktsegment, c_custkey, {_DSUM('o_totalprice')} AS total_spend
  FROM customer JOIN orders ON o_custkey = c_custkey
  GROUP BY c_mktsegment, c_custkey)
SELECT c_mktsegment, c_custkey, total_spend, rnk FROM (
  SELECT *, row_number() OVER (
    PARTITION BY c_mktsegment ORDER BY total_spend DESC, c_custkey) AS rnk
  FROM spend) WHERE rnk <= 3
""")
def top_customers(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    spend = (cu.join(o, o.o_custkey == cu.c_custkey)
             .groupBy("c_mktsegment", "c_custkey")
             .agg(_dsum(F.col("o_totalprice")).alias("total_spend")))
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("total_spend"), "c_custkey")
    return (spend.withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rnk") <= 3))


@_q("part_type_stats", f"""
SELECT p_type, count(*) AS n_parts,
       {_DSUM('p_retailprice')} / count(*) AS avg_retail,
       max(p_size) AS max_size, min(p_size) AS min_size
FROM part GROUP BY p_type
""")
def part_stats(spark, sf_dir):
    return _t(spark, sf_dir, "part").groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_parts"),
        (_dsum(F.col("p_retailprice")) / F.count(F.lit(1))).alias("avg_retail"),
        F.max("p_size").alias("max_size"),
        F.min("p_size").alias("min_size"),
    )


@_q("orders_by_status_priority", f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       {_DSUM('o_totalprice')} AS total_price
FROM orders GROUP BY o_orderstatus, o_orderpriority
""")
def orders_cube(spark, sf_dir):
    return _t(spark, sf_dir, "orders").groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(F.col("o_totalprice")).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Window / as-of / sessionization (the feature-engineering core)
# ---------------------------------------------------------------------------

@_q("w_lag_lead", """
SELECT event_id, value,
       lag(value) OVER w AS lag1_value,
       lead(value) OVER w AS lead1_value
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def w_lag_lead(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = with_lag_lead(ev, ["value"], key="user_id", ts=["ts", "event_id"], offsets=(1,))
    return out.select("event_id", "value", "lag1_value", "lead1_value")


@_q("w_rolling", """
-- count(value), not count(*): the Spark side counts contributing
-- (non-null) values, and the mean divides by that
SELECT event_id,
       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS roll5_sum,
       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) / count(value) OVER w AS roll5_avg,
       count(value) OVER w AS roll5_n
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""")
def w_rolling(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn("vdec", F.col("value").cast("decimal(18,6)"))
    out = with_rolling(ev, "vdec", key="user_id", ts=["ts", "event_id"],
                       n_rows=5, aggs=("sum", "count"))
    return out.select(
        "event_id",
        F.col("roll5_sum_vdec").cast("double").alias("roll5_sum"),
        (F.col("roll5_sum_vdec").cast("double") / F.col("roll5_count_vdec")).alias("roll5_avg"),
        F.col("roll5_count_vdec").alias("roll5_n"),
    )


@_q("w_rank", """
SELECT event_id,
       row_number() OVER (PARTITION BY user_id
                          ORDER BY CAST(FLOOR(value) AS BIGINT) DESC, event_id) AS rn,
       rank() OVER (PARTITION BY user_id
                    ORDER BY CAST(FLOOR(value) AS BIGINT) DESC) AS rnk,
       dense_rank() OVER (PARTITION BY user_id
                          ORDER BY CAST(FLOOR(value) AS BIGINT) DESC) AS drnk
FROM events
""")
def w_rank(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "vkey", F.floor("value").cast("bigint"))
    w_det = Window.partitionBy("user_id").orderBy(F.desc("vkey"), "event_id")
    w_tie = Window.partitionBy("user_id").orderBy(F.desc("vkey"))
    return ev.select(
        "event_id",
        F.row_number().over(w_det).cast("bigint").alias("rn"),
        F.rank().over(w_tie).cast("bigint").alias("rnk"),
        F.dense_rank().over(w_tie).cast("bigint").alias("drnk"),
    )


@_q("locf_backfill", """
SELECT event_id,
       last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ff
FROM events
""")
def locf(spark, sf_dir):
    from fs2_data_spark.operators.asof import backfill_locf
    ev = _t(spark, sf_dir, "events").withColumn(
        "v_or_null",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value")),
    )
    out = backfill_locf(ev, ["v_or_null"], key="user_id", ts=["ts", "event_id"], suffix="_ff")
    return out.select("event_id", F.col("v_or_null_ff").alias("v_ff"))


@_q("sessionize_events", """
WITH g AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS flag
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts))
SELECT event_id,
       CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
FROM g
""")
def sess(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return sessionize(ev, key="user_id", ts="ts", gap_s=1800).select("event_id", "session_seq")


@_q("session_stats", f"""
WITH g AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS flag
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT *, CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM g)
SELECT user_id, session_seq, count(*) AS n_events,
       (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_s,
       {_DSUM('value')} AS sum_value
FROM s GROUP BY user_id, session_seq
""")
def sess_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, key="user_id", ts="ts", gap_s=1800)
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor((epoch_us(F.max("ts")) - epoch_us(F.min("ts"))) / 1_000_000)
         .cast("bigint").alias("duration_s"),
        _dsum(F.col("value")).alias("sum_value"),
    )


_ASOF_SQL = """
WITH p AS (SELECT user_id, ts, max(value) AS pvalue
           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT c.event_id, p.pvalue AS last_purchase_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def _asof_events(spark, sf_dir, strategy):
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("user_id", "ts").agg(F.max("value").alias("pvalue")))
    out = asof_join(clicks, purch, on="user_id", left_ts="ts", right_ts="ts",
                    right_cols=["pvalue"], allow_exact=True, strategy=strategy)
    return out.select("event_id", F.col("pvalue").alias("last_purchase_value"))


@_q("asof_join_events", _ASOF_SQL)
def asof_events(spark, sf_dir):
    return _asof_events(spark, sf_dir, "union")


@_q("asof_join_events_pandas", _ASOF_SQL)
def asof_events_pandas(spark, sf_dir):
    return _asof_events(spark, sf_dir, "pandas")


@_q("asof_join_events_strict", """
WITH p AS (SELECT user_id, ts, max(value) AS pvalue
           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT c.event_id, p.pvalue AS last_purchase_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts > p.ts
""")
def asof_events_strict(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("user_id", "ts").agg(F.max("value").alias("pvalue")))
    out = asof_join(clicks, purch, on="user_id", left_ts="ts", right_ts="ts",
                    right_cols=["pvalue"], allow_exact=False, strategy="union")
    return out.select("event_id", F.col("pvalue").alias("last_purchase_value"))


@_q("asof_join_events_forward", """
WITH p AS (SELECT user_id, ts, max(value) AS pvalue
           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT c.event_id, p.pvalue AS next_purchase_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
""")
def asof_events_forward(spark, sf_dir):
    """Forward as-of (label attachment): each click gets the value of the
    NEXT purchase at or after it — the outcome-labeling mirror of the
    point-in-time feature join (``operators/asof.py`` direction='forward';
    DuckDB's forward ASOF JOIN ``c.ts <= p.ts`` is the oracle). Same
    one-exchange union-window plan as backward, with the frame flipped to
    (currentRow, unboundedFollowing)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("user_id", "ts").agg(F.max("value").alias("pvalue")))
    out = asof_join(clicks, purch, on="user_id", left_ts="ts", right_ts="ts",
                    right_cols=["pvalue"], allow_exact=True, strategy="union",
                    direction="forward")
    return out.select("event_id", F.col("pvalue").alias("next_purchase_value"))


@_q("asof_join_events_nearest", """
WITH p AS (SELECT user_id, ts, max(value) AS pvalue
           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
b AS (SELECT c.event_id, c.ts, p.pvalue AS bv, p.ts AS bt
      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts),
f AS (SELECT c.event_id, p.pvalue AS fv, p.ts AS ft
      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts)
SELECT b.event_id,
       CASE WHEN ft IS NOT NULL AND (bt IS NULL OR
                 epoch_us(ft) - epoch_us(b.ts) < epoch_us(b.ts) - epoch_us(bt))
            THEN fv ELSE bv END AS nearest_purchase_value
FROM b JOIN f USING (event_id)
""")
def asof_events_nearest(spark, sf_dir):
    """Nearest as-of: each click gets the purchase closest in absolute time,
    ties to the past (pandas.merge_asof direction='nearest' semantics).
    Both candidates ride ONE sort (one Exchange, two WindowExec) —
    ``operators/asof.py _asof_union_nearest``; the oracle recombines
    DuckDB's backward and forward ASOF JOINs with the same tie rule. An
    exact-ts match has backward distance 0 and therefore always wins, so
    the inclusive forward oracle CTE cannot disagree at distance 0 (the
    deduped (user_id, ts) winner is unique)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("user_id", "ts").agg(F.max("value").alias("pvalue")))
    out = asof_join(clicks, purch, on="user_id", left_ts="ts", right_ts="ts",
                    right_cols=["pvalue"], allow_exact=True, strategy="union",
                    direction="nearest")
    return out.select("event_id", F.col("pvalue").alias("nearest_purchase_value"))


@_q("asof_multi_events", """
WITH p AS (SELECT user_id, ts, max(value) AS pvalue
           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
v AS (SELECT user_id, ts, max(value) AS vvalue
           FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
s AS (SELECT user_id, ts, max(value) AS svalue
           FROM events WHERE event_type = 'signup' GROUP BY user_id, ts),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT c.event_id,
       p.pvalue AS last_purchase_value,
       v.vvalue AS last_view_value,
       s.svalue AS last_signup_value
FROM c
ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
ASOF LEFT JOIN s ON c.user_id = s.user_id AND c.ts >= s.ts
""")
def asof_multi_events(spark, sf_dir):
    """Multi-table point-in-time join: each click row gets the latest
    state from THREE dimension streams (purchase / view / signup) in ONE
    shuffle + ONE sort — ``operators/asof.py asof_join_multi`` tags all
    sides into a single union and computes every backward LOCF carry in
    the same window frame, so Spark fuses the N carries into a single
    WindowExec (plan-pinned).  Three separate as-of joins would shuffle
    the fact side three times; at 100 TB that difference IS the job. The
    oracle chains three DuckDB ASOF JOINs over identically-deduped
    dimension CTEs."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    def _dim(et, name):
        return (ev.filter(F.col("event_type") == et)
                .select("user_id", "ts", F.col("value").alias(name)))
    out = asof_join_multi(
        clicks,
        [{"df": _dim("purchase", "pvalue"), "ts": "ts", "suffix": ""},
         {"df": _dim("view", "vvalue"), "ts": "ts", "suffix": ""},
         {"df": _dim("signup", "svalue"), "ts": "ts", "suffix": ""}],
        on="user_id", left_ts="ts")
    return out.select(
        "event_id",
        F.col("pvalue").alias("last_purchase_value"),
        F.col("vvalue").alias("last_view_value"),
        F.col("svalue").alias("last_signup_value"))


_GF_STEP = 21_600_000_000  # 6 h in microseconds

_GF_PRELUDE = f"""
WITH o AS (SELECT user_id, epoch_us(ts) AS t, max(value) AS value
           FROM events GROUP BY user_id, epoch_us(ts)),
b AS (SELECT user_id, min(t) AS mn, max(t) AS mx FROM o GROUP BY user_id),
g AS (SELECT user_id,
             unnest(generate_series((mn + {_GF_STEP} - 1) // {_GF_STEP}
                                    * {_GF_STEP}, mx, {_GF_STEP})) AS tt
      FROM b),
u AS (SELECT user_id, t AS tt, 0 AS side, value FROM o
      UNION ALL SELECT user_id, tt, 1, NULL FROM g),
w AS (SELECT *,
        last_value(value IGNORE NULLS) OVER win AS pv,
        last_value(CASE WHEN value IS NOT NULL THEN tt END IGNORE NULLS)
          OVER win AS prev_us,
        first_value(value IGNORE NULLS) OVER fwin AS nv,
        first_value(CASE WHEN value IS NOT NULL THEN tt END IGNORE NULLS)
          OVER fwin AS next_us
      FROM u
      WINDOW win AS (PARTITION BY user_id ORDER BY tt, side
                     ROWS UNBOUNDED PRECEDING),
             fwin AS (PARTITION BY user_id ORDER BY tt, side
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
"""


@_q("gapfill_locf_events", _GF_PRELUDE + """
SELECT user_id, tt AS grid_us, pv AS filled, prev_us
FROM w WHERE side = 1
""")
def gapfill_locf_events(spark, sf_dir):
    """Regular-grid resampling with LOCF (``operators/gapfill.py``):
    every user's irregular event stream becomes one row per 6-hour grid
    point carrying the latest observation at that instant — the
    hypertable ``time_bucket_gapfill + locf()`` operation, and the batch
    mirror of the reference's emit-default-until-later-value stream
    semantics (``esp/ESP.scala:150-167``). Grid generated executor-side
    with ``sequence()``; one hash Exchange shared by the union and the
    carry window."""
    from fs2_data_spark.operators.gapfill import time_grid_fill
    ev = (_t(spark, sf_dir, "events")
          .groupBy("user_id", "ts").agg(F.max("value").alias("value")))
    out = time_grid_fill(ev, on="user_id", ts="ts", value="value",
                         step_us=_GF_STEP, method="locf")
    return out.select("user_id", "grid_us", "filled", "prev_us")


@_q("gapfill_interp_events", _GF_PRELUDE + """
SELECT user_id, tt AS grid_us,
       ROUND(CASE WHEN next_us IS NULL THEN pv
                  WHEN next_us - prev_us = 0 THEN pv
                  ELSE pv + (nv - pv) * (CAST(tt - prev_us AS DOUBLE)
                                         / CAST(next_us - prev_us AS DOUBLE))
             END, 4) AS filled4,
       prev_us, next_us
FROM w WHERE side = 1
""")
def gapfill_interp_events(spark, sf_dir):
    """Linear interpolation onto the same 6-hour grid: each grid point
    blends the surrounding observations by exact-integer time fraction
    (trailing points degrade to LOCF; leading points are impossible by
    the aligned-range construction). The forward carry runs as a
    backward frame over a DESCENDING sort — two linear Sorts on one
    Exchange, never Spark's quadratic unboundedFollowing evaluation.
    The oracle replays the identical IEEE expression shape, rounded 4dp."""
    from fs2_data_spark.operators.gapfill import time_grid_fill
    ev = (_t(spark, sf_dir, "events")
          .groupBy("user_id", "ts").agg(F.max("value").alias("value")))
    out = time_grid_fill(ev, on="user_id", ts="ts", value="value",
                         step_us=_GF_STEP, method="interp")
    return out.select("user_id", "grid_us",
                      F.round("filled", 4).alias("filled4"),
                      "prev_us", "next_us")


@_q("twa_events", """
WITH o AS (SELECT user_id, epoch_us(ts) AS t, max(value) AS value
           FROM events GROUP BY user_id, epoch_us(ts)),
l AS (SELECT user_id, t, value,
             lead(t) OVER (PARTITION BY user_id ORDER BY t, value) AS nt
      FROM o),
a AS (SELECT user_id, count(*) AS n_obs,
             max(t) - min(t) AS span_us,
             sum(CAST(CAST(nt - t AS DOUBLE) * value AS DECIMAL(38,6)))
               AS num,
             min(value) AS v0
      FROM l GROUP BY user_id)
SELECT user_id, n_obs, span_us,
       ROUND(CASE WHEN span_us = 0 THEN v0
                  ELSE CAST(num AS DOUBLE) / CAST(span_us AS DOUBLE)
             END, 4) AS twa
FROM a
""")
def twa_events(spark, sf_dir):
    """Time-weighted average per user (``operators/windows.py
    time_weighted_avg``): the left-Riemann integral of the
    hold-until-next step signal over the observed span — the
    ``time_weight`` semantics of hypertable feature stores, and the
    aggregate dual of the LOCF carry. One Exchange shared by the lead
    window and the aggregation; per-key sums run over DECIMAL(38,6)
    terms so the result is combine-order-independent bit-for-bit (the
    canonical-oracle pattern)."""
    from fs2_data_spark.operators.windows import time_weighted_avg
    ev = (_t(spark, sf_dir, "events")
          .groupBy("user_id", "ts").agg(F.max("value").alias("value")))
    return time_weighted_avg(ev, key="user_id", ts="ts", value="value")


# ---------------------------------------------------------------------------
# Token-array operators over the tokenized documents table (input_hint payload)
# ---------------------------------------------------------------------------

def _doc_tokens(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id", tokens_col("text").alias("tokens"), "source")


def _arr_str(col: F.Column) -> F.Column:
    """Canonical scalar form for array outputs: the driver's pandas-based
    canonicalizer cannot sort/hash raw list cells, so oracle-checked queries
    emit arrays as comma-joined strings (DuckDB mirror: array_to_string)."""
    return F.array_join(col.cast("array<string>"), ",")


@_q("tokenize_docs", f"""
SELECT doc_id,
       COALESCE(array_to_string({TOKENS_SQL}, ','), '') AS tokens_str,
       CAST(len({TOKENS_SQL}) AS INTEGER) AS n_tok, source
FROM documents
""")
def tokenize_docs(spark, sf_dir):
    d = _doc_tokens(spark, sf_dir)
    return d.select("doc_id", _arr_str(F.col("tokens")).alias("tokens_str"),
                    F.size("tokens").alias("n_tok"), "source")


@_q("tok_slice_docs", f"""
SELECT doc_id,
       COALESCE(array_to_string(({TOKENS_SQL})[3:10], ','), '') AS mid,
       COALESCE(array_to_string(({TOKENS_SQL})[1:3], ','), '') AS head3
FROM documents
""")
def tok_slice_docs(spark, sf_dir):
    d = _doc_tokens(spark, sf_dir)
    return d.select(
        "doc_id",
        _arr_str(TOK.tok_slice("tokens", 2, 10)).alias("mid"),
        _arr_str(TOK.tok_slice("tokens", 0, 3)).alias("head3"),
    )


@_q("tok_index_docs", f"""
SELECT doc_id, ({TOKENS_SQL})[5] AS tok5, ({TOKENS_SQL})[-1] AS tok_last
FROM documents
""")
def tok_index_docs(spark, sf_dir):
    d = _doc_tokens(spark, sf_dir)
    return d.select(
        "doc_id",
        TOK.tok_index("tokens", 4).alias("tok5"),
        TOK.tok_index("tokens", -1).alias("tok_last"),
    )


@_q("tok_stats_docs", f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents)
SELECT doc_id,
       CAST(len(tokens) AS INTEGER) AS n_tok,
       list_min(tokens) AS tok_min, list_max(tokens) AS tok_max,
       CAST(COALESCE(list_sum(tokens), 0) AS BIGINT) AS tok_sum,
       CAST(len(list_distinct(tokens)) AS INTEGER) AS tok_distinct,
       ROUND(CAST(list_sum(tokens) AS DOUBLE) / len(tokens), 6) AS tok_mean
FROM t
""")
def tok_stats_docs(spark, sf_dir):
    d = TOK.tok_stats(_doc_tokens(spark, sf_dir))
    return d.select(
        "doc_id", F.size("tokens").alias("n_tok"),
        "tok_min", "tok_max", "tok_sum", "tok_distinct",
        F.round("tok_mean", 6).alias("tok_mean"),
    )


@_q("tok_entropy_docs", f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS tok FROM documents),
d AS (SELECT doc_id, tok, CAST(len(tok) AS DOUBLE) AS n,
             list_sort(list_distinct(tok)) AS dt
      FROM t)
SELECT doc_id, CAST(len(tok) AS INTEGER) AS n_tok,
       CAST(len(dt) AS INTEGER) AS n_distinct,
       CAST(list_max(list_transform(dt,
         x -> len(list_filter(tok, v -> v = x)))) AS INTEGER) AS max_freq,
       ROUND(CASE WHEN n = 0 THEN 0.0 ELSE list_sum(list_transform(dt,
         x -> (CAST(len(list_filter(tok, v -> v = x)) AS DOUBLE) / n)
              * ln(n / CAST(len(list_filter(tok, v -> v = x)) AS DOUBLE))))
       END, 4) AS entropy4,
       CASE WHEN n = 0 THEN 0.0
            ELSE ROUND(CAST(len(dt) AS DOUBLE) / n, 4)
       END AS distinct_ratio4
FROM d
""")
def tok_entropy_docs(spark, sf_dir):
    """Unigram-entropy quality features per tokenized sequence
    (``functions/tokens.py token_entropy``): Shannon entropy in nats,
    distinct ratio, and modal-token frequency — the standard
    repetition/diversity triplet for LLM corpus filtering. Per-row
    Catalyst fold over the SORTED distinct list (summation order pinned,
    so the DuckDB mirror reproduces the same IEEE bits); zero shuffle."""
    # r6: the O(distinct x n) interpreted counting fold runs as one Arrow
    # kernel (textkernels.token_entropy_kernel — identical counts, identical
    # sorted-fold entropy bits); the rounded outputs keep JVM F.round
    from fs2_data_spark.functions.textkernels import token_entropy_kernel
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = token_entropy_kernel(d, "doc_id", "text")
    n = F.col("n_tok").cast("double")
    return out.select(
        "doc_id", "n_tok", "n_distinct", "max_freq",
        F.round("entropy_raw", 4).alias("entropy4"),
        F.when(n > 0, F.round(F.col("n_distinct").cast("double") / n, 4))
         .otherwise(F.lit(0.0)).alias("distinct_ratio4"))


@_q("tok_fingerprint_docs", f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents)
SELECT doc_id,
       CAST(COALESCE(list_sum(list_transform(tokens,
                (x, i) -> i * CAST(x AS BIGINT))), 0)
            % 1000000007 AS BIGINT) AS fp
FROM t
""")
def tok_fp_docs(spark, sf_dir):
    d = _doc_tokens(spark, sf_dir)
    return d.select("doc_id", TOK.tok_fingerprint("tokens").alias("fp"))


@_q("tok_features_arrow_docs", f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents)
SELECT doc_id,
       CAST(COALESCE(list_sum(list_transform(tokens,
                (x, i) -> i * CAST(x AS BIGINT))), 0)
            % 1000000007 AS BIGINT) AS tok_fp,
       CAST(COALESCE(list_sum(tokens), 0) AS BIGINT) AS tok_sum,
       CASE WHEN len(tokens) > 0
            THEN ROUND(CAST(list_sum(tokens) AS DOUBLE) / len(tokens), 6) END AS tok_mean,
       list_min(tokens) AS tok_min, list_max(tokens) AS tok_max
FROM t
""")
def tok_features_arrow_docs(spark, sf_dir):
    """The mapInArrow numpy-reduceat token kernel, driver-verified: its
    outputs must match the pure-SQL formulation exactly (ints) / to 6dp
    (mean)."""
    from fs2_data_spark.functions.token_kernels import token_features_arrow
    d = _doc_tokens(spark, sf_dir)
    out = token_features_arrow(d)
    return out.select(
        "doc_id", "tok_fp", "tok_sum",
        F.round("tok_mean", 6).alias("tok_mean"), "tok_min", "tok_max")


@_q("tok_positions", f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents WHERE doc_id < 25)
SELECT doc_id,
       CAST(UNNEST(generate_series(1, len(tokens))) - 1 AS INTEGER) AS pos,
       UNNEST(tokens) AS token
FROM t
""")
def tok_positions(spark, sf_dir):
    d = _doc_tokens(spark, sf_dir).filter(F.col("doc_id") < 25)
    return TOK.tok_iterate(d, "tokens", keep=["doc_id"])


# ---------------------------------------------------------------------------
# Text analysis (training-data pipeline: quality, lang-id, fingerprints)
# ---------------------------------------------------------------------------

_WS_SQL = "list_filter(string_split(text, ' '), w -> w <> '')"
_STOP_SQL = "('the','a','of','to','and','in','is','it')"
_WC_SQL = (
    f"list_transform({_WS_SQL}, w -> "
    "CAST(ascii(substr(w, 1, 1)) AS BIGINT) * 65536 + "
    "CAST(ascii(substr(w, CAST(length(w) AS INTEGER), 1)) AS BIGINT) * 256 + "
    "CAST(length(w) AS BIGINT))"
)


@_q("text_quality", f"""
WITH s AS (
  SELECT doc_id, len({_WS_SQL}) AS n,
         len(list_filter({_WS_SQL}, w -> w IN {_STOP_SQL})) AS nstop,
         list_sum(list_transform({_WS_SQL}, w -> CAST(length(w) AS BIGINT))) AS totlen,
         len(list_distinct({_WS_SQL})) AS ndist
  FROM documents)
SELECT doc_id, CAST(n AS BIGINT) AS n_words,
       ROUND(CASE WHEN n > 0 THEN CAST(nstop AS DOUBLE)/n ELSE 0.0 END, 6) AS stop_ratio,
       ROUND(CASE WHEN n > 0 THEN CAST(totlen AS DOUBLE)/n ELSE 0.0 END, 6) AS mean_wlen,
       ROUND(((CASE WHEN n BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN (CASE WHEN n > 0 THEN CAST(nstop AS DOUBLE)/n ELSE 0.0 END) >= 0.01
                    THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN (CASE WHEN n > 0 THEN CAST(totlen AS DOUBLE)/n ELSE 0.0 END)
                         BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN n > 0 THEN CAST(ndist AS DOUBLE)/n ELSE 0.0 END)) / 4.0, 6) AS quality
FROM s
""")
def text_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TXT.token_count("text").alias("n_words"),
        F.round(TXT.stopword_ratio("text"), 6).alias("stop_ratio"),
        F.round(TXT.mean_word_len("text"), 6).alias("mean_wlen"),
        TXT.quality_score("text").alias("quality"),
    )


@_q("lang_guess", f"""
SELECT doc_id, lang,
       CASE WHEN ascii(text) >= 19968 AND ascii(text) <= 40959 THEN 'zh'
            WHEN ascii(text) >= 1024 AND ascii(text) < 1280 THEN 'ru'
            WHEN len(list_filter({_WS_SQL}, w -> w IN {_STOP_SQL})) >= 1 THEN 'en'
            ELSE 'other' END AS lang_pred
FROM documents
""")
def lang_guess(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", TXT.lang_id("text").alias("lang_pred"))


@_q("doc_fingerprint", f"""
SELECT doc_id,
       CASE WHEN len({_WS_SQL}) > 0
            THEN list_reduce({_WC_SQL}, (a, x) -> (a * 31 + x) % 1000000007)
            ELSE 0 END AS fp
FROM documents
""")
def doc_fp(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TXT.doc_fingerprint("text").alias("fp"))


_FP_SQL = (f"CASE WHEN len({_WS_SQL}) > 0 "
           f"THEN list_reduce({_WC_SQL}, (a, x) -> (a * 31 + x) % 1000000007) "
           f"ELSE 0 END")


def _bloom_prune_sql() -> str:
    from fs2_data_spark.operators.sketches import bloom_pos_sql
    m, bpw = 8 * 62, 62
    p0, p1 = bloom_pos_sql("fp", 0, m), bloom_pos_sql("fp", 1, m)
    return f"""
WITH f AS (SELECT doc_id, {_FP_SQL} AS fp FROM documents),
bk AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 = 0),
pos AS (SELECT {p0} AS p FROM bk UNION ALL SELECT {p1} FROM bk),
wt AS (SELECT p // {bpw} AS word_idx,
              bit_or(1::BIGINT << CAST(p % {bpw} AS INTEGER)) AS w
       FROM pos GROUP BY 1),
pp AS (SELECT doc_id, fp, {p0} AS p FROM f
       UNION ALL SELECT doc_id, fp, {p1} FROM f),
pj AS (SELECT doc_id, fp,
              CASE WHEN wt.w IS NOT NULL
                    AND (wt.w & (1::BIGINT << CAST(p % {bpw} AS INTEGER))) <> 0
                   THEN 1 ELSE 0 END AS ok
       FROM pp LEFT JOIN wt ON wt.word_idx = p // {bpw}),
agg AS (SELECT doc_id, min(fp) AS fp, min(ok) AS all_set
        FROM pj GROUP BY doc_id)
SELECT a.doc_id, a.fp, a.all_set = 1 AS bloom_hit,
       bk.fp IS NOT NULL AS exact_hit
FROM agg a LEFT JOIN bk ON a.fp = bk.fp
"""


@_q("bloom_prune_docs", _bloom_prune_sql())
def bloom_prune_docs(spark, sf_dir):
    """Bloom-filter join pruning (``operators/sketches.py bloom_build /
    bloom_probe``): a deliberately small 496-bit filter over the
    benchmark fingerprint set flags candidate corpus rows — including
    exactly-reproducible false positives (the probe family is the
    engine's exact-bigint arithmetic hash, so DuckDB replays the
    identical candidate set bit-for-bit).  The scale pattern: broadcast
    O(words) instead of the O(n) key set, then run the expensive exact
    join only on the survivors; `exact_hit` is that verify stage."""
    from fs2_data_spark.operators.sketches import bloom_build, bloom_probe
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", TXT.doc_fingerprint("text").alias("fp"))
    bench = (docs.filter(F.col("doc_id") % 3 == 0)
             .select("fp").distinct())
    filt = bloom_build(bench, "fp", words=8, k=2)
    probed = bloom_probe(docs, filt, "fp", words=8, k=2)
    exact = bench.withColumn("__e", F.lit(True))
    return (probed.join(F.broadcast(exact), "fp", "left")
            .select("doc_id", "fp", "bloom_hit",
                    F.coalesce(F.col("__e"), F.lit(False)).alias("exact_hit")))


@_q("ohlc_events", """
WITH o AS (SELECT user_id, epoch_us(ts) AS t, max(value) AS v
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
SELECT user_id, (t // 86400000000) * 86400000000 AS bucket_us,
       count(*) AS n,
       arg_min(v, t) AS open, max(v) AS high, min(v) AS low,
       arg_max(v, t) AS close,
       ROUND(CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 4) AS mean4
FROM o GROUP BY 1, 2
""")
def ohlc_events(spark, sf_dir):
    """Daily OHLC candles per user (``operators/windows.py
    ohlc_candles``): the M4 downsampling aggregation — open/close picked
    by ``min_by/max_by`` on the deduplicated event time (no sort, one
    map-side-combined shuffle), extremes and a DECIMAL-exact mean.
    The standard lossless-for-rendering series reduction and candle
    feature block."""
    from fs2_data_spark.operators.windows import ohlc_candles
    # NULL prices carry no candle information, and Spark's min_by keeps
    # NULL-valued rows where DuckDB's arg_min skips them
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .groupBy("user_id", "ts").agg(F.max("value").alias("value")))
    return ohlc_candles(ev, key="user_id", ts="ts", value="value",
                        bucket_us=86_400_000_000)


@_q("robust_scale_events", """
WITH r AS (SELECT event_id, event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rk1,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events WHERE value IS NOT NULL),
m AS (SELECT *, (n + 1) // 2 AS mid FROM r),
md AS (SELECT *, max(CASE WHEN rk1 = mid THEN value END)
                   OVER (PARTITION BY event_type) AS med
       FROM m),
dv AS (SELECT *, abs(value - med) AS dev,
              row_number() OVER (PARTITION BY event_type
                                 ORDER BY abs(value - med), event_id) AS rk2
       FROM md),
mm AS (SELECT *, max(CASE WHEN rk2 = mid THEN dev END)
                   OVER (PARTITION BY event_type) AS mad
       FROM dv)
SELECT event_id, event_type, value, med, mad,
       ROUND(CASE WHEN mad > 0
                  THEN (value - med) / (1.4826 * mad) END, 4) + 0.0
         AS robust_z4
FROM mm
""")
def robust_scale_events(spark, sf_dir):
    """Group-wise robust scaling (``operators/encoding.py
    robust_scale``): (x - median) / (1.4826 * MAD) — breakdown-point-0.5
    outlier-proof normalization. EXACT rank-picked medians (the
    winsorize discipline: value at rank (n+1) div 2, never interpolation
    or a sketch), so the oracle replays them bit-for-bit; four window
    passes share ONE hash exchange on the group key (plan-pinned)."""
    from fs2_data_spark.operators.encoding import robust_scale
    # NULLs are unrankable and engines disagree on their sort position
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("event_id", "event_type", "value"))
    out = robust_scale(ev, value="value", key="event_type",
                       tiebreak="event_id")
    return out.select("event_id", "event_type", "value", "med", "mad",
                      (F.round("robust_z", 4) + F.lit(0.0))
                      .alias("robust_z4"))


@_q("equidepth_bins_events", """
SELECT event_id, event_type, value,
       ntile(10) OVER (PARTITION BY event_type
                       ORDER BY value, event_id) AS bin
FROM events WHERE value IS NOT NULL
""")
def equidepth_bins_events(spark, sf_dir):
    """Equi-depth discretization (``operators/encoding.py
    equidepth_bins``): ntile(10) quantile buckets per event_type with a
    total tiebroken order — deterministic bins of size n div 10 or +1,
    the quantile-bucket categorical encoding; one Exchange + one Sort."""
    from fs2_data_spark.operators.encoding import equidepth_bins
    # NULLs are unrankable and engines disagree on their sort position
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("event_id", "event_type", "value"))
    return equidepth_bins(ev, value="value", key="event_type",
                          tiebreak="event_id", k=10)


@_q("pit_robust_z_events", """
WITH q AS (SELECT event_id, user_id, value,
             quantile_cont(value, 0.5) OVER w AS med,
             quantile_cont(value, 0.75) OVER w
               - quantile_cont(value, 0.25) OVER w AS iqr
           FROM events
           WINDOW w AS (PARTITION BY user_id
                        ORDER BY epoch_us(ts), event_id
                        ROWS UNBOUNDED PRECEDING))
SELECT event_id, user_id, value,
       ROUND(med, 4) AS med4, ROUND(iqr, 4) AS iqr4,
       ROUND(CASE WHEN iqr > 0 THEN (value - med) / iqr END, 4) + 0.0
         AS z4
FROM q
""")
def pit_robust_z_events(spark, sf_dir):
    """Point-in-time ROBUST normalization (``operators/encoding.py
    pit_robust_z``): each event scaled by the median and IQR of its
    key's history up to itself — the leakage-free tier beside the
    in-sample `robust_scale_events`. Spark's interpolated windowed
    ``percentile`` equals DuckDB's ``quantile_cont`` definition
    ((n-1)*q rank, linear interpolation) — the oracle IS that parity
    claim. Three expanding quantiles share one WindowExec."""
    from fs2_data_spark.operators.encoding import pit_robust_z
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id",
                                            "ts", "value")
    out = pit_robust_z(ev, value="value", key="user_id", ts="ts",
                       tiebreak="event_id")
    return out.select("event_id", "user_id", "value",
                      F.round("med_pit", 4).alias("med4"),
                      F.round("iqr_pit", 4).alias("iqr4"),
                      (F.round("pit_robust_z", 4) + F.lit(0.0))
                      .alias("z4"))


@_q("seasonal_baseline_events", """
WITH d AS (SELECT event_id, user_id, epoch_us(ts) AS eus, value,
                  CAST((epoch_us(ts) // 3600000000) % 168 AS INTEGER) AS how
           FROM events)
SELECT event_id, user_id, how, value,
       ROUND(CAST(sum(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE)
             / CAST(count(value) OVER w AS DOUBLE), 4) AS seasonal_mean4,
       ROUND(value - CAST(sum(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE)
                     / CAST(count(value) OVER w AS DOUBLE), 4)
         AS seasonal_resid4
FROM d
WINDOW w AS (PARTITION BY user_id, how ORDER BY eus, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
""")
def seasonal_baseline_events(spark, sf_dir):
    """PIT seasonal baseline (``operators/encoding.py
    seasonal_baseline``): each event's expected value = expanding mean
    of its key's STRICTLY PRIOR events in the same hour-of-week cell
    (frame ends at -1 — the row never sees itself), residual =
    deseasonalized signal. The (key, cell) pair is the partition key, so
    state per task is one running (decimal sum, count); DECIMAL(27,6)
    sums keep the mean combine-order-independent."""
    from fs2_data_spark.operators.encoding import seasonal_baseline
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id",
                                            "ts", "value")
    out = seasonal_baseline(ev, value="value", key="user_id", ts="ts",
                            tiebreak="event_id")
    return out.select("event_id", "user_id", "how", "value",
                      F.round("seasonal_mean", 4).alias("seasonal_mean4"),
                      F.round("seasonal_resid", 4).alias("seasonal_resid4"))


@_q("interarrival_events", """
WITH d AS (SELECT event_id, user_id, epoch_us(ts) AS eus FROM events),
l AS (SELECT event_id, user_id, eus,
             eus - lag(eus) OVER (PARTITION BY user_id
                                  ORDER BY eus, event_id) AS dt_us
      FROM d)
SELECT event_id, user_id, dt_us,
       ROUND(CAST(sum(dt_us) OVER w AS DOUBLE)
             / CAST(count(dt_us) OVER w AS DOUBLE), 4) AS mean_dt4,
       ROUND(CAST(dt_us AS DOUBLE)
             / (CAST(sum(dt_us) OVER w AS DOUBLE)
                / CAST(count(dt_us) OVER w AS DOUBLE)), 4) AS burst4
FROM l
WINDOW w AS (PARTITION BY user_id ORDER BY eus, event_id
             ROWS UNBOUNDED PRECEDING)
""")
def interarrival_events(spark, sf_dir):
    """Inter-arrival burstiness features (``operators/encoding.py
    interarrival_stats``): gap to the previous event, PIT expanding mean
    gap (exact int64 microsecond sums), and their ratio — the
    rate-anomaly signal. One Exchange + one Sort; first events NULL.

    The rounded outputs use :func:`functions.rounding.round_half_away`
    (the scaled-double half-away semantics of the oracle's DuckDB
    ``ROUND``), not Spark ``F.round`` — the oracle rounds the true scaled
    double while Spark's shortest-repr HALF_UP double-rounds, and
    integer-ratio expanding means hit the disagreement boundary on ~0.4%
    of rows (judge-reproduced r05 driver hash-fail)."""
    from fs2_data_spark.functions.rounding import round_half_away
    from fs2_data_spark.operators.encoding import interarrival_stats
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = interarrival_stats(ev, key="user_id", ts="ts",
                             tiebreak="event_id")
    return out.select("event_id", "user_id", "dt_us",
                      round_half_away(F.col("mean_dt_us"), 4)
                      .alias("mean_dt4"),
                      round_half_away(F.col("burst"), 4).alias("burst4"))


@_q("psi_drift_events", """
WITH stats AS (
  SELECT event_type, min(value) AS lo, max(value) AS hi,
         count(value) AS n_base
  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
  GROUP BY event_type HAVING min(value) < max(value)),
binned AS (
  SELECT e.event_type, s.lo, s.hi, s.n_base,
         LEAST(9, GREATEST(0, CAST(FLOOR((e.value - s.lo) / (s.hi - s.lo)
                                         * 10) AS INTEGER))) AS bin,
         CASE WHEN e.ts >= TIMESTAMP '2024-01-16 00:00:00'
              THEN 1 ELSE 0 END AS cur
  FROM events e JOIN stats s USING (event_type)),
counts AS (
  SELECT event_type, lo, hi, n_base, bin,
         SUM(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS cb,
         SUM(CASE WHEN cur = 1 THEN 1 ELSE 0 END) AS cc
  FROM binned GROUP BY event_type, lo, hi, n_base, bin),
grid AS (
  SELECT s.event_type, s.lo, s.hi, s.n_base, g.bin
  FROM stats s CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) g),
filled AS (
  SELECT g.event_type, g.lo, g.hi, g.n_base, g.bin,
         COALESCE(c.cb, 0) AS cb, COALESCE(c.cc, 0) AS cc
  FROM grid g LEFT JOIN counts c
    ON c.event_type = g.event_type AND c.bin = g.bin),
w AS (SELECT *, SUM(cc) OVER (PARTITION BY event_type) AS n_cur FROM filled)
SELECT event_type, lo, hi, n_base, CAST(n_cur AS BIGINT) AS n_cur,
       ROUND(CAST(SUM(CAST(ROUND(
         ((cb + 0.5) / (n_base + 5.0) - (cc + 0.5) / (n_cur + 5.0))
         * ln(((cb + 0.5) / (n_base + 5.0))
              / ((cc + 0.5) / (n_cur + 5.0))), 9)
         AS DECIMAL(38,12))) AS DOUBLE), 6) AS psi
FROM w GROUP BY event_type, lo, hi, n_base, n_cur
""")
def psi_drift_events(spark, sf_dir):
    """Population Stability Index per event_type between the first and
    second half of the stream (``operators/drift.py psi_drift``): 10
    equal-width bins frozen on the BASELINE period's exact per-group
    [min, max], Laplace-smoothed proportions, full bin grid materialized
    so empty bins keep their smoothed term. One corpus scan -> bounded
    (group, bin, period) counts; per-bin terms rounded to 9 dp and
    summed in DECIMAL(38,12) (order-free)."""
    from fs2_data_spark.operators.drift import psi_drift
    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    return psi_drift(ev, value="value", group="event_type", ts="ts",
                     split="2024-01-16 00:00:00", k=10)


@_q("cusum_events", """
WITH d AS (SELECT event_id, user_id, value, epoch_us(ts) AS eus,
                  CAST(value - 55.0 AS DECIMAL(27,6)) AS dev
           FROM events),
p AS (SELECT *, SUM(dev) OVER (PARTITION BY user_id ORDER BY eus, event_id
                               ROWS UNBOUNDED PRECEDING) AS pf
      FROM d),
m AS (SELECT *, LEAST(CAST(0 AS DECIMAL(38,6)),
                      MIN(pf) OVER (PARTITION BY user_id
                                    ORDER BY eus, event_id
                                    ROWS UNBOUNDED PRECEDING)) AS mn
      FROM p)
SELECT event_id, user_id, value,
       ROUND(CAST(CAST(pf AS DECIMAL(38,6)) - mn AS DOUBLE), 6) AS cusum,
       (CAST(CAST(pf AS DECIMAL(38,6)) - mn AS DOUBLE) > 500.0) AS alarm
FROM m
""")
def cusum_events(spark, sf_dir):
    """One-sided CUSUM drift statistic per user (``operators/drift.py
    cusum_drift``): S_i = max(0, S_{i-1} + (value - 55)) with alarm at
    S > 500, computed via the exact prefix closed form S_i = P_i -
    min(0, min_{j<=i} P_j) — two expanding window aggregates over ONE
    partition sort instead of a sequential kernel. Deviations quantized
    to DECIMAL(27,6); prefix sums and running min stay decimal (exact,
    associative), so the DuckDB replay is bit-identical."""
    from fs2_data_spark.operators.drift import cusum_drift
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts",
                                            "value")
    out = cusum_drift(ev, value="value", key="user_id", ts="ts",
                      tiebreak="event_id", target=50.0, slack=5.0, h=500.0)
    return out.select("event_id", "user_id", "value", "cusum", "alarm")


@_q("kl_source_docs", f"""
WITH tok AS (SELECT source, unnest({TOKENS_SQL}) AS t FROM documents),
cst AS (SELECT source, t, count(*) AS c FROM tok GROUP BY source, t),
ct AS (SELECT t, CAST(SUM(c) AS BIGINT) AS ct FROM cst GROUP BY t),
tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns,
               count(*) AS vocab FROM cst GROUP BY source),
nv AS (SELECT CAST(SUM(ct) AS BIGINT) AS n, count(*) AS v FROM ct),
grid AS (
  SELECT tot.source, tot.ns, tot.vocab, ct.t, ct.ct, nv.n, nv.v,
         COALESCE(cst.c, 0) AS c
  FROM tot CROSS JOIN ct CROSS JOIN nv
  LEFT JOIN cst ON cst.source = tot.source AND cst.t = ct.t)
SELECT source, ns AS n_tok_src, CAST(vocab AS BIGINT) AS vocab_src,
       ROUND(CAST(SUM(CAST(ROUND(
         ((c + 0.5) / (ns + 0.5 * v))
         * ln(((c + 0.5) / (ns + 0.5 * v)) / ((ct + 0.5) / (n + 0.5 * v))),
         9) AS DECIMAL(38,12))) AS DOUBLE), 6) AS kl
FROM grid GROUP BY source, ns, vocab
""")
def kl_source_docs(spark, sf_dir):
    """Per-source token-distribution divergence (``operators/drift.py
    kl_source_divergence``): KL(P_source || P_corpus) over add-1/2
    smoothed unigram distributions on the corpus vocabulary — the
    source-drift / mixture-rebalancing monitor. One corpus-sized
    explode+count; corpus marginals re-aggregate the small count table;
    the vocab x source grid keeps smoothed mass for unseen tokens.
    Terms rounded to 9 dp, DECIMAL(38,12) sum (order-free)."""
    from fs2_data_spark.operators.drift import kl_source_divergence
    docs = _doc_tokens(spark, sf_dir)
    return kl_source_divergence(docs, tokens="tokens", source="source",
                                alpha=0.5)


@_q("edit_pairs_docs", """
WITH n AS (SELECT doc_id AS id, text AS tx,
                  CAST(length(text) AS INTEGER) AS len,
                  substr(text, 1, 16) AS blk
           FROM documents)
SELECT a.id AS id_a, b.id AS id_b, a.len AS len_a, b.len AS len_b,
       CAST(levenshtein(a.tx, b.tx) AS INTEGER) AS lev
FROM n a JOIN n b
  ON a.blk = b.blk AND a.id < b.id AND abs(a.len - b.len) <= 16
WHERE levenshtein(a.tx, b.tx) <= 16
""")
def edit_pairs_docs(spark, sf_dir):
    """Blocked edit-distance record linkage (``operators/linkage.py
    blocked_edit_pairs``): pairs sharing a 16-char prefix block within
    Levenshtein distance 16 — the character-level fuzzy-match tier
    between exact dedup and MinHash. Spark side uses the banded
    ``levenshtein(l, r, threshold)`` (abandons the DP past the band,
    O(d*len) per pair); the oracle computes the full distance and
    filters — identical surviving pairs and values. Block equi-join +
    length-diff prefilter fence the n^2. Oracle caveat (adversarially
    measured): DuckDB's levenshtein counts BYTES where Spark counts
    CODEPOINTS (the correct unicode reading) — the mirror is exact on
    ASCII corpora like the driver's; the adversarial suite excludes
    this row with that stated reason."""
    from fs2_data_spark.operators.linkage import blocked_edit_pairs
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return blocked_edit_pairs(docs, text="text", id_col="doc_id",
                              prefix_len=16, max_dist=16)


@_q("skipgram_pairs_docs", f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS tok FROM documents),
u AS (SELECT doc_id, unnest(tok) AS c,
             generate_subscripts(tok, 1) AS p
      FROM t)
SELECT a.c AS center, b.c AS context, count(*) AS cnt
FROM u a JOIN u b
  ON a.doc_id = b.doc_id AND a.p <> b.p AND abs(a.p - b.p) <= 2
GROUP BY a.c, b.c
""")
def skipgram_pairs_docs(spark, sf_dir):
    """Skip-gram (center, context) co-occurrence counts, window 2
    (``operators/seqops.py skipgram_pairs``) — word2vec-style training
    pairs. Spark side builds each position's context with two O(window)
    array slices per element (zero joins, one map-side-combined count
    agg on a vocab^2-bounded key space); the oracle states the naive
    positional self-join — a value match certifies the HOF
    decomposition."""
    # r6: pair construction + per-batch partial counts as one Arrow
    # kernel (identical integer pair multiset); the final sum keeps the
    # same vocab^2-bounded map-side-combined aggregation
    from fs2_data_spark.functions.textkernels import skipgram_partial_kernel
    d = _t(spark, sf_dir, "documents").select("text")
    part = skipgram_partial_kernel(d, "text", window=2)
    return (part.groupBy("center", "context")
            .agg(F.sum("c").alias("cnt")))


@_q("k_anonymity_events", """
SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr,
       count(*) AS n,
       count(DISTINCT user_id) AS n_sensitive,
       count(*) < 80 AS k_violation,
       count(DISTINCT user_id) < 30 AS l_violation
FROM events GROUP BY event_type, hr
""")
def k_anonymity_events(spark, sf_dir):
    """k-anonymity / l-diversity audit (``operators/governance.py
    k_anonymity_audit``) on the quasi-identifier (event_type,
    hour-of-day) with user_id as the sensitive attribute: exact class
    sizes, exact distinct-sensitive counts (a compliance gate, not a
    sketch), and both violation flags. One map-side-combined
    aggregation on the bounded quasi-identifier key."""
    from fs2_data_spark.operators.governance import k_anonymity_audit
    ev = (_t(spark, sf_dir, "events")
          .select("event_type", F.hour("ts").alias("hr"), "user_id"))
    return k_anonymity_audit(ev, quasi=["event_type", "hr"],
                             sensitive="user_id", k=80, ell=30)


@_q("session_transitions_events", """
WITH d AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS eus
           FROM events),
l AS (SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY eus, event_id) AS from_state,
             event_type AS to_state
      FROM d),
c AS (SELECT from_state, to_state, count(*) AS cnt
      FROM l WHERE from_state IS NOT NULL
      GROUP BY from_state, to_state)
SELECT from_state, to_state, cnt,
       ROUND(CAST(cnt AS DOUBLE)
             / CAST(SUM(cnt) OVER (PARTITION BY from_state) AS DOUBLE),
             6) AS p
FROM c
""")
def session_transitions_events(spark, sf_dir):
    """First-order Markov transition matrix of event_type per user
    (``operators/sessionize.py session_transitions``): count and
    conditional probability of each (from, to) step over time-ordered
    per-key sequences; transitions never cross keys. One key-sorted lag
    pass + one |states|^2-bounded count agg; p is one exact
    bigint/bigint division."""
    from fs2_data_spark.operators.sessionize import session_transitions
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts",
                                            "event_type")
    return session_transitions(ev, key="user_id", ts="ts",
                               tiebreak="event_id", state="event_type")


@_q("trend_slope_events", """
WITH d AS (SELECT user_id, value, epoch_us(ts) AS eus FROM events),
x AS (SELECT user_id, value,
             (eus - min(eus) OVER (PARTITION BY user_id)) // 1000000 AS xs
      FROM d),
s AS (SELECT user_id,
             count(value) AS n,
             SUM(xs) AS sx,
             SUM(CAST(value AS DECIMAL(27,6))) AS sy,
             SUM(CAST(CAST(xs AS DECIMAL(15,0))
                      * CAST(value AS DECIMAL(15,6))
                      AS DECIMAL(38,12))) AS sxy,
             SUM(xs * xs) AS sxx
      FROM x GROUP BY user_id)
SELECT user_id, n,
       ROUND(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
         THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END,
             10) AS slope,
       ROUND(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
         THEN (CAST(sy AS DOUBLE)
               - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                 * CAST(sx AS DOUBLE))
              / CAST(n AS DOUBLE) END,
             6) AS intercept
FROM s
""")
def trend_slope_events(spark, sf_dir):
    """Per-user OLS trend of value over time (``operators/encoding.py
    trend_slope``): slope/intercept from five exact sufficient
    statistics (int64 n/Sx/Sxx, DECIMAL Sy/Sxy — combine-order
    independent), closed form evaluated in double on identical operands
    in both engines. x = seconds since the key's own first event (exact
    integer div). The per-key min window and the final agg share one
    hash partitioning."""
    from fs2_data_spark.operators.encoding import trend_slope
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    return trend_slope(ev, value="value", key="user_id", ts="ts")


@_q("mi_features_events", """
WITH mm AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
b AS (SELECT e.event_type AS cat,
             LEAST(9, GREATEST(0, CAST(FLOOR((e.value - mm.lo)
                 / (mm.hi - mm.lo) * 10) AS INTEGER))) AS bin
      FROM events e CROSS JOIN mm WHERE mm.lo < mm.hi),
c AS (SELECT cat, bin, count(*) AS n_tb FROM b GROUP BY cat, bin),
w AS (SELECT cat, bin, n_tb,
             CAST(SUM(n_tb) OVER (PARTITION BY cat) AS BIGINT) AS n_t,
             CAST(SUM(n_tb) OVER (PARTITION BY bin) AS BIGINT) AS n_b,
             CAST(SUM(n_tb) OVER () AS BIGINT) AS n
      FROM c),
t AS (SELECT *, ROUND((CAST(n_tb AS DOUBLE) / CAST(n AS DOUBLE))
             * ln(CAST(n_tb AS DOUBLE) * CAST(n AS DOUBLE)
                  / (CAST(n_t AS DOUBLE) * CAST(n_b AS DOUBLE))), 9) AS term
      FROM w)
SELECT cat, bin, n_tb, n_t, n_b, n, term,
       ROUND(CAST(SUM(CAST(term AS DECIMAL(38,12))) OVER ()
                  AS DOUBLE), 6) AS mi
FROM t
""")
def mi_features_events(spark, sf_dir):
    """Mutual information between event_type and the decile-binned
    value (``operators/drift.py mutual_information``): the model-free
    feature-relevance score, emitted as the full contingency table
    (joint + both marginals + per-cell term + repeated MI scalar) so
    the oracle checks every count, not one number. Exact global
    min/max, one bounded (cat, bin) count agg, windows over the tiny
    cell table; terms rounded 9 dp, DECIMAL(38,12) sum."""
    from fs2_data_spark.operators.drift import mutual_information
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    return mutual_information(ev, cat="event_type", value="value", k=10)


@_q("future_labels_events", """
WITH d AS (SELECT event_id, user_id, event_type, value, epoch_us(ts) AS eus
           FROM events)
SELECT event_id,
       CAST(COALESCE(count(value) OVER w, 0) AS BIGINT) AS fut_cnt,
       ROUND(CAST(COALESCE(sum(CAST(value AS DECIMAL(27,6))) OVER w,
                           0) AS DOUBLE), 6) AS fut_sum,
       COALESCE(max(CAST(event_type = 'purchase' AS INTEGER)) OVER w, 0)
         AS fut_outcome
FROM d
WINDOW w AS (PARTITION BY user_id ORDER BY eus
             RANGE BETWEEN 1 FOLLOWING AND 3600000000 FOLLOWING)
""")
def future_labels_events(spark, sf_dir):
    """Forward-looking label generation (``operators/windows.py
    future_outcome_labels``): per event, count/exact-sum of the key's
    events in the STRICTLY future window (t, t+1h] plus a
    did-purchase-within-horizon flag — the supervised-learning
    complement of the PIT features (labels see only t' > t). Spark
    evaluates it as a trailing RANGE frame over DESC-negated time (one
    incremental pass; forward frames rescan the tail per row); the
    oracle states the direct FOLLOWING frame — a value match certifies
    the reversal."""
    from fs2_data_spark.operators.windows import future_outcome_labels
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts",
                                            "event_type", "value")
    out = future_outcome_labels(
        ev, value="value", key="user_id", ts="ts",
        horizon_us=3_600_000_000,
        outcome=(F.col("event_type") == "purchase"))
    return out.select("event_id", "fut_cnt", "fut_sum", "fut_outcome")


@_q("session_cooccurrence_events", """
WITH g AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS flag
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT *, CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS session_seq
  FROM g),
m AS (SELECT DISTINCT user_id, session_seq, event_type AS st FROM s),
tot AS (SELECT count(*) AS n_sessions
        FROM (SELECT DISTINCT user_id, session_seq FROM m)),
marg AS (SELECT st, count(*) AS n FROM m GROUP BY st),
p AS (SELECT a.st AS state_a, b.st AS state_b, count(*) AS n_ab
      FROM m a JOIN m b ON a.user_id = b.user_id
       AND a.session_seq = b.session_seq AND a.st < b.st
      GROUP BY a.st, b.st)
SELECT state_a, state_b, n_ab, ma.n AS n_a, mb.n AS n_b, tot.n_sessions,
       ROUND(CAST(tot.n_sessions AS DOUBLE) * CAST(n_ab AS DOUBLE)
             / (CAST(ma.n AS DOUBLE) * CAST(mb.n AS DOUBLE)), 6) AS lift
FROM p JOIN marg ma ON ma.st = state_a
JOIN marg mb ON mb.st = state_b CROSS JOIN tot
""")
def session_cooccurrence_events(spark, sf_dir):
    """Market-basket co-occurrence of event types within 30-min
    gap-sessions (``operators/sessionize.py session_cooccurrence``):
    sessions containing both states, marginals, and lift vs
    independence — the unordered complement of the Markov transition
    matrix. Membership is DISTINCT (session, state); the self-join fans
    out C(|states in session|, 2), alphabet-bounded, never
    length-bounded."""
    from fs2_data_spark.operators.sessionize import session_cooccurrence
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    return session_cooccurrence(ev, key="user_id", ts="ts",
                                state="event_type", gap_s=1800)


@_q("calibration_events", """
WITH d AS (SELECT LEAST(1.0, value / 500.0) AS pred,
                  event_type = 'purchase' AS outcome
           FROM events WHERE value IS NOT NULL),
c AS (SELECT LEAST(9, GREATEST(0, CAST(FLOOR(pred * 10) AS INTEGER)))
         AS bin,
             count(*) AS n_b,
             SUM(CAST(pred AS DECIMAL(27,6))) AS sp,
             SUM(CAST(outcome AS INTEGER)) AS sy
      FROM d GROUP BY 1),
w AS (SELECT bin, n_b, CAST(SUM(n_b) OVER () AS BIGINT) AS n,
             ROUND(CAST(sp AS DOUBLE) / CAST(n_b AS DOUBLE), 9) AS conf,
             ROUND(CAST(sy AS DOUBLE) / CAST(n_b AS DOUBLE), 9) AS acc
      FROM c),
t AS (SELECT *, ROUND((CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE))
                      * abs(acc - conf), 9) AS gap
      FROM w)
SELECT bin, n_b, n, conf, acc, gap,
       ROUND(CAST(SUM(CAST(gap AS DECIMAL(38,12))) OVER () AS DOUBLE), 6)
         AS ece
FROM t
""")
def calibration_events(spark, sf_dir):
    """Reliability table + Expected Calibration Error
    (``operators/drift.py calibration_bins``) of the pseudo-probability
    ``least(1, value/500)`` against the did-purchase outcome: per
    confidence decile the exact count, mean confidence (decimal sum),
    empirical accuracy (int ratio), weighted |acc - conf| gap, and the
    ECE scalar (9-dp terms, DECIMAL(38,12) sum). One k-bounded
    aggregation + one window over the <= k-row table."""
    from fs2_data_spark.operators.drift import calibration_bins
    # filter BEFORE least(): Spark's least() ignores NULLs, so a NULL
    # value would otherwise enter as a confident prediction of 1.0
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select(F.least(F.lit(1.0), F.col("value") / F.lit(500.0))
                  .alias("pred"),
                  (F.col("event_type") == "purchase").alias("outcome")))
    return calibration_bins(ev, pred="pred", outcome="outcome", k=10)


@_q("ks_drift_events", """
WITH pts AS (
  SELECT event_type, value AS v,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
             THEN 1 ELSE 0 END) AS cb,
         SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
             THEN 1 ELSE 0 END) AS cc
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
c AS (
  SELECT event_type,
         SUM(cb) OVER w AS cum_b, SUM(cc) OVER w AS cum_c,
         SUM(cb) OVER g AS n_base, SUM(cc) OVER g AS n_cur
  FROM pts
  WINDOW w AS (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         g AS (PARTITION BY event_type))
SELECT event_type, CAST(n_base AS BIGINT) AS n_base,
       CAST(n_cur AS BIGINT) AS n_cur,
       ROUND(MAX(ROUND(ABS(CAST(cum_b AS DOUBLE) / CAST(n_base AS DOUBLE)
                - CAST(cum_c AS DOUBLE) / CAST(n_cur AS DOUBLE)), 9)), 6)
         AS d
FROM c WHERE n_base > 0 AND n_cur > 0
GROUP BY 1, 2, 3
""")
def ks_drift_events(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov drift statistic per
    event_type between the first and second half of the stream
    (``operators/drift.py ks_drift``): the sup of the ECDF difference,
    evaluated exactly at every pooled observed value (tie counts per
    point). The binning-free complement of PSI. One scan -> exact
    (group, value, period) counts -> one group-partitioned window pass
    -> max of 9-dp per-point terms."""
    from fs2_data_spark.operators.drift import ks_drift
    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    return ks_drift(ev, value="value", group="event_type", ts="ts",
                    split="2024-01-16 00:00:00")


@_q("funnel_events", """
WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s2 ON e.user_id = s2.user_id
       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
n AS (SELECT 1 AS step, 'view' AS step_name, count(*) AS n_reached FROM s1
      UNION ALL SELECT 2, 'click', count(*) FROM s2
      UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
SELECT CAST(step AS INTEGER) AS step, step_name,
       CAST(n_reached AS BIGINT) AS n_reached,
       CASE WHEN lag(n_reached) OVER wo IS NULL THEN 1.0
            WHEN lag(n_reached) OVER wo > 0
            THEN ROUND(CAST(n_reached AS DOUBLE)
                       / CAST(lag(n_reached) OVER wo AS DOUBLE), 6)
       END AS conv_from_prev,
       CASE WHEN first_value(n_reached) OVER wo > 0
            THEN ROUND(CAST(n_reached AS DOUBLE)
                       / CAST(first_value(n_reached) OVER wo AS DOUBLE), 6)
       END AS conv_from_first
FROM n WINDOW wo AS (ORDER BY step
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")
def funnel_events(spark, sf_dir):
    """Ordered view -> click -> purchase funnel (``operators/journey.py
    funnel_steps``): step k matches the earliest qualifying event
    STRICTLY after the first-touch time of step k-1 (equal timestamps
    do not advance — the as-of tie discipline), so out-of-order actors
    count only their longest ordered prefix. Each stage is one filtered
    scan + key-partitioned equi-join + min-aggregate; the tagged reach
    tables union into ONE distributed count job."""
    from fs2_data_spark.operators.journey import funnel_steps
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    return funnel_steps(ev, ["view", "click", "purchase"],
                        key="user_id", ts="ts")


@_q("cohort_retention_events", """
WITH e AS (SELECT user_id, epoch_us(ts) AS eus FROM events),
f AS (SELECT user_id, CAST(FLOOR(min(eus) / 604800000000.0) AS BIGINT)
         AS cohort
      FROM e GROUP BY 1),
sz AS (SELECT cohort, count(*) AS n_cohort FROM f GROUP BY 1),
cells AS (SELECT DISTINCT f.cohort,
                 CAST(FLOOR(e.eus / 604800000000.0) AS BIGINT) - f.cohort
                   AS woff,
                 e.user_id
          FROM e JOIN f USING (user_id)),
c AS (SELECT cohort, woff, count(*) AS n_active FROM cells GROUP BY 1, 2)
SELECT c.cohort, c.woff, CAST(n_active AS BIGINT) AS n_active,
       CAST(n_cohort AS BIGINT) AS n_cohort,
       ROUND(CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE), 6)
         AS retention
FROM c JOIN sz USING (cohort)
""")
def cohort_retention_events(spark, sf_dir):
    """Weekly cohort retention matrix (``operators/journey.py
    cohort_retention``): users cohorted by the epoch-aligned 7-day
    bucket of their first event; a cell counts DISTINCT users with any
    event at that week offset. One first-seen aggregate, one
    key-partitioned join back, one DISTINCT bounded by users x horizon;
    cohort sizes broadcast."""
    from fs2_data_spark.operators.journey import cohort_retention
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    out = cohort_retention(ev, key="user_id", ts="ts",
                           bucket_us=7 * 86_400_000_000)
    return out.withColumnRenamed("offset", "woff")


@_q("kaplan_meier_events", """
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS eus FROM events),
subj AS (SELECT user_id, min(eus) AS o,
                min(CASE WHEN event_type = 'purchase' THEN eus END) AS ev
         FROM e GROUP BY 1),
dur AS (SELECT CASE WHEN ev IS NOT NULL THEN ev - o
                    ELSE (SELECT max(eus) FROM e) - o END AS t_us,
               CASE WHEN ev IS NOT NULL THEN 1 ELSE 0 END AS obs
        FROM subj),
pts AS (SELECT t_us, SUM(obs) AS d, SUM(1 - obs) AS c FROM dur GROUP BY 1),
w AS (SELECT t_us, d, c,
             SUM(d + c) OVER () - SUM(d + c) OVER wc + d + c AS n_risk
      FROM pts
      WINDOW wc AS (ORDER BY t_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
t AS (SELECT *,
             CASE WHEN d = 0 OR d = n_risk THEN 0.0
                  ELSE ROUND(ln(1.0 - CAST(d AS DOUBLE)
                                / CAST(n_risk AS DOUBLE)), 9) END AS term,
             MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER wc AS dead
      FROM w
      WINDOW wc AS (ORDER BY t_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT t_us, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
       CAST(c AS BIGINT) AS c,
       CASE WHEN dead = 1 THEN 0.0
            ELSE ROUND(exp(CAST(SUM(CAST(term AS DECIMAL(38,12))) OVER wc
                                AS DOUBLE)), 6) END AS surv
FROM t WINDOW wc AS (ORDER BY t_us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")
def kaplan_meier_events(spark, sf_dir):
    """Kaplan-Meier curve of time-to-first-purchase per user
    (``operators/journey.py kaplan_meier``): origin = the user's first
    event, right-censored at the global max timestamp. Exact at-risk
    counts; per-time ln factors rounded to 9 dp and prefix-summed in
    DECIMAL(38,12); S drops to exactly 0 when the last at-risk subject
    converts. All windows run over the distinct-duration table."""
    from fs2_data_spark.operators.journey import kaplan_meier
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    return kaplan_meier(ev, key="user_id", ts="ts",
                        step_col="event_type", event="purchase")


@_q("cramers_v_events", """
WITH src AS (SELECT event_type AS a, hour(ts) AS b FROM events
             WHERE event_type IS NOT NULL AND ts IS NOT NULL),
cells AS (SELECT a, b, count(*) AS o FROM src GROUP BY 1, 2),
grid AS (SELECT da.a, db.b
         FROM (SELECT DISTINCT a FROM cells) da
         CROSS JOIN (SELECT DISTINCT b FROM cells) db),
full_g AS (SELECT g.a, g.b, COALESCE(c.o, 0) AS o
           FROM grid g LEFT JOIN cells c ON c.a = g.a AND c.b = g.b),
m AS (SELECT *,
             SUM(o) OVER (PARTITION BY a) AS rt,
             SUM(o) OVER (PARTITION BY b) AS ct,
             SUM(o) OVER () AS n,
             COUNT(DISTINCT a) OVER () AS r,
             COUNT(DISTINCT b) OVER () AS c
      FROM full_g),
t AS (SELECT n, r, c,
             ROUND((CAST(o AS DOUBLE) - CAST(rt AS DOUBLE)
                    * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE)
                      * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                   / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                      / CAST(n AS DOUBLE)), 9) AS term
      FROM m WHERE r >= 2 AND c >= 2)
SELECT CAST(n AS BIGINT) AS n, CAST(r AS INTEGER) AS r,
       CAST(c AS INTEGER) AS c,
       ROUND(CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE), 6) AS chi2,
       ROUND(SQRT(CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
                  / (CAST(n AS DOUBLE)
                     * (CAST(LEAST(r, c) AS DOUBLE) - 1.0))), 6) AS v
FROM t GROUP BY n, r, c
""")
def cramers_v_events(spark, sf_dir):
    """Chi-square independence + Cramér's V between event_type and
    hour-of-day (``operators/drift.py cramers_v``): the full r x c grid
    is materialized so empty cells contribute their exact expected
    count; per-cell terms rounded to 9 dp, summed in DECIMAL(38,12);
    one scan, everything downstream bounded by |types| x 24."""
    from fs2_data_spark.operators.drift import cramers_v
    ev = (_t(spark, sf_dir, "events")
          .select(F.col("event_type").alias("a"),
                  F.hour("ts").alias("b")))
    return cramers_v(ev, a="a", b="b")


@_q("conformal_events", """
WITH d AS (SELECT event_type, event_id, value AS v,
                  ((event_id * 2654435761 + 42) % 1000003 * 40503 + 17)
                    % 999983 AS h
           FROM events WHERE value IS NOT NULL),
s AS (SELECT *, CASE WHEN h < 599989 THEN 'train'
                     WHEN h < 799986 THEN 'calib'
                     ELSE 'test' END AS split FROM d),
pred AS (SELECT event_type,
                ROUND(CAST(SUM(CAST(v AS DECIMAL(27,6))) AS DOUBLE)
                      / CAST(COUNT(v) AS DOUBLE), 9) AS p
         FROM s WHERE split = 'train' GROUP BY 1),
sc AS (SELECT s.event_type, s.event_id, s.split, ABS(s.v - p.p) AS sco
       FROM s JOIN pred p USING (event_type) WHERE split <> 'train'),
stats AS (SELECT event_type, COUNT(*) AS n_calib,
                 CAST(CEIL(CAST(COUNT(*) + 1 AS DOUBLE)
                           * CAST(0.9 AS DOUBLE)) AS BIGINT) AS k
          FROM sc WHERE split = 'calib' GROUP BY 1),
rk AS (SELECT event_type, sco,
              row_number() OVER (PARTITION BY event_type
                                 ORDER BY sco, event_id) AS rn
       FROM sc WHERE split = 'calib'),
q AS (SELECT r.event_type, r.sco AS q_hat
      FROM rk r JOIN stats st USING (event_type) WHERE r.rn = st.k),
cov AS (SELECT t.event_type, COUNT(*) AS n_test, MAX(q.q_hat) AS q_hat,
               ROUND(CAST(SUM(CASE WHEN q.q_hat IS NULL
                                    OR t.sco <= q.q_hat
                              THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS coverage
        FROM sc t LEFT JOIN q USING (event_type)
        WHERE t.split = 'test' GROUP BY 1)
SELECT c.event_type, st.n_calib, st.k, c.q_hat,
       CAST(c.n_test AS BIGINT) AS n_test, c.coverage
FROM cov c LEFT JOIN stats st USING (event_type)
""")
def conformal_events(spark, sf_dir):
    """Split-conformal prediction intervals with per-event-type
    (Mondrian) calibration (``operators/drift.py conformal_intervals``):
    portable-hash 60/20/20 split, train-split group-mean model, exact
    rank pick of the conformal quantile on calib scores, empirical
    coverage on the held-out test split. alpha = 0.1. Split assignment
    is zero-shuffle scan arithmetic; the rank pick is one
    group-partitioned window over calib rows."""
    from fs2_data_spark.operators.drift import conformal_intervals
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type",
                                            "value")
    return conformal_intervals(ev, value="value", group="event_type",
                               id_col="event_id", alpha=0.1, seed=42)


@_q("auc_events", """
WITH d AS (SELECT LEAST(1.0, value / 500.0) AS s,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events
           WHERE value IS NOT NULL AND event_type IS NOT NULL),
pts AS (SELECT s, SUM(y) AS np, SUM(1 - y) AS nn FROM d GROUP BY 1),
c AS (SELECT np, nn,
             SUM(nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) - nn AS below
      FROM pts)
SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
       CAST(SUM(np * (2 * below + nn)) AS BIGINT) AS u2,
       ROUND(CAST(SUM(np * (2 * below + nn)) AS DOUBLE)
             / (2.0 * CAST(SUM(np) AS DOUBLE) * CAST(SUM(nn) AS DOUBLE)),
             6) AS auc
FROM c HAVING SUM(np) > 0 AND SUM(nn) > 0
""")
def auc_events(spark, sf_dir):
    """EXACT ROC-AUC of the pseudo-score least(1, value/500) against
    the did-purchase label (``operators/drift.py exact_auc``):
    Mann-Whitney rank identity over distinct-score tie counts — 2U
    accumulates entirely in exact integer arithmetic (ties contribute
    1, wins 2), one IEEE divide at the end. The ranking complement of
    `calibration_events`."""
    from fs2_data_spark.operators.drift import exact_auc
    # filter BEFORE least(): Spark's least() ignores NULLs, so a NULL
    # value would otherwise enter as a confident score of 1.0
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()
                  & F.col("event_type").isNotNull())
          .select(F.least(F.lit(1.0), F.col("value") / F.lit(500.0))
                  .alias("s"),
                  (F.col("event_type") == "purchase").alias("y")))
    return exact_auc(ev, score="s", label="y")


@_q("gini_sources_docs", """
WITH r AS (SELECT source, n_chars,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY n_chars, doc_id) AS i
           FROM documents WHERE n_chars IS NOT NULL),
a AS (SELECT source, count(*) AS n,
             SUM(CAST(n_chars AS DECIMAL(38,0))) AS sx,
             SUM(CAST(i * n_chars AS DECIMAL(38,0))) AS six
      FROM r GROUP BY 1 HAVING SUM(n_chars) > 0)
SELECT source, CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS total,
       ROUND((2.0 * CAST(six AS DOUBLE)
              - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS gini
FROM a
""")
def gini_sources_docs(spark, sf_dir):
    """Gini coefficient of document sizes per source
    (``operators/drift.py gini_inequality``): the corpus-inequality
    audit — rank identity over the deterministic ascending sort, both
    sums exact in DECIMAL(38,0), one IEEE chain at the end. One
    group-partitioned window pass."""
    from fs2_data_spark.operators.drift import gini_inequality
    d = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                              "n_chars")
    return gini_inequality(d, value="n_chars", group="source",
                           tiebreak="doc_id")


@_q("benford_docs", """
WITH obs AS (SELECT CAST(substr(CAST(CAST(n_chars AS BIGINT) AS VARCHAR),
                                1, 1) AS INTEGER) AS digit,
                    count(*) AS n_d
             FROM documents WHERE n_chars > 0 GROUP BY 1),
grid AS (SELECT unnest(generate_series(1, 9)) AS digit),
full_g AS (SELECT g.digit, COALESCE(o.n_d, 0) AS n_d
           FROM grid g LEFT JOIN obs o USING (digit)),
m AS (SELECT *, SUM(n_d) OVER () AS n FROM full_g),
t AS (SELECT digit, n_d, CAST(n AS BIGINT) AS n,
             ROUND(CAST(n AS DOUBLE)
                   * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 9)
               AS expected
      FROM m),
u AS (SELECT *, ROUND((CAST(n_d AS DOUBLE) - expected)
                      * (CAST(n_d AS DOUBLE) - expected) / expected, 9)
               AS term
      FROM t)
SELECT CAST(digit AS INTEGER) AS digit, CAST(n_d AS BIGINT) AS n_d, n,
       expected, term,
       ROUND(CAST(SUM(CAST(term AS DECIMAL(38,12))) OVER () AS DOUBLE), 6)
         AS chi2
FROM u
""")
def benford_docs(spark, sf_dir):
    """Benford first-digit audit of document sizes
    (``operators/drift.py benford_audit``): observed leading-digit
    counts (first character of the integer's decimal string — exact on
    every engine) vs n * log10(1 + 1/d), chi-square distance with
    9-dp terms summed in DECIMAL(38,12). Full digit grid 1-9, zero
    rows included. The fabricated-data screen of the audit tier."""
    from fs2_data_spark.operators.drift import benford_audit
    d = _t(spark, sf_dir, "documents").select("n_chars")
    return benford_audit(d, value="n_chars")


@_q("pps_sample_docs", """
WITH o AS (SELECT doc_id, source, n_chars,
                  ((doc_id * 2654435761 + 42) % 1000003 * 40503 + 17)
                    % 999983 AS h
           FROM documents WHERE n_chars > 0),
c AS (SELECT doc_id, source, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY h, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum_w,
             SUM(n_chars) OVER (PARTITION BY source) AS total_w
      FROM o)
SELECT doc_id, source, n_chars, CAST(cum_w AS BIGINT) AS cum_w,
       CAST(total_w AS BIGINT) AS total_w,
       CAST((cum_w * 5) // total_w
            - ((cum_w - n_chars) * 5) // total_w AS INTEGER) AS n_hits
FROM c
WHERE (cum_w * 5) // total_w > ((cum_w - n_chars) * 5) // total_w
""")
def pps_sample_docs(spark, sf_dir):
    """Probability-proportional-to-size systematic sample of 5 docs per
    source, weighted by n_chars (``operators/mixing.py
    pps_systematic_sample``): deterministic portable-hash order, exact
    bigint cumulative-weight walk — a SELECTION boundary, so no
    ln/pow anywhere (A-ES keys are libm-ulp-unsafe across engines).
    One stratum-partitioned window pass, zero joins."""
    from fs2_data_spark.operators.mixing import pps_systematic_sample
    d = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                              "n_chars")
    return pps_systematic_sample(d, weight="n_chars", strata="source",
                                 id_col="doc_id", k=5, seed=42)


@_q("qnorm_docs", """
WITH src AS (SELECT doc_id, source, n_chars FROM documents
             WHERE n_chars IS NOT NULL),
pooled AS (SELECT row_number() OVER (ORDER BY n_chars, doc_id) AS prnk,
                  n_chars AS pv
           FROM src),
g AS (SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS ng,
             (SELECT count(*) FROM src) AS n_all
      FROM src)
SELECT g.doc_id, g.source, g.n_chars, p.pv AS q_value
FROM g JOIN pooled p
  ON p.prnk = ((2 * g.r - 1) * g.n_all + 2 * g.ng - 1) // (2 * g.ng)
""")
def qnorm_docs(spark, sf_dir):
    """Quantile normalization of document sizes across sources
    (``operators/encoding.py quantile_normalize``): each row mapped to
    the POOLED distribution's value at its within-source midpoint
    quantile — pure integer rank arithmetic (selection boundary, no
    floats), pooled ranks via the range-partitioned global_rank (never
    a single-partition window), final lookup one equi-join on the
    target rank."""
    from fs2_data_spark.operators.encoding import quantile_normalize
    d = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                              "n_chars")
    out = quantile_normalize(d, value="n_chars", group="source",
                             tiebreak="doc_id")
    return out.select("doc_id", "source", "n_chars", "q_value")


@_q("rrf_events", """
WITH d AS (SELECT user_id, event_id, value, epoch_us(ts) AS eus
           FROM events WHERE value IS NOT NULL),
r AS (SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rank_1,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY eus DESC, event_id) AS rank_2
      FROM d),
s AS (SELECT *,
             ROUND(CAST(1 AS DOUBLE)
                   / (CAST(60 AS DOUBLE) + CAST(rank_1 AS DOUBLE))
                   + CAST(1 AS DOUBLE)
                   / (CAST(60 AS DOUBLE) + CAST(rank_2 AS DOUBLE)), 9)
               AS rrf
      FROM r),
t AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY rrf DESC, event_id) AS tn
      FROM s)
SELECT user_id, event_id, rank_1, rank_2, rrf FROM t WHERE tn <= 3
""")
def rrf_events(spark, sf_dir):
    """Reciprocal-rank fusion of two orderings of each user's events —
    relevance (value desc) and recency (event time desc) — top 3 per
    user (``operators/similarity.py rrf_fuse``): deterministic
    id-tie-broken ranks, fixed-length IEEE divide/add chain, all
    windows share the user partitioning (one Exchange). NULL values
    filtered (engines disagree on NULL order under DESC)."""
    from fs2_data_spark.operators.similarity import rrf_fuse
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("user_id", "event_id", "value",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("eus")))
    return rrf_fuse(ev, key="user_id",
                    rankings=[("value", True), ("eus", True)],
                    id_col="event_id", k0=60, top=3)


@_q("posting_lists_docs", """
WITH tok AS (SELECT doc_id AS d,
                    unnest(list_filter(string_split(text, ' '),
                                       x -> x <> '')) AS term
             FROM documents),
tf AS (SELECT term, d, count(*) AS tf FROM tok GROUP BY 1, 2),
stats AS (SELECT term, count(*) AS df, SUM(tf) AS cf FROM tf
          GROUP BY 1 HAVING count(*) >= 2),
rk AS (SELECT term, d,
              row_number() OVER (PARTITION BY term
                                 ORDER BY tf DESC, d) AS rn
       FROM tf),
tops AS (SELECT term, list(d ORDER BY rn) AS postings
         FROM rk WHERE rn <= 10 GROUP BY 1)
SELECT s.term, CAST(df AS BIGINT) AS df, CAST(cf AS BIGINT) AS cf,
       array_to_string(t.postings, ',') AS postings_str
FROM stats s JOIN tops t USING (term)
""")
def posting_lists_docs(spark, sf_dir):
    """Inverted-index posting lists over the corpus
    (``operators/index.py posting_lists``): per term the exact df/cf
    and the top-10 doc ids by (tf desc, id) — capped by a per-term
    ranked window BEFORE collection, so a stopword never materializes a
    corpus-sized array; every stage after the tf aggregation shares the
    term partitioning. min_df = 2."""
    from fs2_data_spark.operators.index import posting_lists
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = posting_lists(d, id_col="doc_id", text_col="text",
                        max_postings=10, min_df=2)
    return out.select("term", "df", "cf",
                      _arr_str(F.col("postings")).alias("postings_str"))


@_q("grid_corr_events", """
WITH pts AS (SELECT event_type AS s, epoch_us(ts) // 3600000000 AS g,
                    CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                      AS x
             FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
p AS (SELECT a.s AS a, b.s AS b, a.x AS xa, b.x AS xb
      FROM pts a JOIN pts b ON a.g = b.g AND a.s < b.s),
agg AS (SELECT a, b, count(*) AS n,
   CAST(SUM(CAST(ROUND(xa, 6) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
   CAST(SUM(CAST(ROUND(xb, 6) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
   CAST(SUM(CAST(ROUND(xa * xb, 6) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
   CAST(SUM(CAST(ROUND(xa * xa, 6) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
   CAST(SUM(CAST(ROUND(xb * xb, 6) AS DECIMAL(38,12))) AS DOUBLE) AS syy
        FROM p GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT a, b, CAST(n AS BIGINT) AS n,
       CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
             AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0 THEN
         ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
               / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
                      * (CAST(n AS DOUBLE) * syy - sy * sy)), 6)
       END AS r
FROM agg
""")
def grid_corr_events(spark, sf_dir):
    """Pairwise Pearson correlation between per-event-type hourly
    series (``operators/drift.py grid_correlation``): exact decimal
    bucket sums, inner-join alignment on the hour bucket, moment
    identity with 6-dp product terms folded in DECIMAL(38,12).
    Zero-variance sides yield NULL r; pairs need >= 2 co-observed
    buckets. The cross-signal drift monitor."""
    from fs2_data_spark.operators.drift import grid_correlation
    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    return grid_correlation(ev, value="value", series="event_type",
                            ts="ts", step_us=3_600_000_000,
                            min_points=2)


@_q("attribution_events", """
WITH g AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS flag
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS session_seq
  FROM g),
t AS (
  SELECT *, last_value(CASE WHEN event_type <> 'purchase'
                            THEN event_type END IGNORE NULLS)
              OVER (PARTITION BY user_id, session_seq
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS touch
  FROM s)
SELECT COALESCE(touch, 'direct') AS channel,
       CAST(count(*) AS BIGINT) AS n_conv,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE), 6)
         AS revenue
FROM t WHERE event_type = 'purchase' GROUP BY 1
""")
def attribution_events(spark, sf_dir):
    """Last-touch revenue attribution inside 30-min gap-sessions
    (``operators/sessionize.py last_touch_attribution``): each
    purchase credits the most recent strictly-prior non-purchase touch
    in its session (equal-timestamp peers excluded by the (ts, id)
    total order — the as-of tie discipline), else 'direct'. One key
    partitioning shared by sessionization and the touch window; exact
    decimal revenue."""
    from fs2_data_spark.operators.sessionize import last_touch_attribution
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts",
                                            "event_type", "value")
    return last_touch_attribution(ev, key="user_id", ts="ts",
                                  state="event_type", value="value",
                                  conversion="purchase", gap_s=1800,
                                  tiebreak="event_id")


@_q("snapshot_features_events", """
WITH c AS (SELECT unnest([1704672000000000, 1705276800000000,
                          1705881600000000, 1706486400000000])
             AS cutoff_us),
e AS (SELECT user_id, event_type, value, epoch_us(ts) AS eus FROM events)
SELECT user_id, cutoff_us, CAST(count(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE), 6)
         AS sum_v,
       CAST(count(DISTINCT event_type) AS INTEGER) AS n_states
FROM e JOIN c ON c.cutoff_us >= e.eus
             AND c.cutoff_us - 604800000000 < e.eus
GROUP BY 1, 2
""")
def snapshot_features_events(spark, sf_dir):
    """Training-snapshot feature matrix at four weekly cutoffs
    (``operators/windows.py snapshot_features``): per (user, cutoff)
    the trailing-7-day count / exact sum / distinct event types, with
    the strict PIT boundary (c - 7d, c]. Each event explodes only its
    qualifying cutoffs from a plan-time array literal — one map-side
    aggregation, zero windows, zero joins, zero per-cutoff rescans."""
    from fs2_data_spark.operators.windows import snapshot_features
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type",
                                            "ts", "value")
    base = 1_704_067_200_000_000  # 2024-01-01 UTC
    week = 7 * 86_400_000_000
    cuts = [base + week * i for i in (1, 2, 3, 4)]
    return snapshot_features(ev, cutoffs_us=cuts, lookback_us=week,
                             value="value", key="user_id", ts="ts",
                             state="event_type")


@_q("zipf_slope_docs", """
WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '),
                           x -> x <> '')) AS term
             FROM documents),
freq AS (SELECT term, count(*) AS f FROM tok GROUP BY 1),
top AS (SELECT * FROM (
          SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r
          FROM freq) WHERE r <= 500),
t AS (SELECT ROUND(ln(CAST(r AS DOUBLE)), 9) AS x,
             ROUND(ln(CAST(f AS DOUBLE)), 9) AS y,
             ROUND(ln(CAST(r AS DOUBLE)) * ln(CAST(f AS DOUBLE)), 9)
               AS xy,
             ROUND(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)), 9)
               AS xx
      FROM top),
a AS (SELECT CAST(count(*) AS BIGINT) AS v_used,
             CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(xy AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(xx AS DECIMAL(38,12))) AS DOUBLE) AS sxx
      FROM t)
SELECT v_used,
       CASE WHEN (CAST(v_used AS DOUBLE) * sxx - sx * sx) > 0 THEN
         ROUND((CAST(v_used AS DOUBLE) * sxy - sx * sy)
               / (CAST(v_used AS DOUBLE) * sxx - sx * sx), 6) END
         AS slope,
       CASE WHEN (CAST(v_used AS DOUBLE) * sxx - sx * sx) > 0 THEN
         ROUND((sy - ((CAST(v_used AS DOUBLE) * sxy - sx * sy)
                      / (CAST(v_used AS DOUBLE) * sxx - sx * sx)) * sx)
               / CAST(v_used AS DOUBLE), 6) END
         AS intercept
FROM a
""")
def zipf_slope_docs(spark, sf_dir):
    """Zipf rank-frequency slope over the top-500 vocabulary
    (``operators/index.py zipf_slope``): OLS of ln(freq) on ln(rank),
    deterministic (freq desc, term) ranks over the vocab-bounded
    aggregate, 9-dp OLS moments in DECIMAL(38,12). Natural corpora sit
    near -1; the one-number vocabulary-health audit."""
    from fs2_data_spark.operators.index import zipf_slope
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return zipf_slope(d, id_col="doc_id", text_col="text", top_v=500)


@_q("js_source_docs", f"""
WITH tok AS (SELECT source, unnest({TOKENS_SQL}) AS t FROM documents),
cst AS (SELECT source, t, count(*) AS c FROM tok GROUP BY source, t),
ct AS (SELECT t, CAST(SUM(c) AS BIGINT) AS ct FROM cst GROUP BY t),
tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns,
               count(*) AS vocab FROM cst GROUP BY source),
nv AS (SELECT CAST(SUM(ct) AS BIGINT) AS n, count(*) AS v FROM ct),
grid AS (
  SELECT tot.source, tot.ns, tot.vocab, ct.t, ct.ct, nv.n, nv.v,
         COALESCE(cst.c, 0) AS c
  FROM tot CROSS JOIN ct CROSS JOIN nv
  LEFT JOIN cst ON cst.source = tot.source AND cst.t = ct.t)
SELECT source, ns AS n_tok_src, CAST(vocab AS BIGINT) AS vocab_src,
       ROUND(CAST(SUM(CAST(ROUND(
         0.5 * ((c + 0.5) / (ns + 0.5 * v))
             * ln(((c + 0.5) / (ns + 0.5 * v))
                  / ((((c + 0.5) / (ns + 0.5 * v))
                      + ((ct + 0.5) / (n + 0.5 * v))) / 2.0))
         + 0.5 * ((ct + 0.5) / (n + 0.5 * v))
             * ln(((ct + 0.5) / (n + 0.5 * v))
                  / ((((c + 0.5) / (ns + 0.5 * v))
                      + ((ct + 0.5) / (n + 0.5 * v))) / 2.0)),
         9) AS DECIMAL(38,12))) AS DOUBLE), 6) AS js
FROM grid GROUP BY source, ns, vocab
""")
def js_source_docs(spark, sf_dir):
    """Jensen-Shannon divergence of each source's unigram distribution
    vs the corpus mixture (``operators/drift.py js_source_divergence``):
    the bounded [0, ln 2] symmetric member of the drift suite, same
    smoothing/grid/determinism discipline as `kl_source_docs`."""
    from fs2_data_spark.operators.drift import js_source_divergence
    docs = _doc_tokens(spark, sf_dir)
    return js_source_divergence(docs, tokens="tokens", source="source",
                                alpha=0.5)


@_q("session_trigrams_events", """
WITH g AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS flag
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS session_seq
  FROM g),
t AS (SELECT session_seq, event_type AS s1,
             lead(event_type, 1) OVER w AS s2,
             lead(session_seq, 1) OVER w AS q2,
             lead(event_type, 2) OVER w AS s3,
             lead(session_seq, 2) OVER w AS q3
      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS cnt
FROM t WHERE q2 = session_seq AND q3 = session_seq
GROUP BY 1, 2, 3 ORDER BY cnt DESC, s1, s2, s3 LIMIT 20
""")
def session_trigrams_events(spark, sf_dir):
    """Top-20 ordered 3-step paths within 30-min gap-sessions
    (``operators/sessionize.py session_trigrams``): consecutive-event
    trigrams with session membership checked on struct leads carried
    over the KEY partitioning — sessionization and both leads share one
    Exchange + Sort; the tie-deterministic top-k plans as
    TakeOrderedAndProject over the |states|^3-bounded count table."""
    from fs2_data_spark.operators.sessionize import session_trigrams
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts",
                                            "event_type")
    return session_trigrams(ev, key="user_id", ts="ts",
                            state="event_type", gap_s=1800,
                            tiebreak="event_id", top_k=20)


@_q("expectations_events", """
WITH a AS (SELECT count(*) AS n,
  SUM(CASE WHEN value >= 0 THEN 0 ELSE 1 END) AS v0,
  SUM(CASE WHEN event_type IN ('click','view','purchase','signup',
                               'error') THEN 0 ELSE 1 END) AS v1,
  SUM(CASE WHEN ts >= TIMESTAMP '2024-01-01'
            AND ts < TIMESTAMP '2024-02-01' THEN 0 ELSE 1 END) AS v2,
  SUM(CASE WHEN user_id > 0 THEN 0 ELSE 1 END) AS v3,
  count(*) - count(DISTINCT event_id) AS v4
  FROM events),
u AS (
  SELECT 'value_nonneg' AS rule, n, v0 AS v FROM a
  UNION ALL SELECT 'type_known', n, v1 FROM a
  UNION ALL SELECT 'ts_in_january', n, v2 FROM a
  UNION ALL SELECT 'user_positive', n, v3 FROM a
  UNION ALL SELECT 'unique:event_id', n, v4 FROM a)
SELECT rule, CAST(n AS BIGINT) AS n, CAST(v AS BIGINT) AS n_viol,
       CASE WHEN n > 0 THEN ROUND(CAST(v AS DOUBLE) / CAST(n AS DOUBLE),
                                  6) ELSE 0.0 END AS viol_rate,
       v = 0 AS ok
FROM u
""")
def expectations_events(spark, sf_dir):
    """Data-contract expectation suite over the events feed
    (``operators/contracts.py expectation_report``): non-negative
    values, known event types, January-only timestamps, positive user
    ids, and event-id uniqueness — ALL rules fold in one
    map-side-combined aggregation over one scan (a new rule is a new
    aggregate column, not a new pass); NULL predicate results count as
    violations. Exact violation counts, one IEEE rate divide each."""
    from fs2_data_spark.operators.contracts import expectation_report
    ev = _t(spark, sf_dir, "events")
    return expectation_report(
        ev,
        rules=[("value_nonneg", F.col("value") >= 0),
               ("type_known", F.col("event_type").isin(
                   "click", "view", "purchase", "signup", "error")),
               ("ts_in_january",
                "ts >= TIMESTAMP '2024-01-01' "
                "AND ts < TIMESTAMP '2024-02-01'"),
               ("user_positive", F.col("user_id") > 0)],
        unique_key="event_id")


@_q("stylometry_docs", """
WITH tok AS (SELECT source AS g,
                    unnest(list_filter(string_split(text, ' '),
                                       x -> x <> '')) AS term
             FROM documents),
cnt AS (SELECT g, term, count(*) AS c FROM tok GROUP BY 1, 2),
corpus AS (SELECT term, SUM(c) AS ct FROM cnt GROUP BY 1),
topw AS (SELECT term FROM (
           SELECT term, row_number() OVER (ORDER BY ct DESC, term) AS r
           FROM corpus) WHERE r <= 50),
tot AS (SELECT g, SUM(c) AS ng FROM cnt GROUP BY 1 HAVING SUM(c) > 0),
grid AS (SELECT tot.g, topw.term, tot.ng, COALESCE(cnt.c, 0) AS c
         FROM tot CROSS JOIN topw
         LEFT JOIN cnt ON cnt.g = tot.g AND cnt.term = topw.term),
f AS (SELECT g, term,
             ROUND(CAST(c AS DOUBLE) / CAST(ng AS DOUBLE), 9) AS f
      FROM grid),
st AS (SELECT term, count(*) AS k,
         CAST(SUM(CAST(f AS DECIMAL(38,12))) AS DOUBLE) AS sf,
         CAST(SUM(CAST(ROUND(f * f, 9) AS DECIMAL(38,12))) AS DOUBLE)
           AS sff
       FROM f GROUP BY 1),
sd AS (SELECT term, mu, SQRT(var) AS sdv FROM (
         SELECT term, sf / CAST(k AS DOUBLE) AS mu,
                (sff - CAST(k AS DOUBLE) * (sf / CAST(k AS DOUBLE))
                       * (sf / CAST(k AS DOUBLE)))
                / (CAST(k AS DOUBLE) - 1.0) AS var
         FROM st) WHERE var > 0),
z AS (SELECT f.g, f.term, ROUND((f.f - sd.mu) / sd.sdv, 9) AS z
      FROM f JOIN sd USING (term))
SELECT a.g AS a, b.g AS b, CAST(count(*) AS BIGINT) AS v_used,
       ROUND(CAST(SUM(CAST(ROUND(ABS(a.z - b.z), 9) AS DECIMAL(38,12)))
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS delta
FROM z a JOIN z b ON a.term = b.term AND a.g < b.g
GROUP BY 1, 2
""")
def stylometry_docs(spark, sf_dir):
    """Burrows' Delta between sources over the top-50 corpus words
    (``operators/index.py stylometry_delta``): per-word across-source
    z-scores of relative frequency (absent words enter at 0;
    zero-variance words excluded with the divisor disclosed), Delta =
    mean |z_a - z_b| per source pair. Everything after the one
    explode+count is vocab x source bounded."""
    from fs2_data_spark.operators.index import stylometry_delta
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return stylometry_delta(d, id_col="doc_id", text_col="text",
                            group="source", top_v=50)


@_q("changepoint_events", """
WITH d AS (SELECT event_id, user_id, value, ts, epoch_us(ts) AS eus
           FROM events),
p AS (SELECT *, SUM(CAST(value - 55.0 AS DECIMAL(27,6))) OVER w AS pf
      FROM d WINDOW w AS (PARTITION BY user_id ORDER BY eus, event_id
                          ROWS UNBOUNDED PRECEDING)),
m AS (SELECT *, LEAST(CAST(0 AS DECIMAL(38,6)), MIN(pf) OVER w) AS mn
      FROM p WINDOW w AS (PARTITION BY user_id ORDER BY eus, event_id
                          ROWS UNBOUNDED PRECEDING)),
c AS (SELECT user_id, ts, eus, event_id,
             ROUND(CAST(CAST(pf AS DECIMAL(38,6)) - mn AS DOUBLE), 6)
               AS cusum
      FROM m),
r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY cusum DESC, eus, event_id)
               AS rn
      FROM c WHERE cusum IS NOT NULL)
SELECT user_id, ts, cusum AS cusum_peak, cusum > 500.0 AS alarmed
FROM r WHERE rn = 1 AND cusum > 0
""")
def changepoint_events(spark, sf_dir):
    """Changepoint localization per user (``operators/drift.py
    changepoint_locate``): the event where the exact closed-form CUSUM
    path peaks (earliest peak wins ties) — WHEN the mean shifted, on
    top of the cusum monitor's THAT it shifted. The CUSUM windows and
    the argmax rank share one key Exchange + Sort; flat keys (peak 0)
    are dropped."""
    from fs2_data_spark.operators.drift import changepoint_locate
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts",
                                            "value")
    return changepoint_locate(ev, value="value", key="user_id", ts="ts",
                              tiebreak="event_id", target=50.0,
                              slack=5.0, h=500.0)


@_q("weighted_median_docs", """
WITH d AS (SELECT source, doc_id, n_chars FROM documents
           WHERE n_chars > 0),
c AS (SELECT *,
        SUM(n_chars) OVER (PARTITION BY source ORDER BY n_chars, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cw,
        SUM(n_chars) OVER (PARTITION BY source) AS tw,
        count(*) OVER (PARTITION BY source) AS n
      FROM d)
SELECT source, CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(tw) AS BIGINT) AS total_w,
       MIN(CASE WHEN 2 * cw >= tw THEN n_chars END) AS w_median
FROM c GROUP BY source
""")
def weighted_median_docs(spark, sf_dir):
    """Size-weighted (lower) median document length per source
    (``operators/encoding.py weighted_median``, weight = n_chars): the
    length the median CHARACTER sits in, not the median document — a
    selection boundary computed in pure bigint arithmetic
    (2 * cum_w >= W over the (value, id) order), one group-partitioned
    window pass."""
    from fs2_data_spark.operators.encoding import weighted_median
    d = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                              "n_chars")
    return weighted_median(d, value="n_chars", weight="n_chars",
                           group="source", tiebreak="doc_id")


@_q("centroid_matrix_emb", """
WITH g AS (SELECT CAST(unnest(generate_series(1, 64)) AS INTEGER) AS i),
pts AS (SELECT label AS gl, g.i AS d,
               ROUND(CAST(SUM(CAST(CAST(embedding[g.i] AS DOUBLE)
                                   AS DECIMAL(38,12))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 9) AS m
        FROM embeddings CROSS JOIN g
        WHERE embedding IS NOT NULL
        GROUP BY 1, 2),
norms AS (SELECT gl, CAST(SUM(CAST(ROUND(m * m, 9) AS DECIMAL(38,12)))
                          AS DOUBLE) AS nn
          FROM pts GROUP BY 1),
dots AS (SELECT a.gl AS a, b.gl AS b,
                CAST(SUM(CAST(ROUND(a.m * b.m, 9) AS DECIMAL(38,12)))
                     AS DOUBLE) AS dot
         FROM pts a JOIN pts b ON a.d = b.d AND a.gl < b.gl
         GROUP BY 1, 2)
SELECT d.a, d.b,
       CASE WHEN na.nn > 0 AND nb.nn > 0
            THEN ROUND(d.dot / SQRT(na.nn * nb.nn), 6) END AS cos
FROM dots d JOIN norms na ON na.gl = d.a JOIN norms nb ON nb.gl = d.b
""")
def centroid_matrix_emb(spark, sf_dir):
    """Pairwise cosine between per-label embedding centroids
    (``operators/similarity.py centroid_cosine_matrix``): the corpus
    reduces to |labels| x 64 decimal-exact means in one map-side pass;
    the pair stage equi-joins ON THE DIMENSION (group-bounded fan-out),
    never touching raw vectors. Zero-norm centroids yield NULL."""
    from fs2_data_spark.operators.similarity import centroid_cosine_matrix
    d = _t(spark, sf_dir, "embeddings").select("label", "embedding")
    return centroid_cosine_matrix(d, vec="embedding", group="label")


@_q("scd2_lookup_events", """
WITH dim AS (SELECT user_id, value AS dim_value, epoch_us(ts) AS vf,
                    lead(epoch_us(ts)) OVER (PARTITION BY user_id
                         ORDER BY epoch_us(ts), event_id) AS vt
             FROM events WHERE event_type = 'signup'),
f AS (SELECT event_id, user_id, epoch_us(ts) AS t, value FROM events
      WHERE event_type = 'purchase')
SELECT f.event_id, f.user_id, f.value, d.dim_value,
       d.vf AS valid_from_us
FROM f LEFT JOIN dim d ON d.user_id = f.user_id
  AND d.vf <= f.t AND (f.t < d.vt OR d.vt IS NULL)
""")
def scd2_lookup_events(spark, sf_dir):
    """Point-in-time dimension SERVING (``operators/asof.py
    scd2_lookup``): purchases attach the signup-version attribute whose
    SCD2 validity interval covers the purchase time — the feature-store
    serving form of the as-of join (equivalence pinned by test).
    Disjoint half-open intervals guarantee at most one version per
    fact; the join is key-equi with a range residual, one shuffle per
    side; pre-first-version facts keep NULL attributes (no knowledge
    yet, never a future leak)."""
    from fs2_data_spark.operators.asof import scd2_intervals, scd2_lookup
    ev = _t(spark, sf_dir, "events")
    dim = scd2_intervals(
        ev.filter(F.col("event_type") == "signup")
          .select("event_id", "user_id", "ts", "value"),
        key="user_id", ts="ts", tiebreak="event_id")
    facts = (ev.filter(F.col("event_type") == "purchase")
             .select("event_id", "user_id", "ts", "value"))
    out = scd2_lookup(
        facts,
        dim.select("user_id", F.col("value").alias("dim_value"),
                   "valid_from_us", "valid_to_us"),
        key="user_id", ts="ts")
    return out.select("event_id", "user_id", "value", "dim_value",
                      "valid_from_us")


@_q("rank_normalize_events", """
SELECT event_id, event_type, value,
       ROUND(percent_rank() OVER (PARTITION BY event_type ORDER BY value),
             6) AS pr6
FROM events WHERE value IS NOT NULL
""")
def rank_normalize_events(spark, sf_dir):
    """Within-group quantile normalization (``operators/encoding.py
    rank_normalize``): percent_rank maps each value onto [0,1] by order
    statistics — the distribution-free scaler (outlier-robust, invariant
    to monotone transforms). Ties share a rank, so the output is a pure
    function of the value multiset; one Exchange + one Sort on the
    group key. In-sample tier — the PIT tier is expanding_zscore."""
    from fs2_data_spark.operators.encoding import rank_normalize
    # NULLs are unrankable and engines disagree on their sort position
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("event_id", "event_type", "value"))
    out = rank_normalize(ev, group="event_type", value="value")
    return out.select("event_id", "event_type", "value",
                      F.round("pct_rank", 6).alias("pr6"))


def _exact_split_sql() -> str:
    from fs2_data_spark.operators.mixing import portable_unit_hash_sql
    h = portable_unit_hash_sql("doc_id", seed=271)
    return f"""
WITH r AS (SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY {h}, doc_id) AS rk,
                  count(*) OVER (PARTITION BY source) AS n
           FROM documents)
SELECT doc_id, source,
       CASE WHEN rk * 10 <= n * 8 THEN 'train'
            WHEN rk * 10 <= n * 9 THEN 'val'
            ELSE 'test' END AS split
FROM r
"""


@_q("exact_split_docs", _exact_split_sql())
def exact_split_docs(spark, sf_dir):
    """Exact-proportion stratified split (``operators/mixing.py
    exact_stratified_split``): rank rows inside each source stratum by
    the portable id hash, cut at exact-integer rank thresholds — an
    80/10/10 of 1,000 rows is exactly 800/100/100, not the binomially
    noisy counts of the zero-shuffle hash-threshold tier
    (`split_assign_docs`); deterministic, no RNG, one window shuffle."""
    from fs2_data_spark.operators.mixing import exact_stratified_split
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return exact_stratified_split(d, strata="source", id_col="doc_id")


def _epoch_shuffle_sql() -> str:
    from fs2_data_spark.operators.mixing import portable_unit_hash_sql
    h = portable_unit_hash_sql("doc_id", seed=1001)
    return f"""
WITH h AS (SELECT doc_id, {h} AS eh FROM documents)
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY eh, doc_id) AS BIGINT) AS shuffle_pos
FROM h
"""


@_q("epoch_shuffle_docs", _epoch_shuffle_sql())
def epoch_shuffle_docs(spark, sf_dir):
    """Deterministic epoch-1 training order (``operators/mixing.py
    epoch_shuffle``): every row's position in a permutation keyed by
    hash(doc_id, epoch) — reshuffling between epochs without RNG, so
    task retries / resharding / re-runs can never alter the training
    set order. Materialized via the range-partitioned parallel
    global_rank (never a single-partition window); the oracle replays
    the hash and a plain row_number."""
    from fs2_data_spark.operators.mixing import epoch_shuffle
    d = _t(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle(d, id_col="doc_id", epoch=1).select(
        "doc_id", "shuffle_pos")


@_q("key_skew_audit_events", """
WITH c AS (SELECT event_type, user_id, count(*) AS c
           FROM events GROUP BY 1, 2),
a AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_rows,
             count(*) AS n_keys, max(c) AS max_key_rows
      FROM c GROUP BY 1)
SELECT event_type, n_rows, n_keys, max_key_rows,
       ROUND(CAST(max_key_rows AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
         AS top1_share,
       ROUND(CAST(max_key_rows AS DOUBLE) * n_keys
             / CAST(n_rows AS DOUBLE), 4) AS skew_factor,
       CAST((max_key_rows * n_keys + n_rows - 1) // n_rows AS BIGINT)
         AS recommended_salts
FROM a
""")
def key_skew_audit_events(spark, sf_dir):
    """Exact shuffle-key skew diagnosis per event_type
    (``plans/partitioning.py key_skew_audit``): row totals, distinct
    keys, hottest-key share, skew factor (hottest/average), and the
    exact-bigint salt count that levels the hottest key — the number
    you hand to ``salted_agg`` before committing a 100 TB shuffle. Two
    map-side-combined aggregations; never more than one row per key in
    flight."""
    from fs2_data_spark.plans.partitioning import key_skew_audit
    ev = _t(spark, sf_dir, "events")
    return key_skew_audit(ev, key="user_id", group="event_type")


# ---------------------------------------------------------------------------
# Deduplication (exact / MinHash-LSH / SimHash / Jaccard)
# ---------------------------------------------------------------------------

@_q("dedup_exact", """
SELECT doc_id, md5(text) AS text_md5,
       count(*) OVER (PARTITION BY md5(text)) AS n_copies,
       (row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1) AS is_canonical
FROM documents
""")
def dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").withColumn("text_md5", F.md5("text"))
    w = Window.partitionBy("text_md5")
    wo = Window.partitionBy("text_md5").orderBy("doc_id")
    return d.select(
        "doc_id", "text_md5",
        F.count(F.lit(1)).over(w).alias("n_copies"),
        (F.row_number().over(wo) == 1).alias("is_canonical"),
    )


def _minhash_sql_exprs(k: int = 8) -> list[str]:
    exprs = []
    for i in range(k):
        a, b = 1_103_515_245 + 2 * i + 1, 12_345 + 7919 * i
        exprs.append(
            f"list_min(list_transform({_WC_SQL}, c -> (c * {a} + {b}) % 2147483647)) AS mh{i}"
        )
    return exprs


@_q("minhash_signatures", f"""
SELECT doc_id, {', '.join(_minhash_sql_exprs(8))}
FROM documents
""")
def minhash_sigs(spark, sf_dir):
    # word-code minhash as one Arrow kernel pass (textkernels — identical
    # integer values, no interpreted per-word HOF arithmetic)
    from fs2_data_spark.functions.textkernels import word_code_minhash_kernel
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return word_code_minhash_kernel(d, "doc_id", "text", k=8)


@_q("minhash_band_buckets", f"""
WITH sig AS (SELECT doc_id, {', '.join(_minhash_sql_exprs(8))} FROM documents),
b AS (
  SELECT 0 AS band_id, mh0 * 2147483647 + mh1 AS band_val, doc_id FROM sig
  UNION ALL SELECT 1, mh2 * 2147483647 + mh3, doc_id FROM sig
  UNION ALL SELECT 2, mh4 * 2147483647 + mh5, doc_id FROM sig
  UNION ALL SELECT 3, mh6 * 2147483647 + mh7, doc_id FROM sig)
SELECT band_id, band_val, count(*) AS n_docs, min(doc_id) AS min_doc
FROM b GROUP BY band_id, band_val HAVING count(*) > 1
""")
def minhash_buckets(spark, sf_dir):
    from fs2_data_spark.functions.textkernels import word_code_minhash_kernel
    d = word_code_minhash_kernel(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id", "text", k=8)
    P = F.lit(2_147_483_647).cast("bigint")
    bands = [
        d.select(F.lit(i).alias("band_id"),
                 (F.col(f"mh{2*i}") * P + F.col(f"mh{2*i+1}")).alias("band_val"),
                 "doc_id")
        for i in range(4)
    ]
    u = bands[0]
    for x in bands[1:]:
        u = u.unionByName(x)
    return (u.groupBy("band_id", "band_val")
            .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc"))
            .filter(F.col("n_docs") > 1))


@_q("simhash_docs", None)  # SQL mirror generated below (needs bit loop)
def simhash_docs(spark, sf_dir):
    # the whole word-code/vote pipeline as ONE numpy mapInArrow pass
    # (functions/textkernels.simhash_kernel — identical integer values to
    # the r5 relational vote formulation AND the HOF simhash, empty docs
    # included): the per-word interpreted arithmetic + explode/groupBy
    # shuffle are gone
    from fs2_data_spark.functions.textkernels import simhash_kernel
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_kernel(d, "doc_id", "text", bits=16)


def _simhash_sql(bits: int = 16) -> str:
    hashed = f"list_transform({_WC_SQL}, c -> (c * 2654435761 + 104729) % 2147483647)"
    terms = []
    for b in range(bits):
        vote = (f"list_sum(list_transform({hashed}, "
                f"h -> ((h >> {b}) & 1) * 2 - 1))")
        terms.append(f"(CASE WHEN {vote} > 0 THEN CAST({1 << b} AS BIGINT) "
                     f"ELSE CAST(0 AS BIGINT) END)")
    return f"SELECT doc_id, {' + '.join(terms)} AS sh FROM documents"


REGISTRY["simhash_docs"] = (simhash_docs, _simhash_sql(16))


_WH_SQL = (f"list_transform({_WS_SQL}, w -> "
           "list_reduce(list_transform(string_split(w, ''), "
           "c -> CAST(ascii(c) AS BIGINT)), (a, x) -> (a * 31 + x) % 1000003))")


def _shingle_minhash_sql(k: int = 8) -> list[str]:
    exprs = []
    for i in range(k):
        a, b = 1_103_515_245 + 2 * i + 1, 12_345 + 7919 * i
        exprs.append(f"list_min(list_transform(sh, s -> "
                     f"((s % 2147483647) * {a} + {b}) % 2147483647)) AS mh{i}")
    return exprs


@_q("jaccard_pairs", f"""
WITH wh AS (SELECT doc_id, {_WH_SQL} AS w FROM documents),
s AS (SELECT doc_id,
        CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
               generate_series(1, len(w) - 2),
               i -> (w[CAST(i AS INTEGER)] * 1000003
                     + w[CAST(i AS INTEGER) + 1]) * 1000003
                     + w[CAST(i AS INTEGER) + 2]))
             ELSE [] END AS sh
      FROM wh),
sig AS (SELECT doc_id, {', '.join(_shingle_minhash_sql(8))} FROM s),
b AS (
  SELECT 0 AS band_id, mh0 * 2147483647 + mh1 AS band_val, doc_id FROM sig
  UNION ALL SELECT 1, mh2 * 2147483647 + mh3, doc_id FROM sig
  UNION ALL SELECT 2, mh4 * 2147483647 + mh5, doc_id FROM sig
  UNION ALL SELECT 3, mh6 * 2147483647 + mh7, doc_id FROM sig),
cand AS (SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
         FROM b a JOIN b b2 ON a.band_id = b2.band_id
                           AND a.band_val = b2.band_val
                           AND a.doc_id < b2.doc_id
         WHERE a.band_val IS NOT NULL),
j AS (SELECT id1, id2,
             len(list_intersect(s1.sh, s2.sh)) AS ninter,
             len(s1.sh) AS n1, len(s2.sh) AS n2
      FROM cand JOIN s s1 ON s1.doc_id = id1 JOIN s s2 ON s2.doc_id = id2)
SELECT id1, id2,
       ROUND(CAST(ninter AS DOUBLE) / (n1 + n2 - ninter), 6) AS jaccard
FROM j WHERE CAST(ninter AS DOUBLE) / (n1 + n2 - ninter) >= 0.3
""")
def jaccard_pairs(spark, sf_dir):
    """Shingle MinHash-band candidate generation + exact Jaccard verification
    (the scale path: linear shuffles, no all-pairs word self-join). The
    oracle mirrors the identical shingle/band construction; recall vs the
    exact all-pairs formulation is pinned by tests/test_dedup_similarity.py."""
    from fs2_data_spark.operators.dedup import jaccard_lsh_pairs
    d = _t(spark, sf_dir, "documents")
    return jaccard_lsh_pairs(d, threshold=0.3, k=8)


@_q("snm_pairs_docs", f"""
WITH r AS (SELECT doc_id, substring(text, 1, 24) AS k,
                  list_distinct({_WS_SQL}) AS ws
           FROM documents),
rk AS (SELECT doc_id, ws,
              row_number() OVER (ORDER BY k, doc_id) AS rnk FROM r),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             b.rnk - a.rnk AS gap,
             len(list_intersect(a.ws, b.ws)) AS ni,
             len(a.ws) AS na, len(b.ws) AS nb
      FROM rk a JOIN rk b ON b.rnk > a.rnk AND b.rnk - a.rnk < 4)
SELECT id_a, id_b, gap,
       CASE WHEN na + nb - ni > 0
            THEN ROUND(CAST(ni AS DOUBLE) / (na + nb - ni), 6)
       END AS jacc
FROM p
""")
def snm_pairs_docs(spark, sf_dir):
    """Sorted-neighborhood blocking (``operators/dedup.py
    sorted_neighborhood_pairs``): sort by a 24-char text-prefix key,
    emit every pair within rank distance 4, verify with exact word-set
    Jaccard — the key-adjacency complement to MinHash-LSH blocking
    (O(n·w) candidates, one equi-join). The global rank is a
    range-partitioned parallel sort + partition-offset shift, never a
    single-partition window; the oracle replays the identical rank and
    rank-distance predicate (binary string order matches on the ASCII
    corpus)."""
    from fs2_data_spark.operators.dedup import sorted_neighborhood_pairs
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 24).alias("snm_key"),
        F.array_distinct(TXT.words("text")).alias("ws"))
    pairs = sorted_neighborhood_pairs(d.select("doc_id", "snm_key"),
                                      window=4)
    a = d.select(F.col("doc_id").alias("id_a"), F.col("ws").alias("wa"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("ws").alias("wb"))
    ni = F.size(F.array_intersect("wa", "wb"))
    denom = F.size("wa") + F.size("wb") - ni
    return (pairs.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b", "gap",
                    F.when(denom > 0,
                           F.round(ni.cast("double")
                                   / denom.cast("double"), 6))
                    .alias("jacc")))


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

@_q("ann_cosine_topk", """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
pairs AS (SELECT q.vec_id AS q_vec_id, c.vec_id AS n_vec_id,
                 ROUND(CASE WHEN q.nrm > 0 AND c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END, 4) AS cos_sim
          FROM q JOIN n c ON c.vec_id <> q.vec_id)
SELECT q_vec_id, n_vec_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY q_vec_id
                               ORDER BY cos_sim DESC, n_vec_id) AS rn
  FROM pairs) WHERE rn <= 3
""")
def ann_topk(spark, sf_dir):
    from fs2_data_spark.operators.similarity import cosine_topk
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    return cosine_topk(q, emb, id_col="vec_id", vec_col="embedding", k=3, round_dp=4)


def _hyperplane_sig_sql(n_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    """DuckDB mirror of operators.similarity.hyperplane_signature: identical
    per-element weight arithmetic and sequential summation order, so the sign
    decisions are bit-for-bit reproducible (DuckDB lambdas index 1-based ->
    j = i - 1)."""
    terms = []
    for p in range(n_planes):
        w = f"(((i - 1) * 2654435761 + {p * 40_503 + seed}) % 1000003)"
        proj = f"list_sum(list_transform(v, (x, i) -> x * (CAST({w} AS DOUBLE) / 1000003.0 - 0.5)))"
        terms.append(f"(CASE WHEN {proj} > 0 THEN CAST({1 << p} AS BIGINT) "
                     f"ELSE CAST(0 AS BIGINT) END)")
    return " + ".join(terms)


@_q("ann_lsh_topk", f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
s AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
             {_hyperplane_sig_sql(8, 64)} AS sig
      FROM e),
q AS (SELECT * FROM s WHERE vec_id % 50 = 0),
pairs AS (SELECT q.vec_id AS q_vec_id, c.vec_id AS n_vec_id,
                 ROUND(CASE WHEN q.nrm > 0 AND c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END, 4) AS cos_sim
          FROM q JOIN s c ON c.sig = q.sig AND c.vec_id <> q.vec_id)
SELECT q_vec_id, n_vec_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY q_vec_id
                               ORDER BY cos_sim DESC, n_vec_id) AS rn
  FROM pairs) WHERE rn <= 3
""")
def ann_lsh(spark, sf_dir):
    """The scale path for ANN: random-hyperplane LSH bucketing turns the
    brute-force broadcast scan into an equi-join on the signature. The
    deterministic hyperplane weights are reproduced verbatim in the oracle."""
    from fs2_data_spark.operators.similarity import lsh_bucket_topk
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    return lsh_bucket_topk(q, emb, id_col="vec_id", vec_col="embedding", k=3,
                           n_planes=8, dim=64, round_dp=4)


@_q("ann_quantized_topk", """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
g AS (SELECT CAST(unnest(generate_series(1, 64)) AS INTEGER) AS i),
st AS (SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
       FROM e CROSS JOIN g GROUP BY i),
qt AS (SELECT e.vec_id,
              list(CASE WHEN st.mx > st.mn
                   THEN CAST(round((v[st.i] - st.mn) * 255.0
                                   / (st.mx - st.mn)) AS BIGINT)
                   ELSE 0 END ORDER BY st.i) AS q
       FROM e CROSS JOIN st GROUP BY e.vec_id),
pairs AS (SELECT a.vec_id AS q_vec_id, b.vec_id AS n_vec_id,
                 CAST(list_sum(list_transform(
                     range(1, 65),
                     i -> (a.q[CAST(i AS INTEGER)] - b.q[CAST(i AS INTEGER)])
                        * (a.q[CAST(i AS INTEGER)] - b.q[CAST(i AS INTEGER)])))
                   AS BIGINT) AS dist_sq
          FROM qt a JOIN qt b ON b.vec_id <> a.vec_id
          WHERE a.vec_id % 50 = 0)
SELECT q_vec_id, n_vec_id, dist_sq FROM (
  SELECT *, row_number() OVER (PARTITION BY q_vec_id
                               ORDER BY dist_sq, n_vec_id) AS rn
  FROM pairs) WHERE rn <= 5
""")
def ann_quantized(spark, sf_dir):
    """Int8-quantized exact top-k (``operators/quantize.py``): per-dimension
    affine codes from one partial-aggregatable min/max pass (no explode —
    a (row, dim) shuffle would multiply the corpus by 64), then EXACT int64
    squared-L2 ranking.  4x less scan/shuffle than the float tier and
    bit-for-bit reproducible on any hardware — the oracle matches every
    distance with no rounding tolerance anywhere, the only embeddings query
    that can say that."""
    from fs2_data_spark.operators.quantize import quantized_topk
    emb = _t(spark, sf_dir, "embeddings")
    return quantized_topk(emb, F.col("vec_id") % 50 == 0,
                          id_col="vec_id", vec_col="embedding", dim=64, k=5)


def _jl_oracle_sql() -> str:
    from fs2_data_spark.operators.projection import jl_chain_sql, jl_signs
    import math
    dim, out_dim = 64, 16
    signs = jl_signs(dim, out_dim, seed=42)
    scale = repr(1.0 / math.sqrt(out_dim))
    proj = ",\n    ".join(
        f"ROUND(({jl_chain_sql('embedding', signs[j])}) * {scale}, 6) "
        f"AS jl_{j}" for j in range(out_dim))
    d2o = " + ".join(
        f"(CAST(a.embedding[{i + 1}] AS DOUBLE) - "
        f"CAST(b.embedding[{i + 1}] AS DOUBLE)) * "
        f"(CAST(a.embedding[{i + 1}] AS DOUBLE) - "
        f"CAST(b.embedding[{i + 1}] AS DOUBLE))" for i in range(dim))
    d2p = " + ".join(
        f"(a.jl_{j} - b.jl_{j}) * (a.jl_{j} - b.jl_{j})"
        for j in range(out_dim))
    return f"""
WITH p AS (SELECT vec_id, embedding,
    {proj}
  FROM embeddings),
pair AS (
  SELECT a.vec_id, a.jl_0, a.jl_1, a.jl_2, a.jl_3,
         {d2o} AS d2o,
         {d2p} AS d2p
  FROM p a LEFT JOIN p b ON b.vec_id = a.vec_id + 1)
SELECT vec_id, jl_0, jl_1, jl_2, jl_3,
       ROUND(d2o, 6) AS d2_orig, ROUND(d2p, 6) AS d2_proj,
       CASE WHEN d2o > 0 THEN ROUND(d2p / d2o, 6) END AS d2_ratio
FROM pair
"""


@_q("emb_jl_project", _jl_oracle_sql())
def emb_jl_project(spark, sf_dir):
    """Johnson-Lindenstrauss sign projection 64 -> 16 dims
    (``operators/projection.py jl_project``) plus the consecutive-pair
    distance-preservation audit: every downstream shuffle of the vector
    column gets 4x lighter before LSH/IVF/verify stages. The sign matrix
    is plan-time integer arithmetic (no RNG), each component one
    left-associated ±CAST chain — bit-identical in any engine — and the
    oracle replays the identical chains, so the hash match pins the whole
    projection, not a property of it."""
    from fs2_data_spark.operators.projection import (jl_distance_audit,
                                                     jl_project)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    p = jl_project(emb, vec_col="embedding", dim=64, out_dim=16, seed=42)
    out = jl_distance_audit(p, id_col="vec_id", vec_col="embedding",
                            dim=64, out_dim=16)
    return out.select("vec_id", "jl_0", "jl_1", "jl_2", "jl_3",
                      "d2_orig", "d2_proj", "d2_ratio")


@_q("emb_near_dups", f"""
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
s AS (SELECT vec_id, label, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
             {_hyperplane_sig_sql(4, 64)} AS sig
      FROM e)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       ROUND(CASE WHEN a.nrm > 0 AND b.nrm > 0 THEN list_dot_product(a.v, b.v) / (a.nrm * b.nrm) ELSE 0.0 END, 4) AS cos_sim
FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id
WHERE ROUND(CASE WHEN a.nrm > 0 AND b.nrm > 0 THEN list_dot_product(a.v, b.v) / (a.nrm * b.nrm) ELSE 0.0 END, 4) >= 0.4
""")
def emb_near_dups_q(spark, sf_dir):
    """Embedding near-duplicate pairs via hyperplane-LSH bucketing + exact
    cosine verify — the oracle reproduces the deterministic plane weights
    verbatim.  The bucket-fenced pair arithmetic (~|corpus|^2 / 2^planes
    interpreted 64-dim cosine folds — 12.5M pairs at sf1, the whole cost of
    the r5 plan and of downstream ``dedup_cluster_docs``) runs as the
    grouped numpy kernel (``veckernels.cell_pair_candidates``, bit-exact
    folds + conservative band); the ``>= 0.4`` filter re-applies the exact
    JVM rounding."""
    from fs2_data_spark.functions import veckernels as VK
    aug = VK.lsh_augment_kernel(
        _t(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        "vec_id", "embedding", n_planes=4, dim=64, seed=42)
    raw = VK.cell_pair_candidates(aug.select("vec_id", "v", "sig"),
                                  threshold=0.4, round_dp=4,
                                  id_col="vec_id", vec_col="v",
                                  cell_col="sig")
    return (raw.select(F.col("j").alias("id1"), F.col("i").alias("id2"),
                       F.round("cos_raw", 4).alias("cos_sim"))
            .filter(F.col("cos_sim") >= 0.4))


@_q("dedup_cluster_docs", f"""
WITH RECURSIVE e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
s AS (SELECT vec_id, label, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
             {_hyperplane_sig_sql(4, 64)} AS sig
      FROM e),
p AS (SELECT a.vec_id AS id1, b.vec_id AS id2
      FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id
      WHERE ROUND(CASE WHEN a.nrm > 0 AND b.nrm > 0 THEN list_dot_product(a.v, b.v) / (a.nrm * b.nrm) ELSE 0.0 END, 4) >= 0.4),
edges AS (SELECT id1 AS a, id2 AS b FROM p
          UNION SELECT id2, id1 FROM p),
reach AS (
  SELECT vec_id AS id, vec_id AS r FROM embeddings
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id)
SELECT id AS vec_id, MIN(r) AS cluster_id,
       (id = MIN(r)) AS is_canonical
FROM reach GROUP BY id
""")
def dedup_cluster_docs(spark, sf_dir):
    """Fuzzy-dedup clustering: the transitive closure over near-duplicate
    PAIRS (here the oracle-proven hyperplane-bucket embedding pairs of
    ``emb_near_dups``) via iterative min-label propagation with pointer
    jumping (``operators/dedup.py connected_components``) — the
    keep-one-per-cluster step LSH candidate generation feeds in every
    production dedup pipeline.  Hard oracle: the component-min labeling is
    unique and engine-portable, so a DuckDB recursive CTE (min reachable
    node id) must reproduce every (vec_id, cluster_id, is_canonical) row
    exactly."""
    from fs2_data_spark.operators.dedup import dedup_clusters
    emb = _t(spark, sf_dir, "embeddings").select("vec_id")
    pairs = emb_near_dups_q(spark, sf_dir).select("id1", "id2")
    return dedup_clusters(emb, pairs, id_col="vec_id").select(
        "vec_id", "cluster_id", "is_canonical")


_MIX_RATES = {"en": 0.5, "zh": 0.25, "fr": 1.0, "de": 0.1}
_MIX_DEFAULT = 0.05
_MIX_M = 999_983


def _mix_thresholds_sql() -> str:
    cases = " ".join(f"WHEN lang = '{s}' THEN {int(r * _MIX_M)}"
                     for s, r in _MIX_RATES.items())
    return f"CASE {cases} ELSE {int(_MIX_DEFAULT * _MIX_M)} END"


@_q("mix_sample_docs", f"""
SELECT doc_id, lang
FROM documents
WHERE ((doc_id * 2654435761 + 42) % 1000003 * 40503 + 17) % 999983
      < {_mix_thresholds_sql()}
""")
def mix_sample_docs(spark, sf_dir):
    """Deterministic stratified sampling — the corpus data-mixing primitive
    (``operators/mixing.py``): keep each document with its language's
    probability via an engine-portable integer hash of the doc id, so the
    sample is a pure function of (id, seed) — rerun/partitioning/engine
    independent, filter pushed to the scan, zero shuffle.  Hard oracle: the
    DuckDB SQL computes the identical hash and integer thresholds and must
    select exactly the same rows."""
    from fs2_data_spark.operators.mixing import stratified_sample
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(d, _MIX_RATES, stratum_col="lang",
                             id_col="doc_id", seed=42,
                             default_rate=_MIX_DEFAULT, method="portable")


@_q("source_cap_docs", """
SELECT doc_id, source, cap_rank, cap_rank <= 15 AS kept FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ((doc_id * 2654435761 + 42) % 1000003 * 40503 + 17)
                    % 999983,
                    doc_id) AS cap_rank
  FROM documents)
""")
def source_cap_docs(spark, sf_dir):
    """Per-source frequency capping (``operators/mixing.py cap_per_group``)
    — the RefinedWeb-style guard against one domain flooding the mixture:
    keep the 15 smallest ``(portable_hash(doc_id), doc_id)`` per source, a
    deterministic uniform cap-sample that is rerun/partitioning/engine
    independent.  One hash Exchange; WindowGroupLimit pre-trims every map
    task to ``cap`` rows per group before the shuffle (plan-pinned), so the
    exchange stays bounded under any skew.  The oracle replays the
    identical hash ordering and rank."""
    from fs2_data_spark.operators.mixing import cap_per_group
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(d, cap=15, group_col="source", id_col="doc_id",
                         seed=42, method="portable")


@_q("pack_sequences_docs", """
WITH RECURSIVE s AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents),
p AS (
  SELECT source, rn, doc_id, n_chars,
         n_chars AS fill, CAST(0 AS BIGINT) AS bin
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.source, s.rn, s.doc_id, s.n_chars,
         CASE WHEN p.fill + s.n_chars <= 2000
              THEN p.fill + s.n_chars ELSE s.n_chars END,
         CASE WHEN p.fill + s.n_chars <= 2000 THEN p.bin ELSE p.bin + 1 END
  FROM p JOIN s ON s.source = p.source AND s.rn = p.rn + 1)
SELECT doc_id, source, bin AS bin_id, fill AS bin_fill,
       source || '#' || CAST(bin AS VARCHAR) AS bin_key
FROM p
""")
def pack_sequences_docs(spark, sf_dir):
    """Sequence packing (``operators/packing.py``): greedy contiguous bins
    of <= 2000 chars per source in doc_id order — the GPT-style document
    packing step that fills fixed-length training contexts.  One shuffle on
    the group key, then a numpy searchsorted scan per group (O(bins log n),
    no per-row Python).  Hard oracle: the greedy scan is order-deterministic,
    so a DuckDB recursive CTE replays it row-by-row and must reproduce every
    (bin_id, bin_fill, bin_key) exactly."""
    from fs2_data_spark.operators.packing import pack_sequences
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = pack_sequences(d, max_tokens=2000, len_col="n_chars",
                         id_col="doc_id", group_col="source")
    return out.select("doc_id", "source", "bin_id", "bin_fill", "bin_key")


@_q("tok_vocab_topk", f"""
WITH t AS (SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents)
SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS doc_freq
FROM t GROUP BY token
ORDER BY n DESC, token LIMIT 100
""")
def tok_vocab_topk(spark, sf_dir):
    """Corpus vocabulary heavy hitters: top-100 tokens by total count with
    per-token document frequency — the vocab/stop-token statistics pass of
    corpus analysis.  Plan shape: posexplode-free ``explode`` -> partial
    (map-side) count agg -> one shuffle on token id -> TakeOrderedAndProject
    for the top-k (no global sort).  ``doc_freq`` uses exact
    count-distinct here (oracle-comparable); at 100 TB swap in
    ``approx_count_distinct`` — same plan, bounded sketch state.  Ties at
    the cut are impossible: (n DESC, token) is a total order since token is
    the group key."""
    d = _doc_tokens(spark, sf_dir)
    t = d.select("doc_id", F.explode("tokens").alias("token"))
    return (t.groupBy("token")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("doc_id").alias("doc_freq"))
            .orderBy(F.desc("n"), "token").limit(100))


@_q("oov_rate_docs", f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS tok FROM documents),
u AS (SELECT unnest(tok) AS token FROM t),
vk AS (SELECT token FROM (SELECT token, count(*) AS n FROM u
                          GROUP BY token ORDER BY n DESC, token LIMIT 100)),
vl AS (SELECT list(token ORDER BY token) AS v FROM vk)
SELECT doc_id, CAST(len(tok) AS INTEGER) AS n_tok,
       CAST(len(list_filter(tok, x -> NOT list_contains(v, x)))
            AS INTEGER) AS n_oov,
       ROUND(CASE WHEN len(tok) > 0
                  THEN CAST(len(list_filter(tok, x -> NOT list_contains(v, x)))
                            AS DOUBLE) / len(tok)
                  ELSE 0.0 END, 6) AS oov_rate
FROM t, vl
""")
def oov_rate_docs(spark, sf_dir):
    """Tokenizer-coverage audit (``operators/quality.py oov_rate``): the
    per-sequence out-of-vocabulary rate against the corpus's own top-100
    token vocabulary (total (count DESC, token) order — no cut ties).
    The vocab is a bounded top-K planning read turned into a K-entry
    broadcast literal; the scan itself is pure per-row membership, zero
    shuffle, zero Python."""
    from fs2_data_spark.operators.quality import oov_rate
    return oov_rate(_doc_tokens(spark, sf_dir), tokens="tokens",
                    id_col="doc_id", vocab_size=100)


@_q("w_trailing_distinct_events", """
SELECT event_id, event_type,
       count(DISTINCT user_id) OVER (PARTITION BY event_type
             ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         AS trailing_distinct
FROM events
""")
def w_trailing_distinct_events(spark, sf_dir):
    """EXACT trailing-hour distinct-user count per event
    (``operators/windows.py trailing_distinct``) — the precise tier
    beside the mergeable-HLL approximation (`hll_trailing_users_events`):
    ``collect_set`` over a RANGE frame, O(distinct-per-horizon) state per
    row — the honest cost of exactness, correct when horizons are
    bounded; one Exchange + one Sort, zero Python."""
    from fs2_data_spark.operators.windows import trailing_distinct
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type",
                                            "ts", "user_id")
    out = trailing_distinct(ev, key="event_type", ts="ts", of="user_id",
                            horizon_us=3_600_000_000)
    return out.select("event_id", "event_type", "trailing_distinct")


def _chunk_oracle_sql() -> str:
    from fs2_data_spark.operators.chunking import chunk_tokens_sql
    return chunk_tokens_sql("documents", TOKENS_SQL, window=32, stride=24,
                            bos=50256, eos=50257, keep="doc_id")


@_q("chunk_tokens_docs", _chunk_oracle_sql())
def chunk_tokens_docs(spark, sf_dir):
    """Context-window chunking (``operators/chunking.py``): every document
    split into 32-token windows every 24 tokens (8-token overlap so each
    token gets left context in some window), final partial window kept,
    BOS/EOS framed on.  A pure per-row ``transform(sequence) -> posexplode``
    projection riding the scan — zero Exchange, zero Python, the inverse of
    sequence packing.  The oracle replays the identical start arithmetic
    and slice semantics with DuckDB ``range`` + 1-based list slicing."""
    from fs2_data_spark.operators.chunking import chunk_tokens
    d = _doc_tokens(spark, sf_dir).select("doc_id", "tokens")
    out = chunk_tokens(d, window=32, stride=24, bos=50256, eos=50257)
    return out.select("doc_id", "chunk_no",
                      _arr_str(F.col("chunk")).alias("chunk_str"), "n_chunk")


def _bpe_learn_oracle() -> str:
    from fs2_data_spark.operators.bpe import bpe_learn_sql
    return bpe_learn_sql("documents", TOKENS_SQL, n_merges=6)


@_q("bpe_learn_docs", _bpe_learn_oracle())
def bpe_learn_docs(spark, sf_dir):
    """Distributed BPE merge learning (``operators/bpe.py``): 6 rounds of
    count-all-adjacent-pairs -> deterministic argmax (cnt desc, pair
    lexicographic) -> greedy leftmost rewrite via the Arrow kernel tier
    (numpy over flat ListArray buffers, no per-row Python), corpus
    localCheckpoint-ed per round.  Returns the learned merge table — 6
    rows pinning the *entire* iterative computation: a wrong count, tie
    break, overlap rule, or rewrite in any round changes every later row.
    Hard oracle: the full loop unrolled as DuckDB round-CTEs (pair-count
    agg, 1-row argmax, window-function parity filter for the greedy rule,
    list rebuild)."""
    from fs2_data_spark.operators.bpe import bpe_learn
    d = _doc_tokens(spark, sf_dir).select("doc_id", "tokens")
    table, _ = bpe_learn(d, n_merges=6, tier="arrow")
    return spark.createDataFrame(
        table, "round int, a int, b int, new_id int, cnt bigint")


def _bpe_apply_oracle() -> str:
    from fs2_data_spark.operators.bpe import bpe_learn_sql
    return bpe_learn_sql("documents", TOKENS_SQL, n_merges=6,
                         select="corpus")


@_q("bpe_apply_docs", _bpe_apply_oracle())
def bpe_apply_docs(spark, sf_dir):
    """The retokenized corpus after the 6 learned BPE merges — closes the
    learn->encode loop end-to-end: ``bpe_learn_docs`` pins the merge table,
    this row pins every document's final token sequence (Arrow kernel
    rewrites, token-array equality via the comma-joined string).  Same
    unrolled round-CTE oracle, selecting the final round's corpus instead
    of the merge table."""
    from fs2_data_spark.operators.bpe import bpe_learn
    d = _doc_tokens(spark, sf_dir).select("doc_id", "tokens")
    _, final = bpe_learn(d, n_merges=6, tier="arrow")
    return final.select(
        "doc_id", _arr_str(F.col("tokens")).alias("tokens_str"),
        F.size("tokens").alias("n_tok"))


_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def _hash_split_sql() -> str:
    from fs2_data_spark.operators.mixing import hash_split_sql
    return hash_split_sql(_SPLIT_WEIGHTS, "doc_id", seed=7)


@_q("split_assign_docs", f"""
SELECT doc_id, lang, {_hash_split_sql()} AS split
FROM documents
""")
def split_assign_docs(spark, sf_dir):
    """Deterministic train/val/test assignment (``operators/mixing.py
    hash_split``): each row's split is a pure integer-hash function of
    (doc_id, seed) against cumulative thresholds — zero shuffle (one CASE at
    the scan), stable under corpus growth (new rows never move existing rows
    across splits, unlike ``randomSplit``), engine/rerun/partitioning
    independent.  Hard oracle: DuckDB evaluates the identical hash and
    thresholds and must assign every row the same split."""
    from fs2_data_spark.operators.mixing import hash_split
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_split(d, _SPLIT_WEIGHTS, id_col="doc_id", seed=7,
                      method="portable")


_RESAMPLE_RATES = {"src0": 2.5, "src1": 1.0, "src2": 0.4}


def _resample_oracle_sql() -> str:
    from fs2_data_spark.operators.mixing import resample_sql
    n_expr, lateral = resample_sql(_RESAMPLE_RATES, "source", "doc_id",
                                   seed=11, default_rate=0.75)
    return f"""
WITH r AS (SELECT doc_id, source, {n_expr} AS n_copies FROM documents)
SELECT doc_id, source, CAST(u.c AS INTEGER) AS copy_no
FROM r, {lateral}
"""


@_q("resample_docs", _resample_oracle_sql())
def resample_docs(spark, sf_dir):
    """Deterministic stratified RESAMPLING (``operators/mixing.py
    stratified_resample``) — mixing rates above 1: src0 x2.5 (two full
    copies + a hash-decided third), src1 x1.0, src2 x0.4 (downsample),
    everything else x0.75.  The "epochs per source" step of corpus
    composition, still a pure per-row decision (CASE copy count +
    sequence/posexplode — zero shuffle, rerun/partitioning independent);
    copies carry ``copy_no``.  Rates for real runs come from
    ``temperature_rates`` (n_s^alpha rebalancing) over the per-source
    count table; the oracle replays the hash, thresholds and copy fan-out
    with DuckDB ``range``+``unnest``."""
    from fs2_data_spark.operators.mixing import stratified_resample
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_resample(d, _RESAMPLE_RATES, seed=11,
                               default_rate=0.75, method="portable")


_WORDS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


@_q("unigram_quality_docs", f"""
WITH w AS (SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents),
v AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_words FROM v),
pd AS (SELECT w.doc_id, COUNT(*) AS n_words,
              CAST(SUM(v.cnt) AS BIGINT) AS sum_cnt
       FROM w JOIN v USING (word) GROUP BY w.doc_id)
SELECT d.doc_id,
       COALESCE(pd.n_words, 0) AS n_words,
       COALESCE(pd.sum_cnt, 0) AS sum_cnt,
       t.total_words,
       CASE WHEN pd.n_words > 0
            THEN CAST(pd.sum_cnt AS DOUBLE) / CAST(pd.n_words AS DOUBLE)
                 / CAST(t.total_words AS DOUBLE)
       END AS lm_score
FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id CROSS JOIN t
""")
def unigram_quality_docs(spark, sf_dir):
    """Unigram-LM document quality score (``operators/quality.py``) — the
    CCNet-style corpus-fit filter: pass 1 aggregates the corpus vocabulary
    (one map-side-combined shuffle, vocab-sized output), pass 2 joins it
    back (vocab broadcast) and re-aggregates per document.  ``lm_score`` is
    the exact mean corpus relative frequency of the document's tokens —
    integer accumulators end-to-end, two final bigint->double divisions
    (single IEEE ops), so the DuckDB mirror is bit-identical with no
    ``ln``-cross-engine risk."""
    from fs2_data_spark.operators.quality import unigram_lm_score
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_lm_score(d, text_col="text", id_col="doc_id")


@_q("bigram_quality_docs", f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
b AS (SELECT doc_id, ws[CAST(i AS INTEGER)] AS u,
             ws[CAST(i AS INTEGER) + 1] AS v
      FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
      WHERE len(ws) >= 2),
cuv AS (SELECT u, v, COUNT(*) AS c_uv FROM b GROUP BY u, v),
cu AS (SELECT u, CAST(SUM(c_uv) AS BIGINT) AS c_u FROM cuv GROUP BY u),
pd AS (SELECT b.doc_id, COUNT(*) AS n_bigrams,
              CAST(SUM((cuv.c_uv * 1000000000) // cu.c_u) AS BIGINT)
                AS sum_cond_e9
       FROM b JOIN cuv USING (u, v) JOIN cu USING (u)
       GROUP BY b.doc_id)
SELECT d.doc_id, COALESCE(pd.n_bigrams, 0) AS n_bigrams,
       COALESCE(pd.sum_cond_e9, 0) AS sum_cond_e9,
       CASE WHEN pd.n_bigrams > 0
            THEN CAST(pd.sum_cond_e9 AS DOUBLE)
                 / CAST(pd.n_bigrams AS DOUBLE) / 1e9
       END AS bigram_score
FROM documents d LEFT JOIN pd USING (doc_id)
""")
def bigram_quality_docs(spark, sf_dir):
    """Bigram-LM document typicality (``operators/quality.py
    bigram_lm_score``) — the conditional-probability (word-ORDER)
    counterpart of the unigram score: mean corpus conditional frequency
    ``c(u,v)/c(u·)`` over the document's adjacent word pairs.  Exactness
    across engines via integer scaling: each conditional becomes
    ``(c_uv * 1e9) div c_u`` (int64 `div`, no float accumulation), summed
    exactly, one final double division.  Left counts re-aggregate the
    bigram table (vocab^2-sized), both sides broadcast back — one corpus
    explode total."""
    from fs2_data_spark.operators.quality import bigram_lm_score
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_lm_score(d, text_col="text", id_col="doc_id")


@_q("pmi_bigrams_docs", f"""
WITH w AS (SELECT {_WORDS_SQL} AS ws FROM documents),
b AS (SELECT ws[CAST(i AS INTEGER)] AS u,
             ws[CAST(i AS INTEGER) + 1] AS v
      FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
      WHERE len(ws) >= 2),
cuv AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS c_uv FROM b GROUP BY u, v),
cu AS (SELECT u, CAST(SUM(c_uv) AS BIGINT) AS c_u FROM cuv GROUP BY u),
cv AS (SELECT v, CAST(SUM(c_uv) AS BIGINT) AS c_v FROM cuv GROUP BY v),
nb AS (SELECT CAST(SUM(c_uv) AS BIGINT) AS n_bi FROM cuv),
s AS (SELECT u, v, c_uv, c_u, c_v, n_bi,
             CAST((c_uv * n_bi * 1000000) // (c_u * c_v) AS BIGINT)
               AS score_e6
      FROM cuv JOIN cu USING (u) JOIN cv USING (v) CROSS JOIN nb
      WHERE c_uv >= 3)
SELECT u, v, c_uv, c_u, c_v, n_bi, score_e6,
       CAST(score_e6 AS DOUBLE) / 1e6 AS lift
FROM s ORDER BY score_e6 DESC, u, v LIMIT 30
""")
def pmi_bigrams_docs(spark, sf_dir):
    """Corpus collocation mining (``operators/quality.py
    pmi_collocations``): top-30 adjacent word pairs by PMI lift
    ``c_uv * N / (c_u * c_v)`` with ``min_count=3`` hapax suppression.
    Log-free by monotonicity (top-k by exact integer lift == top-k by
    PMI), so the whole ranking is exact int64 arithmetic the oracle
    replays; one corpus explode, vocab²-sized marginal re-aggregations
    broadcast back, TakeOrderedAndProject top-k (plan-pinned)."""
    from fs2_data_spark.operators.quality import pmi_collocations
    d = _t(spark, sf_dir, "documents").select("text")
    return pmi_collocations(d, text_col="text", min_count=3, topn=30)


@_q("tfidf_topk_docs", f"""
WITH w AS (SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
dfq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
s AS (SELECT tf.doc_id, tf.word, tf.tf, dfq.df,
             CAST(tf.tf * nd.n_docs AS DOUBLE) / CAST(dfq.df AS DOUBLE)
               AS score
      FROM tf JOIN dfq USING (word) CROSS JOIN nd),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, word) AS rk
      FROM s)
SELECT doc_id, word, tf, df, score FROM r WHERE rk <= 5
""")
def tfidf_topk_docs(spark, sf_dir):
    """Per-document top-5 TF-IDF terms (``operators/quality.py
    tfidf_topk``): one corpus explode feeds tf; df re-aggregates the tf
    table (vocabulary-sized) and broadcasts back; top-k via one row_number
    window.  The score ``tf * n_docs / df`` is one bigint product + one
    IEEE division — engine-identical with no libm; ties rank by word."""
    from fs2_data_spark.operators.quality import tfidf_topk
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_topk(d, text_col="text", id_col="doc_id", k=5)


def _preprocess_oracle_sql() -> str:
    from fs2_data_spark.functions.redact import redact_sql
    from fs2_data_spark.functions.text import BPE_SPLIT_PATTERN
    _bpe_pat = BPE_SPLIT_PATTERN.replace("'", "''")
    return f"""
WITH c AS (SELECT doc_id, {redact_sql("text")} AS text FROM documents),
s AS (
  SELECT doc_id, text, len({_WS_SQL}) AS n,
         len(list_filter({_WS_SQL}, w -> w IN {_STOP_SQL})) AS nstop,
         list_sum(list_transform({_WS_SQL}, w -> CAST(length(w) AS BIGINT))) AS totlen,
         len(list_distinct({_WS_SQL})) AS ndist,
         CAST(len(list_filter(regexp_extract_all(text, '{_bpe_pat}', 0),
                              x -> regexp_matches(x, '\\S'))) AS BIGINT) AS n_tok,
         CASE WHEN ascii(text) >= 19968 AND ascii(text) <= 40959 THEN 'zh'
              WHEN ascii(text) >= 1024 AND ascii(text) < 1280 THEN 'ru'
              WHEN len(list_filter({_WS_SQL}, w -> w IN {_STOP_SQL})) >= 1 THEN 'en'
              ELSE 'other' END AS lang_pred,
         {_hash_split_sql()} AS split
  FROM c),
q AS (
  SELECT *, ROUND(((CASE WHEN n BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN (CASE WHEN n > 0 THEN CAST(nstop AS DOUBLE)/n ELSE 0.0 END) >= 0.01
               THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN (CASE WHEN n > 0 THEN CAST(totlen AS DOUBLE)/n ELSE 0.0 END)
                    BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN n > 0 THEN CAST(ndist AS DOUBLE)/n ELSE 0.0 END)) / 4.0, 6) AS quality
  FROM s),
d AS (SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper FROM q)
SELECT doc_id, CAST(n AS BIGINT) AS n_words, n_tok, quality
FROM d
WHERE split = 'train' AND quality >= 0.5 AND lang_pred = 'en'
  AND doc_id = keeper
"""


@_q("preprocess_pipeline_docs", _preprocess_oracle_sql())
def preprocess_pipeline_docs(spark, sf_dir):
    """The fused end-to-end preprocessing recipe a training pipeline runs —
    five already-oracled operators COMPOSED in one plan: PII redaction ->
    quality heuristics + language ID + BPE token budget (all per-row,
    riding the scan) -> deterministic train/val/test hash split (a CASE,
    still per-row) -> exact first-seen dedup (one window shuffle on the
    content hash, the recipe's only Exchange) -> the train-split quality
    gate.  Returns the surviving training rows with their stats.  The
    oracle replays the entire chain as one SQL pipeline — composition
    bugs (stage ordering, column capture, redacted-vs-raw text feeding a
    stage) cannot hide behind per-operator green rows."""
    from fs2_data_spark.functions.redact import redact
    from fs2_data_spark.operators.mixing import hash_split
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    c = d.select("doc_id", redact("text").alias("text"))
    c = c.select(
        "doc_id", "text",
        TXT.token_count("text").alias("n_words"),
        TXT.bpe_token_count("text").alias("n_tok"),
        TXT.quality_score("text").alias("quality"),
        TXT.lang_id("text").alias("lang_pred"))
    c = hash_split(c, _SPLIT_WEIGHTS, id_col="doc_id", seed=7,
                   method="portable")
    keeper = F.min("doc_id").over(Window.partitionBy(F.md5(F.col("text"))))
    return (c.withColumn("keeper", keeper)
            .filter((F.col("split") == "train")
                    & (F.col("quality") >= 0.5)
                    & (F.col("lang_pred") == "en")
                    & (F.col("doc_id") == F.col("keeper")))
            .select("doc_id", "n_words", "n_tok", "quality"))


@_q("winnow_fp_docs", f"""
WITH wh AS (SELECT doc_id, {_WH_SQL} AS w FROM documents),
s AS (SELECT doc_id,
        CASE WHEN len(w) >= 3 THEN list_transform(
               generate_series(1, len(w) - 2),
               i -> (w[CAST(i AS INTEGER)] * 1000003
                     + w[CAST(i AS INTEGER) + 1]) * 1000003
                     + w[CAST(i AS INTEGER) + 2])
             ELSE [] END AS sh
      FROM wh),
f AS (SELECT doc_id,
        CASE WHEN len(sh) >= 4 THEN list_sort(list_distinct(list_transform(
               generate_series(1, len(sh) - 3),
               i -> list_min(sh[CAST(i AS INTEGER)
                               : CAST(i AS INTEGER) + 3]))))
             WHEN len(sh) > 0 THEN [list_min(sh)]
             ELSE CAST([] AS BIGINT[]) END AS fp
      FROM s)
SELECT doc_id, COALESCE(array_to_string(fp, ','), '') AS fp_str,
       CAST(len(fp) AS INTEGER) AS n_fp
FROM f
""")
def winnow_fp_docs(spark, sf_dir):
    """Winnowing document fingerprints (``functions/text.py
    winnow_fingerprints`` — the MOSS algorithm): minima of a 4-window over
    the positional word-trigram shingle-hash sequence, distinct and
    sorted.  The detection-guarantee primitive of the dedup family (any
    shared 6-word run forces a shared fingerprint — MinHash only makes it
    likely); pure per-row HOFs riding the scan, exact int64 arithmetic, so
    the oracle replays every fingerprint bit-for-bit."""
    from fs2_data_spark.functions.text import (
        winnow_fingerprints_from,
        word_hashes,
    )
    from fs2_data_spark.functions.textkernels import winnow_fp_kernel
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = winnow_fp_kernel(d, "doc_id", "text", k=3, w=4)
    return out.select("doc_id", _arr_str(F.col("fp")).alias("fp_str"),
                      F.size("fp").alias("n_fp"))


@_q("novelty_docs", f"""
WITH wh AS (SELECT doc_id, {_WH_SQL} AS w FROM documents),
s AS (SELECT doc_id,
        CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
               generate_series(1, len(w) - 2),
               i -> (w[CAST(i AS INTEGER)] * 1000003
                     + w[CAST(i AS INTEGER) + 1]) * 1000003
                     + w[CAST(i AS INTEGER) + 2]))
             ELSE [] END AS sh
      FROM wh),
e AS (SELECT doc_id, unnest(sh) AS s FROM s),
fq AS (SELECT s, COUNT(*) AS s_docs FROM e GROUP BY s),
pd AS (SELECT e.doc_id, COUNT(*) AS n_shingles,
              CAST(SUM(CASE WHEN fq.s_docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_unique
       FROM e JOIN fq USING (s) GROUP BY e.doc_id)
SELECT d.doc_id, COALESCE(pd.n_shingles, 0) AS n_shingles,
       COALESCE(pd.n_unique, 0) AS n_unique,
       CASE WHEN pd.n_shingles > 0
            THEN CAST(pd.n_unique AS DOUBLE)
                 / CAST(pd.n_shingles AS DOUBLE)
       END AS novelty
FROM documents d LEFT JOIN pd USING (doc_id)
""")
def novelty_docs(spark, sf_dir):
    """Per-document shingle novelty (``operators/quality.py
    shingle_novelty``): fraction of the document's distinct word-trigram
    shingles occurring in NO other document — the corpus-level
    boilerplate/duplication-risk signal complementing pairwise dedup.
    One corpus explode, document frequency re-aggregated from it, one
    shuffle hash join back (the shingle table grows with the corpus, so
    no broadcast by default); exact bigint counts, one IEEE division."""
    from fs2_data_spark.operators.quality import shingle_novelty
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return shingle_novelty(d, text_col="text", id_col="doc_id")


@_q("vocab_merge_docs", f"""
WITH w AS (SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents)
SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY word
""")
def vocab_merge_docs(spark, sf_dir):
    """Incremental corpus-statistics maintenance: the vocabulary monoid law
    (``operators/quality.py merge_vocabs``).  Spark fits two vocabularies
    on DISJOINT corpus halves (doc_id parity — two independent snapshot
    jobs) and merges them (union + re-sum, vocabulary-sized shuffle only);
    the oracle computes the whole-corpus vocabulary directly.  Equality is
    the property that lets a 100 TB pipeline maintain corpus stats by
    folding in each ingest snapshot instead of recomputing: counts are
    exact bigints, so the law holds bit-for-bit, not approximately."""
    from fs2_data_spark.operators.quality import merge_vocabs, unigram_vocab
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = unigram_vocab(d.filter(F.col("doc_id") % 2 == 0))
    b = unigram_vocab(d.filter(F.col("doc_id") % 2 == 1))
    return merge_vocabs(a, b)


@_q("curriculum_buckets_docs", """
WITH hist AS (
  SELECT n_chars, COUNT(*) AS _cnt FROM documents GROUP BY n_chars),
cum AS (
  SELECT n_chars,
         SUM(_cnt) OVER (ORDER BY n_chars
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - _cnt AS below,
         SUM(_cnt) OVER () AS n
  FROM hist),
bmap AS (
  SELECT n_chars,
         LEAST(3, CAST(FLOOR(4 * below / n) AS BIGINT)) AS bucket
  FROM cum)
SELECT doc_id, n_chars, bucket
FROM documents t JOIN bmap USING (n_chars)
""")
def curriculum_buckets_docs(spark, sf_dir):
    """Curriculum difficulty tiers (``operators/curriculum.py``): exact
    k=4 value-quantile buckets of document length with ZERO corpus shuffle —
    a value histogram (cardinality-sized), a planning-scale cumulative
    window over the histogram, and a broadcast join back; ties share a
    bucket deterministically (unlike ``ntile``'s arbitrary tie split, which
    would also need a full global sort of the corpus).  Pure integer
    arithmetic; the DuckDB CTE replays it exactly."""
    from fs2_data_spark.operators.curriculum import quantile_buckets
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return quantile_buckets(d, "n_chars", k=4).select(
        "doc_id", "n_chars", "bucket")


def _bpe_sql() -> str:
    from fs2_data_spark.functions.text import BPE_SPLIT_PATTERN
    return BPE_SPLIT_PATTERN.replace("'", "''")


@_q("bpe_pretok_docs", f"""
WITH p AS (SELECT doc_id, text,
                  regexp_extract_all(text, '{_bpe_sql()}', 0) AS pieces
           FROM documents)
SELECT doc_id, pieces,
       CAST(len(pieces) AS BIGINT) AS n_pieces,
       CAST(len(list_filter(pieces, x -> regexp_matches(x, '\\S')))
            AS BIGINT) AS n_tok,
       (COALESCE(array_to_string(pieces, ''), '') = text) AS roundtrip
FROM p
""")
def bpe_pretok_docs(spark, sf_dir):
    """BPE-ish regex pre-tokenization (``functions/text.py
    bpe_pretokenize``): the GPT-2 pre-tokenizer split (contraction
    suffixes, space-prefixed letter/digit/punctuation runs, whitespace
    runs) minus its RE2-unsupported lookahead, entirely JVM-side
    ``regexp_extract_all`` — zero shuffle, zero Python.  The ``roundtrip``
    column pins the exact-cover property (concatenating the pieces
    reconstructs the text); the oracle replays the identical pattern in
    DuckDB/RE2 (leftmost-first greedy alternation matches Java regex on
    every construct used — cross-engine sweep in
    tests/test_text_functions.py)."""
    from fs2_data_spark.functions.text import bpe_pretokenize
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pieces = bpe_pretokenize(F.col("text"))
    return d.select(
        "doc_id", pieces.alias("pieces"),
        F.size(pieces).cast("bigint").alias("n_pieces"),
        F.size(F.filter(pieces, lambda t: t.rlike(r"\S")))
         .cast("bigint").alias("n_tok"),
        (F.concat_ws("", pieces) == F.col("text")).alias("roundtrip"))


def _pii_payload_sql() -> str:
    return ("text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex-' || "
            "CAST(doc_id AS VARCHAR) || '.org via https://h' || "
            "CAST(doc_id AS VARCHAR) || '.example/p?q=' || "
            "CAST(doc_id AS VARCHAR) || ' from 10.1.' || "
            "CAST(doc_id % 256 AS VARCHAR) || '.7 card 4111222233334' || "
            "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')")


def _redact_oracle_sql() -> str:
    from fs2_data_spark.functions.redact import pii_counts_sql, redact_sql
    p = _pii_payload_sql()
    counts = ",\n       ".join(pii_counts_sql("payload"))
    return f"""
WITH p AS (SELECT doc_id, {p} AS payload FROM documents)
SELECT doc_id,
       {redact_sql("payload")} AS clean_text,
       {counts}
FROM p
"""


@_q("redact_pii_docs", _redact_oracle_sql())
def redact_pii_docs(spark, sf_dir):
    """PII redaction + per-kind counts (``functions/redact.py``): emails,
    URLs, IPv4s and card-length digit runs replaced by typed placeholders
    in a defined order, counts measured on the original text — a pure
    per-row projection riding the scan (zero Exchange, zero Python; the
    ideal 100 TB shape).  The corpus text carries no PII, so the query
    injects deterministic doc_id-derived spans (one of each kind per row)
    before scrubbing; the oracle replays payload construction, the
    redaction chain and the counts with the identical RE2-compatible
    patterns."""
    from fs2_data_spark.functions.redact import redact_pii
    i = F.col("doc_id").cast("string")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact u"), i, F.lit("@ex-"), i,
            F.lit(".org via https://h"), i, F.lit(".example/p?q="), i,
            F.lit(" from 10.1."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 card 4111222233334"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        ).alias("payload"))
    return (redact_pii(d, text_col="payload", out_col="clean_text")
            .drop("payload"))


@_q("streaming_locf_smoke", """
WITH e AS (SELECT event_id, user_id, ts, value,
                  (event_type = 'purchase') AS is_obs
           FROM events WHERE user_id < 50),
r AS (SELECT *,
        CASE WHEN is_obs THEN value END AS ov,
        CASE WHEN is_obs THEN epoch_us(ts) END AS ots
      FROM e),
s AS (SELECT user_id, event_id, is_obs,
        last_value(ov IGNORE NULLS) OVER w AS locf_v,
        last_value(ots IGNORE NULLS) OVER w AS locf_ts_us
      FROM r
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, (NOT is_obs), value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, event_id,
       COALESCE(locf_v, 0.0) AS locf_v,
       COALESCE(locf_ts_us, -1) AS locf_ts_us
FROM s WHERE NOT is_obs
""")
def streaming_locf_smoke(spark, sf_dir):
    """Streaming point-in-time LOCF join (``streaming/locf.py``): purchase
    events publish a per-user value, every other event queries it as of its
    own timestamp — strict ``t' <= t``, the streaming leg of the north-rule
    feature stack.  Driven with availableNow over a time-range-partitioned
    file feed (one range file per trigger, mtimes force ascending admission
    order), so micro-batches arrive time-ordered; within a batch the group's
    chunks are resolved as a set, making the output batching-invariant.
    Hard oracle: the batch as-of window SQL with the identical
    lexicographic-(ts, value) tie-break."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    from fs2_data_spark.streaming.locf import streaming_pit_locf
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50).select(
        "event_id", "user_id", "ts", "value",
        (F.col("event_type") == "purchase").alias("is_obs"))
    src = f"/tmp/fs2_stream_src_locf_{abs(hash(sf_dir)) % 10**9}"
    if not os.path.exists(f"{src}/_DONE"):
        # 4 event-time range files, admission-ordered by forced mtimes:
        # a time-partitioned ingest log (equal ts never straddles a range
        # boundary, so every obs <= a query's ts lands in an earlier-or-same
        # trigger)
        stage = f"{src}_stage"
        (ev.repartitionByRange(4, "ts").sortWithinPartitions("ts")
           .write.mode("overwrite").parquet(stage))
        shutil.rmtree(src, ignore_errors=True)
        os.makedirs(src)
        parts = sorted(p for p in os.listdir(stage)
                       if p.startswith("part-") and p.endswith(".parquet"))
        for i, p in enumerate(parts):
            dst = f"{src}/batch_{i:03d}.parquet"
            shutil.copyfile(f"{stage}/{p}", dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(stage, ignore_errors=True)
        open(f"{src}/_DONE", "w").close()
        os.utime(f"{src}/_DONE", (1, 1))  # never admitted as newest file
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    # timeout_s=None: a processing-time timeout would keep the availableNow
    # drain scheduling cleanup batches until every key's timer fires —
    # 300 s of dead wait and a zombie query (see streaming/locf.py)
    out = streaming_pit_locf(stream, key="user_id", ts="ts", value="value",
                             is_obs="is_obs", id_col="event_id",
                             watermark="10000 days", timeout_s=None)
    name = _stream_query_name(spark, "fs2ds_stream_locf_smoke")
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.table(name).select("user_id", "event_id",
                                    "locf_v", "locf_ts_us")


@_q("streaming_locf_unordered_smoke", """
WITH e AS (SELECT event_id, user_id, ts, value,
                  (event_type = 'purchase') AS is_obs
           FROM events WHERE user_id < 50),
r AS (SELECT *,
        CASE WHEN is_obs THEN value END AS ov,
        CASE WHEN is_obs THEN epoch_us(ts) END AS ots
      FROM e),
s AS (SELECT user_id, event_id, is_obs,
        last_value(ov IGNORE NULLS) OVER w AS locf_v,
        last_value(ots IGNORE NULLS) OVER w AS locf_ts_us
      FROM r
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, (NOT is_obs), value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, event_id,
       COALESCE(locf_v, 0.0) AS locf_v,
       COALESCE(locf_ts_us, -1) AS locf_ts_us
FROM s WHERE NOT is_obs
""")
def streaming_locf_unordered_smoke(spark, sf_dir):
    """Out-of-order streaming point-in-time LOCF (``streaming/locf.py
    streaming_pit_locf_unordered``): the SAME events as the ordered smoke
    delivered in SCRAMBLED time-range order (mtimes force admission order
    2,0,3,1), with the watermark delay above the data span so nothing is
    late-dropped and per-key heartbeat rows past ``max_ts + delay`` that
    push the watermark over every query.  Queries buffer in per-key state
    and emit only when the watermark passes them (EventTimeTimeout wakes
    keys without new data), so the answers equal the batch as-of join
    regardless of delivery order — the identical hard oracle as the
    ordered smoke, with NO ordering caveat."""
    import datetime  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    from fs2_data_spark.streaming.locf import streaming_pit_locf_unordered
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50).select(
        "event_id", "user_id", "ts", "value",
        (F.col("event_type") == "purchase").alias("is_obs"))
    src = f"/tmp/fs2_stream_src_locf_u_{abs(hash(sf_dir)) % 10**9}"
    if not os.path.exists(f"{src}/_DONE"):
        bounds = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")
                        ).collect()[0]
        delay_days = (bounds.hi - bounds.lo).days + 2
        hb_ts = bounds.hi + datetime.timedelta(days=delay_days + 1)
        users = [r.user_id for r in ev.select("user_id").distinct().collect()]
        stage = f"{src}_stage"
        (ev.repartitionByRange(4, "ts").sortWithinPartitions("ts")
           .write.mode("overwrite").parquet(stage))
        shutil.rmtree(src, ignore_errors=True)
        os.makedirs(src)
        parts = sorted(p for p in os.listdir(stage)
                       if p.startswith("part-") and p.endswith(".parquet"))
        for mtime_rank, i in enumerate([2, 0, 3, 1]):
            dst = f"{src}/batch_{i:03d}.parquet"
            shutil.copyfile(f"{stage}/{parts[i]}", dst)
            os.utime(dst, (1_700_000_000 + mtime_rank,) * 2)
        hb = spark.createDataFrame(
            [(10_000_000 + int(u), int(u), hb_ts, 0.0, True)
             for u in sorted(users)], ev.schema)
        hb.coalesce(1).write.mode("overwrite").parquet(f"{stage}_hb")
        hbp = [p for p in os.listdir(f"{stage}_hb")
               if p.endswith(".parquet")][0]
        shutil.copyfile(f"{stage}_hb/{hbp}", f"{src}/zz_heartbeat.parquet")
        os.utime(f"{src}/zz_heartbeat.parquet", (1_700_000_010,) * 2)
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(f"{stage}_hb", ignore_errors=True)
        with open(f"{src}/_DELAY", "w") as fh:
            fh.write(str(delay_days))
        open(f"{src}/_DONE", "w").close()
        os.utime(f"{src}/_DONE", (1, 1))
    with open(f"{src}/_DELAY") as fh:
        delay_days = int(fh.read())
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = streaming_pit_locf_unordered(
        stream, key="user_id", ts="ts", value="value", is_obs="is_obs",
        id_col="event_id", watermark=f"{delay_days} days")
    name = _stream_query_name(spark, "fs2ds_stream_locf_u_smoke")
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.table(name).select("user_id", "event_id",
                                    "locf_v", "locf_ts_us")


@_q("streaming_interval_join_smoke", """
SELECT a.user_id, a.event_id AS p_id, b.event_id AS v_id,
       epoch_us(a.ts) - epoch_us(b.ts) AS gap_us
FROM events a JOIN events b ON a.user_id = b.user_id
WHERE a.event_type = 'purchase' AND b.event_type = 'view'
  AND b.ts >= a.ts - INTERVAL 24 HOURS AND b.ts <= a.ts
  AND a.user_id < 100
""")
def streaming_interval_join_smoke(spark, sf_dir):
    """Stream-stream interval join (``streaming/joins.py``): every view in
    the 24 h window ending at each purchase, per user — Spark's native
    StreamingSymmetricHashJoin driven with two file streams over the same
    log.  Inner joins emit on match (no watermark wait), so a plain
    availableNow drain is complete; the batch join with the identical
    time-range predicate is the hard oracle."""
    import os  # noqa: PLC0415

    from fs2_data_spark.streaming.joins import streaming_interval_join
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 100).select(
        "event_id", "user_id", "ts", "event_type")
    src = _stage_stream_source(ev, sf_dir, "ij")
    p = (spark.readStream.schema(ev.schema).parquet(src)
         .filter(F.col("event_type") == "purchase")
         .select("user_id", F.col("event_id").alias("p_id"),
                 F.col("ts").alias("p_ts")))
    v = (spark.readStream.schema(ev.schema).parquet(src)
         .filter(F.col("event_type") == "view")
         .select(F.col("user_id").alias("user_id"),
                 F.col("event_id").alias("v_id"),
                 F.col("ts").alias("v_ts")))
    out = streaming_interval_join(p, v, key="user_id", left_ts="p_ts",
                                  right_ts="v_ts", lookback_s=86_400,
                                  watermark="10000 days")
    name = _stream_query_name(spark, "fs2ds_stream_ij_smoke")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.table(name).select(
        "user_id", "p_id", "v_id",
        (epoch_us(F.col("p_ts")) - epoch_us(F.col("v_ts"))).alias("gap_us"))


@_q("multimodal_decode_smoke", None)
def multimodal_smoke(spark, sf_dir):
    """Multimodal binary-column plumbing driven end-to-end with the
    deterministic fake decoder (imaging libs absent in this container —
    honest stub, real Arrow batching/schema). Rows-only check."""
    from fs2_data_spark.operators.multimodal import attach_media_meta, decode_image
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 64).select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"))
    d = attach_media_meta(d, "payload", modality="image")
    out = decode_image(d, "payload", fake=True)
    return out.select("doc_id", "payload_bytes", "payload_sha",
                      F.size("features").alias("n_features"))


@_q("multimodal_decode_docs", """
WITH s AS (SELECT doc_id,
                  substr(rpad(regexp_replace(text, '[^ -~]', '', 'g'),
                              64, ' '), 1, 64) AS t
           FROM documents)
SELECT doc_id,
       list_transform(generate_series(1, 16), b -> CAST(
           ascii(substr(t, 4*b - 3, 1)) + ascii(substr(t, 4*b - 2, 1))
         + ascii(substr(t, 4*b - 1, 1)) + ascii(substr(t, 4*b, 1)) AS INTEGER))
       AS feat_sums
FROM s
""")
def multimodal_decode_docs(spark, sf_dir):
    """REAL multimodal decode, hard-oracled (VERDICT r04 missing-item #1
    stretch): each document's sanitized first 64 chars become a 64x1 binary
    PGM payload built JVM-side (header + raw pixel bytes via binary
    concat), the stdlib-tier image decoder (``sources/stdlib_media.py`` —
    no PIL, no fake) parses the netpbm header and produces the 16-block
    area-mean feature strip, and the query re-scales each feature to its
    exact integer pixel-block sum (``round(x * 4 * 255)`` — block mean s/4
    is exact in float32, so the scale-back recovers s exactly).  The DuckDB
    oracle computes the same sums straight from the text — a value-exact
    round trip through payload encode -> real decode -> feature kernel."""
    from fs2_data_spark.operators.multimodal import decode_image
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(F.rpad(F.regexp_replace("text", "[^ -~]", ""), 64, " "),
                    1, 64).alias("t"))
    payload = F.concat(F.encode(F.lit("P5\n64 1\n255\n"), "utf-8"),
                       F.encode(F.col("t"), "utf-8"))
    out = decode_image(d.select("doc_id", payload.alias("payload")),
                       out_dim=16, tier="stdlib")
    return out.select(
        "doc_id",
        F.transform("features",
                    lambda x: F.round(x * 1020).cast("int")).alias("feat_sums"))


_IVF_DIST = ("ROUND(list_sum(list_transform(list_zip({a}, {b}), "
             "p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)")


def _ivf_assign_sql(src: str, cents: str) -> str:
    """Argmin-cell assignment CTE body: rounded L2 distance, cell tie-break
    — mirrors the canonical ``ivf_index`` assign step exactly."""
    d = _IVF_DIST.format(a=f"{src}.v", b=f"{cents}.cv")
    return (f"SELECT id, v, cell FROM ("
            f"SELECT {src}.id, {src}.v, {cents}.cell, "
            f"row_number() OVER (PARTITION BY {src}.id ORDER BY {d}, {cents}.cell)"
            f" AS rn FROM {src} CROSS JOIN {cents}) WHERE rn = 1")


_IVF_MEAN_SQL = """
  SELECT cell, list(m ORDER BY j) AS cv FROM (
    SELECT cell, j,
           ROUND(CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 9) AS m
    FROM (SELECT cell, unnest(v) AS x,
                 unnest(generate_series(1, len(v))) AS j FROM {src})
    GROUP BY cell, j) GROUP BY cell
"""


@_q("ann_ivf_topk", f"""
WITH e AS (SELECT vec_id AS id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
seeds AS (SELECT row_number() OVER (ORDER BY h, id) - 1 AS cell, v AS cv
          FROM (SELECT id, v, (id * 2654435761) % 1000003 AS h
                FROM e ORDER BY h, id LIMIT 16)),
a0 AS ({_ivf_assign_sql('e', 'seeds')}),
c1 AS ({_IVF_MEAN_SQL.format(src='a0')}),
a1 AS ({_ivf_assign_sql('e', 'c1')}),
c2 AS ({_IVF_MEAN_SQL.format(src='a1')}),
a2 AS ({_ivf_assign_sql('e', 'c2')}),
q AS (SELECT id AS q_vec_id, v AS qv,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS qn
      FROM e WHERE id % 50 = 0),
probes AS (SELECT q_vec_id, qv, qn, cell FROM (
  SELECT q.q_vec_id, q.qv, q.qn, c2.cell,
         row_number() OVER (PARTITION BY q.q_vec_id
             ORDER BY {_IVF_DIST.format(a='q.qv', b='c2.cv')}, c2.cell) AS rn
  FROM q CROSS JOIN c2) WHERE rn <= 4),
inv AS (SELECT id AS n_vec_id, v AS cv2, cell,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS cn
        FROM a2),
pairs AS (SELECT p.q_vec_id, i.n_vec_id,
                 ROUND(CASE WHEN p.qn > 0 AND i.cn > 0 THEN list_dot_product(p.qv, i.cv2) / (p.qn * i.cn) ELSE 0.0 END, 4) AS cos_sim
          FROM probes p JOIN inv i USING (cell)
          WHERE i.n_vec_id != p.q_vec_id)
SELECT q_vec_id, n_vec_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY q_vec_id
               ORDER BY cos_sim DESC, n_vec_id) AS rn FROM pairs)
WHERE rn <= 3
""")
def ann_ivf(spark, sf_dir):
    """IVF-Flat ANN (inverted-file coarse quantizer + exact cosine within
    probed cells), in the *canonical* engine-portable build (VERDICT r04
    #4): arithmetic seed hash, DECIMAL-sum Lloyd means rounded to 9 dp,
    assignment/probe distances rounded to 6 dp before the argmin.  The
    DuckDB oracle replays the entire index build — seeds, two Lloyd
    iterations, final assignment, probe selection — and must reproduce the
    exact same top-k per query (hard value oracle; the former rows-only
    excuse was the fp-order-dependence of un-canonicalized centroid
    means).  Recall vs the brute-force baseline remains pinned by
    tests/test_dedup_similarity.py."""
    from fs2_data_spark.operators.similarity import ivf_topk
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    return ivf_topk(q, emb, id_col="vec_id", vec_col="embedding", k=3,
                    n_cells=16, nprobe=4, canonical=True)


@_q("cdc_dedup_stats_docs", f"""
WITH t AS (SELECT doc_id,
             list_transform({TOKENS_SQL}, x -> CAST(x AS BIGINT)) AS l
           FROM documents),
w AS (SELECT doc_id, l, len(l) AS n,
        CASE WHEN len(l) >= 5 THEN
          list_filter(generate_series(3, len(l) - 2),
            i -> list_reduce(l[CAST(i - 2 AS BIGINT):CAST(i + 1 AS BIGINT)],
                             (a, x) -> (a * 31 + x) % 1000000007) % 16 = 0)
        ELSE [] END AS cuts
      FROM t WHERE len(l) > 0),
s2 AS (SELECT doc_id, l, n,
         [CAST(0 AS BIGINT)] || list_transform(cuts, c -> c + 1) AS starts,
         list_transform(cuts, c -> c + 1) || [CAST(n AS BIGINT)] AS ends
       FROM w),
ch AS (SELECT list_reduce(l[CAST(starts[CAST(j AS INTEGER)] + 1 AS BIGINT)
                            :CAST(ends[CAST(j AS INTEGER)] AS BIGINT)],
                          (a, x) -> (a * 31 + x) % 1000000007) AS chunk_h,
              ends[CAST(j AS INTEGER)] - starts[CAST(j AS INTEGER)] AS clen
       FROM s2, unnest(generate_series(1, len(starts))) AS u(j)),
per AS (SELECT chunk_h, COUNT(*) AS cnt, MAX(clen) AS clen
        FROM ch GROUP BY chunk_h)
SELECT CAST(SUM(cnt) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
       CAST(SUM(cnt * clen) AS BIGINT) AS total_tokens,
       CAST(SUM((cnt - 1) * clen) AS BIGINT) AS dup_tokens,
       CAST(SUM((cnt - 1) * clen) AS DOUBLE) / SUM(cnt * clen)
         AS dedup_ratio
FROM per
""")
def cdc_dedup_stats_docs(spark, sf_dir):
    """Content-defined-chunking dedup audit (``operators/dedup.py
    cdc_chunks``/``cdc_dedup_stats``): Rabin-style boundaries wherever the
    4-token rolling window hash is ``% 16 == 0``, then one hash aggregation
    over chunk hashes measures the tokens a content-addressed chunk store
    would save. Chunking rides the scan (zero shuffle, per-row O(n*k));
    the DuckDB oracle rebuilds every boundary and chunk hash verbatim."""
    # r6: boundary detection + chunk hashing via the Arrow token kernel
    # (identical int64 hashes/boundaries); the audit aggregations unchanged
    from fs2_data_spark.functions.textkernels import cdc_chunks_kernel
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ch = cdc_chunks_kernel(d, "doc_id", "text", k=4, divisor=16)
    per = (ch.groupBy("chunk_h")
           .agg(F.count(F.lit(1)).alias("cnt"),
                F.max("chunk_len").alias("clen")))
    return per.agg(
        F.sum("cnt").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_distinct_chunks"),
        F.sum(F.col("cnt") * F.col("clen")).alias("total_tokens"),
        F.sum((F.col("cnt") - 1) * F.col("clen")).alias("dup_tokens"),
    ).select(
        "n_chunks", "n_distinct_chunks", "total_tokens", "dup_tokens",
        (F.col("dup_tokens").cast("double")
         / F.col("total_tokens").cast("double")).alias("dedup_ratio"))


@_q("negative_pairs_docs", """
WITH h AS (SELECT doc_id,
                  ((doc_id * 2654435761 + 42) % 1000003 * 40503 + 17)
                    % 999983 % 32 AS b,
                  (doc_id * 2654435761) % 1000003 AS r
           FROM documents),
pairs AS (SELECT a.doc_id AS anchor_id, c.doc_id AS neg_id,
                 ((a.r + 1) * (c.r + 1) + 42) % 1000003 AS hh
          FROM h a JOIN h c ON a.b = c.b AND a.doc_id != c.doc_id)
SELECT anchor_id, neg_id, CAST(neg_rank AS INTEGER) AS neg_rank FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
               ORDER BY hh, neg_id) AS neg_rank
  FROM pairs) WHERE neg_rank <= 3
""")
def negative_pairs_docs(spark, sf_dir):
    """Deterministic contrastive negative sampling (``operators/mixing.py
    negative_pairs``): 3 pseudo-random negatives per anchor drawn from its
    portable-hash bucket — RNG-free, partitioning/engine-invariant, and the
    all-pairs stage is bucket-fenced (equi-join on the bucket id, the
    SemDeDup fence). The oracle replays the bucket hash, pair-mix hash,
    and per-anchor rank verbatim."""
    from fs2_data_spark.operators.mixing import negative_pairs
    d = _t(spark, sf_dir, "documents").select("doc_id")
    return negative_pairs(d, id_col="doc_id", k=3, n_buckets=32, seed=42)


@_q("length_buckets_docs", f"""
WITH t AS (SELECT CAST(len({TOKENS_SQL}) AS BIGINT) AS n_tok FROM documents),
b AS (SELECT n_tok, CAST(CASE WHEN n_tok <= 1 THEN 1
                         ELSE 1 << length(bin(n_tok - 1)) END AS BIGINT)
             AS bucket_len FROM t),
g AS (SELECT MAX(n_tok) AS gmax FROM t),
p AS (SELECT bucket_len, CAST(COUNT(*) AS BIGINT) AS n_seqs,
             CAST(SUM(n_tok) AS BIGINT) AS sum_tok
      FROM b GROUP BY bucket_len)
SELECT bucket_len, n_seqs, sum_tok,
       bucket_len * n_seqs - sum_tok AS waste_bucket,
       gmax * n_seqs - sum_tok AS waste_padmax,
       CAST(sum_tok AS DOUBLE) / (bucket_len * n_seqs) AS fill_frac_bucket,
       CAST(sum_tok AS DOUBLE) / (gmax * n_seqs) AS fill_frac_padmax
FROM p CROSS JOIN g
""")
def length_buckets_docs(spark, sf_dir):
    """Power-of-two length-bucket padding audit (``operators/packing.py
    length_buckets``): exact-integer bucket boundaries (``1 <<
    bitlength(n-1)``, never float log2), int64 waste sums vs the
    pad-to-global-max baseline, derived fill fractions. One bucket-keyed
    aggregation + a broadcast 1-row global max."""
    from fs2_data_spark.operators.packing import length_buckets
    d = _t(spark, sf_dir, "documents").select(
        F.size(tokens_col("text")).cast("bigint").alias("n_tok"))
    return length_buckets(d, len_col="n_tok")


@_q("semantic_dedup_emb", f"""
WITH e AS (SELECT vec_id AS id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
seeds AS (SELECT row_number() OVER (ORDER BY h, id) - 1 AS cell, v AS cv
          FROM (SELECT id, v, (id * 2654435761) % 1000003 AS h
                FROM e ORDER BY h, id LIMIT 16)),
a0 AS ({_ivf_assign_sql('e', 'seeds')}),
c1 AS ({_IVF_MEAN_SQL.format(src='a0')}),
a1 AS ({_ivf_assign_sql('e', 'c1')}),
c2 AS ({_IVF_MEAN_SQL.format(src='a1')}),
a2 AS ({_ivf_assign_sql('e', 'c2')}),
w AS (SELECT id, v, cell, sqrt(list_sum(list_transform(v, x -> x * x))) AS n
      FROM a2),
pairs AS (SELECT x.id AS i, y.id AS j,
                 ROUND(CASE WHEN x.n > 0 AND y.n > 0
                       THEN list_dot_product(x.v, y.v) / (x.n * y.n)
                       ELSE 0.0 END, 4) AS cos_sim
          FROM w x JOIN w y ON x.cell = y.cell AND y.id < x.id),
best AS (SELECT i, j AS dup_of, cos_sim AS dup_cos FROM (
  SELECT *, row_number() OVER (PARTITION BY i
               ORDER BY cos_sim DESC, j) AS rn
  FROM pairs WHERE cos_sim >= 0.5) WHERE rn = 1)
SELECT w.id AS vec_id, w.cell, best.i IS NULL AS keep,
       best.dup_of, best.dup_cos
FROM w LEFT JOIN best ON w.id = best.i
""")
def semantic_dedup_emb(spark, sf_dir):
    """SemDeDup semantic deduplication (``operators/similarity.py
    semantic_dedup``): IVF-cluster the embeddings (canonical
    engine-portable build), then inside each cell drop any vector with a
    smaller-id neighbor at cosine >= 0.5 (this synthetic corpus is
    near-orthogonal, so the oracle's weight is in replaying the full
    index-build + cell-fenced pair generation for every row). All-pairs
    cost is sum(|cell|^2) — cell-fenced, never N^2 — and the oracle
    replays seeds, two Lloyd steps, assignment, pairs, and the argmax
    winner bit-for-bit."""
    from fs2_data_spark.operators.similarity import semantic_dedup
    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.5, canonical=True)


@_q("emb_label_stats", """
SELECT label, count(*) AS n,
       ROUND(CAST(SUM(CAST(CAST(embedding[1] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
             / count(*), 6) AS centroid_d1,
       ROUND(CAST(SUM(CAST(CAST(embedding[2] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
             / count(*), 6) AS centroid_d2
FROM embeddings GROUP BY label
""")
def emb_label_stats(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    def cd(i):
        return F.round(
            F.sum(F.element_at("embedding", i).cast("double").cast("decimal(18,9)"))
            .cast("double") / F.count(F.lit(1)), 6)
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        cd(1).alias("centroid_d1"),
        cd(2).alias("centroid_d2"),
    )


# ---------------------------------------------------------------------------
# Batch 2: pivots / grouping sets / set ops / subquery joins
# ---------------------------------------------------------------------------

@_q("pivot_status_by_priority", """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
FROM orders GROUP BY o_orderpriority
""")
def pivot_status(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    piv = (o.groupBy("o_orderpriority")
           .pivot("o_orderstatus", ["O", "F", "P"]).count().na.fill(0))
    return piv.select(
        "o_orderpriority",
        F.col("O").alias("n_open"), F.col("F").alias("n_filled"),
        F.col("P").alias("n_partial"))


@_q("rollup_order_totals", f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n, {_DSUM('o_totalprice')} AS total
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""")
def rollup_orders(spark, sf_dir):
    return _t(spark, sf_dir, "orders").rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), _dsum(F.col("o_totalprice")).alias("total"))


@_q("cube_lineitem_counts", """
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
""")
def cube_lineitem(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"))


@_q("intersect_repeat_customers", """
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
""")
def intersect_customers(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    y96 = o.filter((F.col("o_orderdate") >= "1996-01-01 00:00:00")
                   & (F.col("o_orderdate") < "1997-01-01 00:00:00")).select("o_custkey")
    y97 = o.filter((F.col("o_orderdate") >= "1997-01-01 00:00:00")
                   & (F.col("o_orderdate") < "1998-01-01 00:00:00")).select("o_custkey")
    return y96.intersect(y97)


@_q("anti_join_customers_no_orders", """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""")
def anti_customers(spark, sf_dir):
    cu, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    return cu.join(o, cu.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@_q("semi_join_recent_suppliers", """
SELECT s_suppkey, s_name FROM supplier
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_suppkey = s_suppkey
                AND l_shipdate >= TIMESTAMP '2001-01-01 00:00:00')
""")
def semi_suppliers(spark, sf_dir):
    s, li = _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "lineitem")
    li = li.filter(F.col("l_shipdate") >= "2001-01-01 00:00:00")
    return s.join(li, s.s_suppkey == li.l_suppkey, "left_semi").select("s_suppkey", "s_name")


@_q("distinct_stats_by_segment", """
SELECT c_mktsegment, count(*) AS n_customers,
       count(DISTINCT c_nationkey) AS n_nations
FROM customer GROUP BY c_mktsegment
""")
def distinct_stats(spark, sf_dir):
    return _t(spark, sf_dir, "customer").groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"))


@_q("min_cost_supplier_per_part", """
SELECT l_partkey, s_suppkey FROM (
  SELECT l_partkey, s_suppkey,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY s_acctbal, s_suppkey) AS rn
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
  JOIN supplier ON s_suppkey = l_suppkey)
WHERE rn = 1
""")
def min_cost_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    s = _t(spark, sf_dir, "supplier")
    j = li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
    w = Window.partitionBy("l_partkey").orderBy("s_acctbal", "s_suppkey")
    return (j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).select("l_partkey", "s_suppkey"))


# ---------------------------------------------------------------------------
# Batch 2: scalar function families (dates / strings / math / json)
# ---------------------------------------------------------------------------

@_q("date_features", """
SELECT event_id, year(ts) AS yr, month(ts) AS mo,
       CAST(isodow(ts) AS INTEGER) AS dow,
       epoch_us(date_trunc('day', ts)) AS day_start_us
FROM events
""")
def date_features(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").alias("yr"), F.month("ts").alias("mo"),
        (F.weekday("ts") + 1).alias("dow"),
        F.unix_micros(F.date_trunc("day", F.col("ts")).cast("timestamp"))
         .alias("day_start_us"))


@_q("string_features_parts", """
SELECT p_partkey, upper(p_name) AS uname, substr(p_name, 2, 5) AS mid,
       replace(p_type, 'A', '_') AS repl,
       CAST(length(p_name) AS INTEGER) AS name_len,
       concat(p_brand, ':', p_type) AS brand_type,
       regexp_replace(p_name, '[aeiou]', '*', 'g') AS devowel
FROM part
""")
def string_features(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.substring("p_name", 2, 5).alias("mid"),
        F.replace(F.col("p_type"), F.lit("A"), F.lit("_")).alias("repl"),
        F.length("p_name").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("devowel"))


@_q("math_features", """
WITH e AS (SELECT event_id, value,
                  CASE WHEN value < 0 THEN 0.0 ELSE value END AS vnn
           FROM events)
SELECT event_id,
       round(ln(1 + vnn), 6) AS log1p_v,
       round(sqrt(vnn), 6) AS sqrt_v,
       round(exp(-value / 100), 6) AS decay_v,
       round(abs(pow(vnn, 0.5) - sqrt(vnn)), 6) AS zero_v,
       CAST(FLOOR(value / 10) AS BIGINT) AS bucket10
FROM e
""")
def math_features(spark, sf_dir):
    """Per-row math features.  The magnitude features (sqrt/log1p) clamp
    negatives to 0 via a null-preserving CASE — keeps the expression total
    in every engine (DuckDB raises on sqrt(-x) where Spark yields NaN;
    garbage values must not abort a 100 TB scan)."""
    ev = _t(spark, sf_dir, "events")
    vnn = F.when(F.col("value") < 0, F.lit(0.0)).otherwise(F.col("value"))
    return ev.select(
        "event_id",
        F.round(F.log1p(vnn), 6).alias("log1p_v"),
        F.round(F.sqrt(vnn), 6).alias("sqrt_v"),
        F.round(F.exp(-F.col("value") / 100), 6).alias("decay_v"),
        F.round(F.abs(F.pow(vnn, F.lit(0.5)) - F.sqrt(vnn)), 6).alias("zero_v"),
        F.floor(F.col("value") / 10).cast("bigint").alias("bucket10"))


@_q("json_props_extract", """
SELECT event_id, json_extract_string(props, '$.k') AS k_str
FROM events
""")
def json_props(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select("event_id", F.get_json_object("props", "$.k").alias("k_str"))


@_q("percentiles_by_type", """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90
FROM events GROUP BY event_type
""")
def percentiles(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"))


@_q("w_time_range_rolling", """
SELECT event_id,
       CAST(sum(CAST(value AS DECIMAL(18,6)))
            OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS roll10m_sum
FROM events
""")
def w_time_range(spark, sf_dir):
    from fs2_data_spark.functions.timeutil import epoch_us as _eus
    ev = _t(spark, sf_dir, "events").withColumn("eus", _eus(F.col("ts")))
    w = (Window.partitionBy("user_id").orderBy("eus")
         .rangeBetween(-600_000_000, 0))
    return ev.select(
        "event_id",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
         .alias("roll10m_sum"))


@_q("w_multi_horizon_events", """
SELECT event_id,
       CAST(count(value) OVER w10 AS BIGINT)  AS h10m_cnt,
       CAST(sum(CAST(value AS DECIMAL(27,6))) OVER w10 AS DOUBLE)
         AS h10m_sum,
       CASE WHEN count(value) OVER w10 > 0 THEN
         CAST(sum(CAST(value AS DECIMAL(27,6))) OVER w10 AS DOUBLE)
           / count(value) OVER w10 END AS h10m_mean,
       CAST(count(value) OVER w1h AS BIGINT)  AS h1h_cnt,
       CAST(sum(CAST(value AS DECIMAL(27,6))) OVER w1h AS DOUBLE)
         AS h1h_sum,
       CASE WHEN count(value) OVER w1h > 0 THEN
         CAST(sum(CAST(value AS DECIMAL(27,6))) OVER w1h AS DOUBLE)
           / count(value) OVER w1h END AS h1h_mean,
       CAST(count(value) OVER w6h AS BIGINT)  AS h6h_cnt,
       CAST(sum(CAST(value AS DECIMAL(27,6))) OVER w6h AS DOUBLE)
         AS h6h_sum,
       CASE WHEN count(value) OVER w6h > 0 THEN
         CAST(sum(CAST(value AS DECIMAL(27,6))) OVER w6h AS DOUBLE)
           / count(value) OVER w6h END AS h6h_mean
FROM events
WINDOW
  w10 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
          RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW),
  w1h AS (PARTITION BY user_id ORDER BY epoch_us(ts)
          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
  w6h AS (PARTITION BY user_id ORDER BY epoch_us(ts)
          RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)
""")
def w_multi_horizon(spark, sf_dir):
    """Multi-horizon trailing activity features (``operators/windows.py
    multi_horizon_features``): count/exact-decimal-sum/mean of ``value``
    over the trailing 10 min / 1 h / 6 h per user, all horizons sharing ONE
    partition sort (one Exchange + one Sort + three RANGE WindowExec nodes,
    plan-pinned). The same zero-leakage t' <= t contract as the as-of join."""
    from fs2_data_spark.operators.windows import multi_horizon_features
    ev = _t(spark, sf_dir, "events")
    out = multi_horizon_features(ev, value="value", key="user_id", ts="ts")
    feats = [f"h{n}_{a}" for n in ("10m", "1h", "6h")
             for a in ("cnt", "sum", "mean")]
    return out.select("event_id", *feats)


_CASCADE_LEVEL_SQL = """
SELECT user_id, CAST({w} AS BIGINT) AS level_us,
       CAST((epoch_us(ts) // {w}) * {w} AS BIGINT) AS bucket_us,
       CAST(count(value) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_v,
       min(value) AS min_v, max(value) AS max_v
FROM events GROUP BY user_id, bucket_us"""


@_q("time_bucket_cascade_events", f"""
{_CASCADE_LEVEL_SQL.format(w=300_000_000)}
UNION ALL {_CASCADE_LEVEL_SQL.format(w=3_600_000_000)}
UNION ALL {_CASCADE_LEVEL_SQL.format(w=86_400_000_000)}
""")
def time_bucket_cascade(spark, sf_dir):
    """Hypertable-style cascading continuous aggregate
    (``operators/windows.py cascade_rollup``): 5-min buckets from raw, then
    1-hour re-aggregated FROM the 5-min partials, then 1-day from 1-hour —
    the raw table is scanned once for all three resolutions. The oracle
    aggregates each level DIRECTLY from raw, so a value match certifies the
    monoid law (decimal-sum/count/min/max re-aggregation is lossless)."""
    from fs2_data_spark.operators.windows import cascade_rollup
    ev = _t(spark, sf_dir, "events")
    levels = cascade_rollup(ev, ts="ts", value="value", keys=("user_id",))
    parts = []
    for w, df in levels.items():
        parts.append(df.select(
            "user_id", F.lit(w).cast("bigint").alias("level_us"), "bucket_us",
            "n", F.col("sum_v").cast("double").alias("sum_v"),
            "min_v", "max_v"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_q("loss_mask_docs", f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS tok FROM documents),
p AS (SELECT doc_id, tok,
             COALESCE(list_position(tok, 884), 0) AS pos FROM t),
m AS (SELECT doc_id, tok, pos,
        list_transform(generate_series(1, len(tok)),
          i -> CASE WHEN pos > 0 AND i > pos THEN 1 ELSE 0 END) AS mask
      FROM p)
SELECT doc_id, CAST(len(tok) AS INTEGER) AS n_tok,
       CAST(len(list_filter(mask, v -> v = 1)) AS BIGINT) AS n_train,
       COALESCE(array_to_string(mask, ','), '') AS mask_str
FROM m
""")
def loss_mask_docs(spark, sf_dir):
    """Completion loss-masking for instruction tuning
    (``operators/seqops.py loss_mask``): positions through the first
    delimiter token (here 884 = the tokenizer's code for "the", standing
    in for a chat separator) are mask-0 prompt, the rest mask-1
    completion; delimiter-free sequences are all-0 (an unpaired document
    must not silently train as a completion). Pure per-row projection —
    zero Exchange, zero Python."""
    from fs2_data_spark.operators.seqops import loss_mask
    d = _doc_tokens(spark, sf_dir).select("doc_id", "tokens")
    out = loss_mask(d, tokens="tokens", delim=884)
    return out.select("doc_id", F.size("tokens").alias("n_tok"),
                      "n_train", _arr_str(F.col("mask")).alias("mask_str"))


@_q("fim_docs", f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS tok FROM documents),
c AS (SELECT doc_id, tok, len(tok) AS n,
        ((doc_id * 2654435761 + 1) % 1000003 * 40503 + 17) % 999983 AS h1,
        ((doc_id * 2654435761 + 2) % 1000003 * 40503 + 17) % 999983 AS h2
      FROM t),
k AS (SELECT doc_id, tok, n,
        CAST(h1 % greatest(n - 1, 1) + 1 AS INTEGER) AS c1,
        CAST(h2 % greatest(n - 1, 1) + 1 AS INTEGER) AS c2
      FROM c),
s AS (SELECT doc_id, tok, n, least(c1, c2) AS lo, greatest(c1, c2) AS hi,
             n >= 4 AS applied
      FROM k)
SELECT doc_id, CAST(n AS INTEGER) AS n_tok,
       CASE WHEN applied THEN lo ELSE 0 END AS cut_lo,
       CASE WHEN applied THEN hi ELSE 0 END AS cut_hi,
       applied AS fim_applied,
       COALESCE(array_to_string(
         CASE WHEN applied THEN
           [50281] || tok[1:lo] || [50282] || tok[hi+1:n]
                   || [50283] || tok[lo+1:hi]
         ELSE tok END, ','), '') AS fim_str
FROM s
""")
def fim_docs(spark, sf_dir):
    """Fill-in-the-middle restructuring (``operators/seqops.py
    fim_transform``, PSM form): deterministic arithmetic-hash cut points
    split each sequence into prefix/middle/suffix, emitted as
    ``[PRE] prefix [SUF] suffix [MID] middle`` so infilling trains
    left-to-right. Short sequences pass through flagged. Per-row
    zero-shuffle; the oracle replays the identical hash and 1-based
    slice arithmetic."""
    from fs2_data_spark.operators.seqops import fim_transform
    d = _doc_tokens(spark, sf_dir).select("doc_id", "tokens")
    out = fim_transform(d, id_col="doc_id", tokens="tokens")
    return out.select("doc_id", F.size("tokens").alias("n_tok"),
                      "cut_lo", "cut_hi", "fim_applied",
                      _arr_str(F.col("fim_tokens")).alias("fim_str"))


@_q("hashed_bow_docs", f"""
WITH wh AS (SELECT doc_id, {_WH_SQL} AS w FROM documents),
v AS (SELECT doc_id, w,
        list_transform(generate_series(0, 31),
                       d -> CAST(len(list_filter(w, x -> x % 32 = d))
                                 AS BIGINT)) AS vec
      FROM wh)
SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
       CAST(len(list_filter(vec, c -> c > 0)) AS INTEGER) AS nnz,
       COALESCE(array_to_string(vec, ','), '') AS vec_str
FROM v
""")
def hashed_bow_docs(spark, sf_dir):
    """Hashing-trick bag-of-words featurizer (``functions/text.py
    hashed_bow``): 32-bucket word-count vectors with no vocabulary table,
    no fit pass, zero shuffle (vs CountVectorizer's corpus pass +
    broadcast). The word-hash array is materialized once per row (the
    interpreted-HOF CSE rule); the oracle rebuilds every bucket count by
    brute force."""
    # r6: word hashes + bucket counts as one Arrow kernel (identical
    # integers); nnz/vec_str keep their JVM expressions over the 32-wide
    # kernel vector
    from fs2_data_spark.functions.textkernels import hashed_bow_kernel
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = hashed_bow_kernel(d, "doc_id", "text", dim=32)
    return out.select(
        "doc_id", "n_words",
        F.size(F.filter(F.col("vec"), lambda c: c > 0)).alias("nnz"),
        _arr_str(F.col("vec")).alias("vec_str"))


@_q("scd2_intervals_events", """
SELECT event_id, user_id, event_type, value,
       epoch_us(ts) AS valid_from_us,
       lead(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                ORDER BY epoch_us(ts), event_id)
         AS valid_to_us,
       (lead(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                 ORDER BY epoch_us(ts), event_id) IS NULL)
         AS is_current
FROM events
""")
def scd2_intervals_events(spark, sf_dir):
    """SCD-type-2 validity-interval compaction (``operators/asof.py
    scd2_intervals``): the offline feature-store table layout where a
    point-in-time lookup becomes ``valid_from <= t < valid_to`` — proven
    equivalent to the as-of join in tests (same tie rule: duplicates at
    one ts collapse to zero-length intervals, last writer wins). One
    Exchange + one Sort on the key (plan-pinned single shuffle)."""
    from fs2_data_spark.operators.asof import scd2_intervals
    ev = _t(spark, sf_dir, "events")
    out = scd2_intervals(ev, key=["user_id", "event_type"], ts="ts",
                         tiebreak="event_id")
    return out.select("event_id", "user_id", "event_type", "value",
                      "valid_from_us", "valid_to_us", "is_current")


@_q("winsorize_events", """
WITH r AS (
  SELECT event_id, user_id, value,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY value NULLS LAST, event_id) AS rn,
    count(value) OVER (PARTITION BY user_id) AS n
  FROM events),
b AS (SELECT *, (1 * n + 19) // 20 AS lo_r, (19 * n + 19) // 20 AS hi_r
      FROM r),
v AS (SELECT *,
        max(CASE WHEN rn = lo_r THEN value END)
          OVER (PARTITION BY user_id) AS lo_v,
        max(CASE WHEN rn = hi_r THEN value END)
          OVER (PARTITION BY user_id) AS hi_v
      FROM b)
SELECT event_id, lo_v AS p_lo, hi_v AS p_hi,
       CASE WHEN value IS NOT NULL
            THEN least(greatest(value, lo_v), hi_v) END AS value_w
FROM v
""")
def winsorize_events(spark, sf_dir):
    """Group-wise winsorization at exact p05/p95 (``operators/encoding.py
    winsorize``): per-user rank-based percentile bounds (exact-integer
    ceil ranks, no interpolation, no approximate sketch) and the clipped
    value. Both window passes share one hash exchange on the group key
    (plan-pinned single shuffle); the clip is pure comparison, so the
    oracle needs no rounding anywhere."""
    from fs2_data_spark.operators.encoding import winsorize
    ev = _t(spark, sf_dir, "events")
    out = winsorize(ev, value="value", key="user_id", tiebreak="event_id")
    return out.select("event_id", "p_lo", "p_hi", "value_w")


@_q("time_folds_events", """
WITH s AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
           FROM events),
e AS (SELECT event_id, epoch_us(ts) - s.mn AS off,
             s.mx - s.mn + 1 AS span, s.mn AS mn
      FROM events, s),
f AS (SELECT event_id, mn, off, span,
             CAST((off * 5) // span AS INT) AS fold FROM e)
SELECT event_id, fold,
       CAST(mn + (fold * span + 4) // 5 AS BIGINT) AS fold_start_us,
       (fold > 0 AND off - (fold * span + 4) // 5 < 3600000000)
         AS in_embargo
FROM f
""")
def time_folds_events(spark, sf_dir):
    """Purged chronological 5-fold CV assignment (``operators/mixing.py
    time_folds``): duration-equal folds from ONE broadcast min/max row +
    per-row exact-integer boundary math (row-equal folds would need a
    global sort; duration-equal folds need two scalars), with the
    de Prado embargo flag marking rows whose trailing-window features
    could leak across the previous fold's boundary. Zero corpus shuffle;
    the oracle replays the identical integer arithmetic."""
    from fs2_data_spark.operators.mixing import time_folds
    ev = _t(spark, sf_dir, "events")
    out = time_folds(ev, ts="ts", k=5, embargo_us=3_600_000_000)
    return out.select("event_id", "fold", "fold_start_us", "in_embargo")


@_q("pit_zscore_events", """
WITH w AS (
  SELECT event_id, value AS v,
    count(value) OVER pw AS n_past,
    CAST(sum(CAST(value AS DECIMAL(38,12))) OVER pw AS DOUBLE) AS s1,
    CAST(sum(CAST(CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6))
                  AS DECIMAL(38,12))) OVER pw AS DOUBLE) AS s2
  FROM events
  WINDOW pw AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
m AS (
  SELECT event_id, v, CAST(n_past AS BIGINT) AS n_past,
    CASE WHEN n_past > 0 THEN ROUND(s1 / CAST(n_past AS DOUBLE), 9)
    END AS mean_past,
    CASE WHEN n_past >= 2 THEN ROUND(sqrt(greatest(
      (CAST(n_past AS DOUBLE) * s2 - s1 * s1)
        / (CAST(n_past AS DOUBLE) * (CAST(n_past AS DOUBLE) - 1.0)),
      0.0)), 9) END AS std_past
  FROM w)
SELECT event_id, n_past, mean_past, std_past,
       CASE WHEN std_past IS NOT NULL AND std_past > 0
            THEN ROUND((v - mean_past) / std_past, 6) END AS zscore
FROM m
""")
def pit_zscore_events(spark, sf_dir):
    """Leakage-free expanding z-score (``operators/encoding.py
    expanding_zscore``): each event standardized against the count / exact
    decimal sum / decimal sum-of-squares of that user's STRICTLY PRIOR
    events — the point-in-time feature-store normalization rule (the same
    ``t' < t`` contract as the as-of join, here with the row itself also
    excluded). One Exchange + one Sort feed all three accumulators; the
    backward expanding frame is Spark's incremental (never quadratic)
    running-frame path. Oracle restates the identical window algebra."""
    from fs2_data_spark.operators.encoding import expanding_zscore
    ev = _t(spark, sf_dir, "events")
    out = expanding_zscore(ev, value="value", key="user_id", ts="ts")
    return out.select("event_id", "n_past", "mean_past", "std_past",
                      "zscore")


@_q("pit_target_encode_events", """
WITH w AS (
  SELECT event_id,
    count(value) OVER pw AS n_past,
    CAST(coalesce(sum(CAST(value AS DECIMAL(38,12))) OVER pw,
                  0) AS DOUBLE) AS s
  FROM events
  WINDOW pw AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT event_id, CAST(n_past AS BIGINT) AS n_past,
       ROUND(s, 9) AS sum_past,
       ROUND((s + 10.0 * 1.0) / (CAST(n_past AS DOUBLE) + 10.0), 9)
         AS target_enc
FROM w
""")
def pit_target_encode_events(spark, sf_dir):
    """Past-only smoothed target encoding (``operators/encoding.py
    pit_target_encode``): category -> smoothed mean of the target over ALL
    strictly-prior events of that category, zero temporal leakage. The
    Spark side runs the SCALABLE decomposition — per-(category, hour)
    partials, an exclusive prefix over the tiny bucket table, and an
    intra-bucket expanding frame whose partitions are bounded by the
    bucket, never by total history (a naive PARTITION BY category window
    would serialize the full 100 TB history through |categories| tasks).
    The oracle states the DIRECT single-window formulation, so a value
    match certifies the decomposition is exact (shared DECIMAL(38,12)
    monoid; the bucket split refines the (ts, event_id) total order)."""
    from fs2_data_spark.operators.encoding import pit_target_encode
    ev = _t(spark, sf_dir, "events")
    out = pit_target_encode(ev, category="event_type", target="value",
                            ts="ts", prior=1.0, prior_weight=10.0)
    return out.select("event_id", "n_past", "sum_past", "target_enc")


@_q("session_window_native", """
WITH g AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS flag
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (SELECT *, sum(flag) OVER (PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g)
SELECT user_id, epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) + 1800000000 AS session_end_us,
       count(*) AS n_events
FROM s GROUP BY user_id, sid
""")
def session_window_native(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.session_window(F.col("ts").cast("timestamp"), "30 minutes"),
                       "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
                    F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
                    "n_events"))


@_q("tok_bigram_shingles", f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents)
SELECT doc_id,
       COALESCE(array_to_string(CASE WHEN len(tokens) >= 2 THEN
         list_transform(tokens[1:len(tokens)-1],
                        (x, i) -> (CAST(x AS BIGINT) * 50261 + tokens[i + 1]) % 1000000007)
       ELSE [] END, ','), '') AS shingles
FROM t
""")
def tok_bigrams(spark, sf_dir):
    d = _doc_tokens(spark, sf_dir)
    return d.select("doc_id", _arr_str(TOK.tok_ngrams("tokens", 2)).alias("shingles"))


@_q("jsonpath_descendant_docs", """
SELECT doc_id, 0 AS match_no, CAST(doc_id AS VARCHAR) AS value FROM documents
UNION ALL SELECT doc_id, 1, CAST(doc_id + 1 AS VARCHAR) FROM documents
UNION ALL SELECT doc_id, 2, CAST(doc_id + 2 AS VARCHAR) FROM documents
""")
def jsonpath_descendant(spark, sf_dir):
    """JSONPath descendant axis ``$..b`` multi-match over nested JSON
    synthesized deterministically per doc; the oracle enumerates the three
    preorder matches (a.b, a.c.b, l[0].b) the descendant walk must find."""
    from fs2_data_spark.functions.jsonq import select_path_all
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit('{"a":{"b":'), F.col("doc_id").cast("string"),
                 F.lit(',"c":{"b":'), (F.col("doc_id") + 1).cast("string"),
                 F.lit('}},"l":[{"b":'), (F.col("doc_id") + 2).cast("string"),
                 F.lit('},{"x":0}]}')).alias("js"))
    return select_path_all(d, "js", "$..b", keep=["doc_id"])


@_q("jq_construct_docs", """
SELECT doc_id, 0 AS match_no,
       '{"lang":"' || lang || '","tok":' || CAST(doc_id AS VARCHAR)
       || ',"missing":null}' AS value FROM documents
UNION ALL SELECT doc_id, 1,
       '{"lang":"' || lang || '","tok":' || CAST(doc_id + 1 AS VARCHAR)
       || ',"missing":null}' FROM documents
""")
def jq_construct(spark, sf_dir):
    """jq per-match object construction with iterator fan-out and
    missing-field -> null default (``Rhs.Default``) over synthesized JSON;
    the oracle renders the exact objects the constructor must emit."""
    from fs2_data_spark.functions.jsonq import jq_run
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit('{"f2":"'), F.col("lang"), F.lit('","f3":['),
                 F.col("doc_id").cast("string"), F.lit(","),
                 (F.col("doc_id") + 1).cast("string"),
                 F.lit("]}")).alias("js"))
    return jq_run(d, "js", '{ "lang": .f2, "tok": .f3[], "missing": .zz }',
                  keep=["doc_id"])


@_q("xpath_attr_filter", """
SELECT doc_id, 0 AS match_no, 'item' AS name,
       't' || CAST(doc_id AS VARCHAR) AS inner_text FROM documents
UNION ALL SELECT doc_id, 1, 'other', 'w' FROM documents
""")
def xpath_attr_filter(spark, sf_dir):
    """XPath attribute predicates + alternation over synthesized
    attribute-bearing XML; the oracle enumerates the two matches per doc the
    compiled query must find (the nested non-cls item must NOT match)."""
    from fs2_data_spark.functions.xpath import xpath_filter
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.concat(F.lit('<r><item id="'), F.col("doc_id").cast("string"),
                 F.lit('" cls="x">t'), F.col("doc_id").cast("string"),
                 F.lit('</item><sub><item id="'),
                 (F.col("doc_id") + 1).cast("string"),
                 F.lit('">u</item></sub><other cls="x">w</other></r>')).alias("xml"),
        F.col("doc_id").cast("string").alias("doc_key"))
    out = xpath_filter(d, "xml", '//item[@cls == "x"]|//other[@cls]')
    return out.select(F.col("doc_key").cast("bigint").alias("doc_id"),
                      "match_no", "name", "inner_text")


@_q("xpath_fast_texts", """
SELECT doc_id, 0 AS match_no, 't' || CAST(doc_id AS VARCHAR) AS value
FROM documents
UNION ALL SELECT doc_id, 1, 'v' || CAST(doc_id AS VARCHAR) FROM documents
""")
def xpath_fast_texts(spark, sf_dir):
    """JVM fast path for simple child-axis XPath (VERDICT r03 item #4): the
    query compiles to ``from_xml`` with a path-derived minimal schema plus
    array higher-order functions (the Hive ``xpath`` UDF alternative was
    prototyped and rejected — per-row DOM, 0.8x the Python tier) — no
    Python tier — and must match only the two cls="x" items per doc (the
    nested non-cls item and the cls="y" item must NOT match).  The plan
    containing no PythonUDF/ArrowEval node is pinned by tests/test_plans.py."""
    from fs2_data_spark.functions.xpath import xpath_texts
    i = F.col("doc_id").cast("string")
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_key"),
        F.concat(F.lit('<r><item id="'), i, F.lit('" cls="x">t'), i,
                 F.lit('</item><sub><item id="'), (F.col("doc_id") + 1).cast("string"),
                 F.lit('">u</item></sub><item cls="y">no</item>'),
                 F.lit('<item cls="x">v'), i, F.lit("</item></r>")).alias("xml"))
    out = xpath_texts(d, "xml", '/r/item[@cls == "x"]')
    return out.select(F.col("doc_key").cast("bigint").alias("doc_id"),
                      "match_no", "value")


@_q("json_merge_patch_docs", """
SELECT doc_id,
       '{"lang":"' || lang || '","n":' || CAST(doc_id + 1 AS VARCHAR)
       || ',"meta":{"a":1,"b":' || CAST(doc_id AS VARCHAR) || '}}' AS merged
FROM documents
""")
def json_merge_patch_docs(spark, sf_dir):
    """RFC 7396 merge patch over synthesized JSON: the patch overwrites n,
    deep-merges meta.b, and deletes the drop key; the oracle renders the
    exact merged document."""
    from fs2_data_spark.functions.jsonq import json_merge_patch
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit('{"lang":"'), F.col("lang"),
                 F.lit('","n":0,"meta":{"a":1},"drop":true}')).alias("t"),
        F.concat(F.lit('{"n":'), (F.col("doc_id") + 1).cast("string"),
                 F.lit(',"meta":{"b":'), F.col("doc_id").cast("string"),
                 F.lit('},"drop":null}')).alias("p"))
    return json_merge_patch(d, "t", "p").select("doc_id", "merged")


@_q("selector_mandatory_docs", """
SELECT doc_id, 0 AS match_no, CAST(doc_id AS VARCHAR) AS value FROM documents
UNION ALL SELECT doc_id, 1, CAST(doc_id + 1 AS VARCHAR) FROM documents
""")
def selector_mandatory_docs(spark, sf_dir):
    """The Selector language end-to-end: mandatory multi-field selection in
    strict mode over synthesized JSON (every field present, so the mandatory
    check passes and the two values emit in document order)."""
    from fs2_data_spark.functions.selector import apply_selector
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit('{"f1":'), F.col("doc_id").cast("string"),
                 F.lit(',"skip":0,"f2":'), (F.col("doc_id") + 1).cast("string"),
                 F.lit("}")).alias("js"))
    return apply_selector(d, "js", '.["f1", "f2"]!', keep=["doc_id"])


@_q("json_transform_docs", """
SELECT doc_id,
       '{"a":{"b":' || CAST(doc_id + 7 AS VARCHAR) || '},"keep":1}' AS transformed
FROM documents
""")
def json_transform_docs(spark, sf_dir):
    """ast.transform over nested JSON: rewrite every descendant 'b' value;
    the oracle renders the expected rewritten document."""
    from fs2_data_spark.functions.jsonq import json_transform
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit('{"a":{"b":'), F.col("doc_id").cast("string"),
                 F.lit('},"keep":1}')).alias("js"))
    return json_transform(d, "js", "$..b", lambda v: v + 7).select(
        "doc_id", "transformed")


@_q("xml_dom_docs", """
SELECT CAST(doc_id AS VARCHAR) AS doc_key,
       '{"tag":"doc","attrs":{},"children":[{"tag":"t","attrs":{},"children":['
       || CASE WHEN trim(text) = '' THEN '' ELSE '"' || trim(text) || '"' END
       || ']}]}' AS dom
FROM documents
""")
def xml_dom_docs(spark, sf_dir):
    """DOM-tree view (xml.dom.documents analogue) of synthesized XML; the
    oracle renders the exact JSON DOM."""
    from fs2_data_spark.sources.xmlsrc import xml_dom
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_key"),
        F.concat(F.lit("<doc><t>"), F.col("text"), F.lit("</t></doc>")).alias("xml"))
    return xml_dom(d)


@_q("xml_render_docs", """
SELECT CAST(doc_id AS VARCHAR) AS doc_key,
       '<doc><t>' ||
       CASE WHEN trim(text) = '' THEN '' ELSE
         replace(replace(replace(trim(text), '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
       END || '</t></doc>' AS xml
FROM documents
""")
def xml_render_docs(spark, sf_dir):
    """xml.render roundtrip: parse synthesized XML to events, render back to
    the compact string; the oracle builds the expected render directly."""
    from fs2_data_spark.sources.xmlsrc import xml_events, xml_render
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_key"),
        F.concat(F.lit("<doc><t>"), F.col("text"), F.lit("</t></doc>")).alias("xml"))
    return xml_render(xml_events(d)).select("doc_key", "xml")


@_q("xml_roundtrip", """
-- whitespace-only text wraps to <t>   </t>, which the event model emits
-- as no text node at all (parser trims), so those documents yield no row
SELECT CAST(doc_id AS VARCHAR) AS doc_key, trim(text) AS value
FROM documents WHERE trim(text) <> ''
""")
def xml_roundtrip(spark, sf_dir):
    from fs2_data_spark.sources.xmlsrc import xml_texts_at
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_key"),
        F.concat(F.lit("<doc><t>"), F.col("text"), F.lit("</t></doc>")).alias("xml"))
    return xml_texts_at(d, "xml", "t").select("doc_key", "value")


# ---------------------------------------------------------------------------
# Batch 2: non-SQL-expressible surfaces (rows-only driver check)
# ---------------------------------------------------------------------------

_STREAM_QUERY_SEQ = [0]
_STAGED_STREAM_DIRS: set[str] = set()


def _stage_stream_source(df: DataFrame, sf_dir: str, tag: str) -> str:
    """Stage a bounded file-source snapshot for a streaming smoke.

    Deterministic naming (stable md5 of tag+sf_dir — NOT the salted builtin
    ``hash``) and written exactly once per process regardless of what a
    previous process left under the same path: a stale or partial snapshot
    from an earlier run can never leak into the stream (VERDICT r05 #2
    instrumentation — the old ``_SUCCESS``-guarded ``hash(sf_dir)`` path
    reused whatever an earlier process had staged)."""
    import hashlib  # noqa: PLC0415

    digest = hashlib.md5(f"{tag}|{sf_dir}".encode()).hexdigest()[:16]
    src = f"/tmp/fs2_stream_src_{tag}_{digest}"
    if src not in _STAGED_STREAM_DIRS:
        df.write.mode("overwrite").parquet(src)
        _STAGED_STREAM_DIRS.add(src)
    return src


def _stream_query_name(spark, base: str) -> str:
    """Unique memory-sink name per invocation (re-running a terminated
    streaming query under the same name in one session triggers a Spark
    TreeNode.makeCopy error on restart) + stop any stale run."""
    for q in spark.streams.active:
        if q.name and q.name.startswith(base):
            q.stop()
    _STREAM_QUERY_SEQ[0] += 1
    return f"{base}_{_STREAM_QUERY_SEQ[0]}"


@_q("streaming_session_smoke", """
WITH g AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS flag
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (SELECT *, sum(flag) OVER (PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g)
SELECT user_id, count(*) AS n_events, epoch_us(min(ts)) AS start_us
FROM s GROUP BY user_id, sid
""")
def streaming_sessions(spark, sf_dir):
    """Structured Streaming session_window over the events table, driven to
    completion with availableNow (streaming engine exercised for real; state
    store + watermark path).  Hard oracle: the finalized streaming sessions
    must equal batch gap-sessionization — the same DuckDB SQL already proven
    against the batch ``session_window_native`` query (sessions merge while
    the inter-event gap <= 30 min, a new session starts strictly beyond)."""
    import os  # noqa: PLC0415

    from fs2_data_spark.streaming.sessions import streaming_session_aggregate
    ev = _t(spark, sf_dir, "events")
    # file sources need a directory; the driver tables are single files
    src = _stage_stream_source(ev, sf_dir, "sess")
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = streaming_session_aggregate(stream, key="user_id", ts="ts",
                                      gap="30 minutes", watermark="10000 days")
    name = _stream_query_name(spark, "fs2ds_stream_smoke")
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.table(name).select(
        "user_id", "n_events",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"))


@_q("streaming_running_features_smoke", """
SELECT user_id, count(*) AS n,
       SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS sum_v_us,
       epoch_us(max(ts)) AS last_ts_us
FROM events WHERE user_id < 50 GROUP BY user_id
""")
def streaming_running_features_smoke(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState running
    per-key features), driven to completion with availableNow.  Hard oracle:
    the final emitted state per key (row with the largest running count) must
    equal the batch aggregate — the count, the exact integer value
    accumulator (per-row floor(value*1e6) summed as int64, associative hence
    order/batching-independent), and the last event time."""
    import os  # noqa: PLC0415

    from fs2_data_spark.streaming.sessions import streaming_running_features
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50).select(
        "user_id", "ts", "value")
    src = _stage_stream_source(ev, sf_dir, "rf")
    stream = spark.readStream.schema(ev.schema).parquet(src)
    # timeout_s=None so the availableNow drain terminates (ProcessingTime
    # timeouts force cleanup batches until every timer fires — see
    # streaming/sessions.py)
    out = streaming_running_features(stream, watermark="10000 days",
                                     timeout_s=None)
    name = _stream_query_name(spark, "fs2ds_stream_rf_smoke")
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(300)
    # final state per key = the emitted row with the largest running count
    return spark.table(name).groupBy("user_id").agg(
        F.max("n").alias("n"),
        F.max_by("sum_v_us", "n").alias("sum_v_us"),
        F.max_by("last_ts_us", "n").alias("last_ts_us"))


@_q("streaming_dedup_smoke", """
SELECT DISTINCT md5(text) AS h FROM documents
""")
def streaming_dedup_smoke(spark, sf_dir):
    """Streaming exact dedup via ``dropDuplicatesWithinWatermark`` (bounded
    state-store key retention), driven to completion with availableNow over
    an input containing every document TWICE.  The kept-row identity is
    arrival-order-dependent (first wins), so the query projects the dedup
    key itself: the distinct content-hash SET is order-independent and the
    hard oracle is the batch ``SELECT DISTINCT md5(text)``."""
    import os  # noqa: PLC0415

    from fs2_data_spark.streaming.sessions import streaming_dedup
    d = _t(spark, sf_dir, "documents").select(
        F.md5(F.col("text")).alias("h"),
        # ts well above the epoch: a row AT the epoch is dropped as late
        # once the first micro-batch clamps the watermark to 0
        F.timestamp_seconds(F.col("doc_id") + F.lit(1_600_000_000)).alias("ts"))
    doubled = d.union(d)
    src = _stage_stream_source(doubled, sf_dir, "dd2")
    stream = spark.readStream.schema(doubled.schema).parquet(src)
    out = streaming_dedup(stream, ["h"], ts="ts", watermark="10000 days")
    name = _stream_query_name(spark, "fs2ds_stream_dd_smoke")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(300)
    # no defensive distinct: if streaming dedup leaked a duplicate the
    # row-count comparison vs the oracle's DISTINCT must catch it
    return spark.table(name).select("h")


@_q("streaming_tumbling_smoke", """
SELECT user_id,
       (epoch_us(ts) // 300000000) * 300000000 AS win_start_us,
       (epoch_us(ts) // 300000000) * 300000000 + 300000000 AS win_end_us,
       count(*) AS n,
       SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS sum_v_us
FROM events WHERE user_id < 50
GROUP BY user_id, win_start_us
""")
def streaming_tumbling_smoke(spark, sf_dir):
    """Streaming tumbling event-time window aggregation
    (``streaming/windows.py streaming_windowed_agg``) driven to completion
    with availableNow — the third streaming leg next to session windows and
    the custom stateful operator. Hard oracle: finalized 5-minute windows
    must equal the batch floor-bucketed GROUP BY — count plus the exact
    int64 ``floor(value*1e6)`` accumulator (associative, hence batching and
    arrival-order independent)."""
    import os  # noqa: PLC0415

    from fs2_data_spark.streaming.windows import streaming_windowed_agg
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50).select(
        "user_id", "ts", "value")
    src = _stage_stream_source(ev, sf_dir, "tw")
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = streaming_windowed_agg(stream, key="user_id", ts="ts",
                                 value="value", width="5 minutes",
                                 watermark="10000 days")
    name = _stream_query_name(spark, "fs2ds_stream_tw_smoke")
    q = (out.writeStream.outputMode("complete").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.table(name).select(
        "user_id", "win_start_us", "win_end_us", "n", "sum_v_us")


@_q("streaming_candles_smoke", """
WITH b AS (SELECT user_id, (epoch_us(ts) // 86400000000) * 86400000000
                    AS win_start_us, epoch_us(ts) AS t, value
           FROM events WHERE user_id < 50)
SELECT user_id, win_start_us,
       (min(row(t, value)))[2] AS open,
       max(value) AS high, min(value) AS low,
       (max(row(t, value)))[2] AS close,
       count(*) AS n,
       SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS sum_v_us
FROM b GROUP BY user_id, win_start_us
""")
def streaming_candles_smoke(spark, sf_dir):
    """Streaming daily OHLC candles (``streaming/windows.py
    streaming_candles``) driven to completion with availableNow. Open
    and close ride (event_us, value) struct min/max — associative, so
    the finalized windows are batch-boundary- and arrival-order-
    independent, and the DuckDB batch GROUP BY (struct min/max + index
    extract) replays them exactly — the streaming twin of
    `ohlc_events`."""
    import os  # noqa: PLC0415

    from fs2_data_spark.streaming.windows import streaming_candles
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50).select(
        "user_id", "ts", "value")
    src = _stage_stream_source(ev, sf_dir, "oc")
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = streaming_candles(stream, key="user_id", ts="ts", value="value",
                            width="1 day", watermark="10000 days")
    name = _stream_query_name(spark, "fs2ds_stream_oc_smoke")
    q = (out.writeStream.outputMode("complete").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.table(name).select(
        "user_id", "win_start_us", "open", "high", "low", "close",
        "n", "sum_v_us")


@_q("cbor_transcode_roundtrip", """
SELECT doc_id, text AS t, lang AS l, CAST(TRUE AS BOOLEAN) AS ok FROM documents
""")
def cbor_roundtrip(spark, sf_dir):
    """Encode each document row to CBOR binary in one Arrow pass, stream it
    through the CBOR->JSON transcoder, then parse the JSON back with Catalyst
    ``from_json``.  The whole chain is an identity on the source fields
    (reference parity semantics ``cbor-json/shared/src/main/scala/fs2/data/
    cbor/package.scala:32-44``), so the DuckDB oracle is simply the source
    table — a hard value oracle on encode -> transcode -> parse."""
    import pandas as pd  # noqa: PLC0415

    from fs2_data_spark.sources.binary_codecs import cbor_encode, transcode_cbor_to_json
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")

    def enc(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [cbor_encode({"t": t, "l": lg})
                            for t, lg in zip(pdf["text"], pdf["lang"])],
            })

    enc_df = d.mapInPandas(enc, "doc_id bigint, payload binary")
    out = transcode_cbor_to_json(enc_df, "payload", mode="attempt")
    parsed = out.withColumn("j", F.from_json("json", "t string, l string"))
    return parsed.select("doc_id", F.col("j.t").alias("t"),
                         F.col("j.l").alias("l"), "ok")


# ---------------------------------------------------------------------------
# Batch 3: the flagship operators themselves, oracle-validated end-to-end
# ---------------------------------------------------------------------------

@_q("pit_fused_events", """
WITH p AS (SELECT user_id, ts, max(value) AS pvalue
           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
c AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
a AS (SELECT c.event_id, c.user_id, c.ts, c.value, p.pvalue
      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts),
g AS (SELECT *,
        lag(value) OVER w AS lag1_value,
        lead(value) OVER w AS lead1_value,
        CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS flag
      FROM a WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_id, pvalue, lag1_value, lead1_value,
       CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
FROM g
""")
def pit_fused_events(spark, sf_dir):
    """The flagship fused operator (as-of + lag/lead + session in one window
    plan) validated against an independent engine's composite query."""
    from fs2_data_spark.pipeline import fused_pit_features
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value")
    purch = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("user_id", "ts").agg(F.max("value").alias("pvalue")))
    out = fused_pit_features(clicks, purch, key="user_id", left_ts="ts",
                             right_ts="ts", tiebreak="event_id",
                             right_cols=["pvalue"], lag_cols=("value",),
                             gap_s=1800)
    return out.select("event_id", "pvalue", "lag1_value", "lead1_value", "session_seq")


@_q("pit_fused_events_segmented", """
WITH p AS (SELECT user_id, ts, max(value) AS pvalue
           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
c AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
a AS (SELECT c.event_id, c.user_id, c.ts, c.value, p.pvalue
      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts),
g AS (SELECT *,
        lag(value) OVER w AS lag1_value,
        lead(value) OVER w AS lead1_value,
        CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS flag
      FROM a WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_id, pvalue, lag1_value, lead1_value,
       CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
FROM g
""")
def pit_fused_events_segmented(spark, sf_dir):
    """The segmented (skew-proof) physical plan of the flagship operator,
    validated against the same independent oracle."""
    from fs2_data_spark.pipeline import fused_pit_features
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value")
    purch = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("user_id", "ts").agg(F.max("value").alias("pvalue")))
    out = fused_pit_features(clicks, purch, key="user_id", left_ts="ts",
                             right_ts="ts", tiebreak="event_id",
                             right_cols=["pvalue"], lag_cols=("value",),
                             gap_s=1800, bucket_us=6 * 3600 * 1_000_000)
    return out.select("event_id", "pvalue", "lag1_value", "lead1_value", "session_seq")


@_q("salted_agg_supplier_volume", f"""
SELECT l_suppkey, count(*) AS n_items, {_DSUM('l_quantity')} AS total_qty
FROM lineitem GROUP BY l_suppkey
""")
def salted_agg_suppliers(spark, sf_dir):
    """Two-phase salted aggregation (skew planner) must equal a plain
    GROUP BY — the salt is a physical detail only."""
    from fs2_data_spark.plans.partitioning import add_salt
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    salted = add_salt(li, 16)
    partial = salted.groupBy("l_suppkey", "__salt").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(27,6)")).alias("qty_dec"))
    return partial.groupBy("l_suppkey").agg(
        F.sum("n_items").alias("n_items"),
        F.sum("qty_dec").cast("double").alias("total_qty"))


@_q("wrap_object_docs", """
SELECT doc_id,
       '{"w":{"src":"docs","vals":[' || CAST(doc_id AS VARCHAR) || ','
       || CAST(doc_id + 1 AS VARCHAR) || ']}}' AS json
FROM documents
""")
def wrap_object_docs(spark, sf_dir):
    """Object-wrapping variants (reference ``json/package.scala:117-141``):
    a per-doc value stream wrapped ``asArrayInObject`` (array at key
    ``vals`` with a literal ``src`` member), then the result wrapped
    ``asValueInObject`` at key ``w`` — both as pure column expressions; the
    oracle renders the exact object."""
    from fs2_data_spark.functions.jsonpath import (
        wrap_as_array_in_object, wrap_as_value_in_object)
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(F.array(F.col("doc_id").cast("string"),
                             (F.col("doc_id") + 1).cast("string")))
        .alias("pos", "value"))
    inner = wrap_as_array_in_object(d, ["doc_id"], "value", at="vals",
                                    extra={"src": '"docs"'}, order_col="pos")
    return (wrap_as_value_in_object(inner, "json", at="w", out_col="wrapped")
            .select("doc_id", F.col("wrapped").alias("json")))


@_q("msgpack_typed_decode", """
SELECT doc_id, doc_id AS a, lang FROM documents
""")
def msgpack_typed_decode(spark, sf_dir):
    """Typed msgpack deserialization one-liner (reference
    ``msgpack/high/package.scala:43-144``): JSON -> msgpack binary ->
    ``decode_msgpack(schema)`` roundtrip; the oracle is the identity on the
    source fields."""
    from fs2_data_spark.sources.binary_codecs import (
        decode_msgpack, transcode_json_to_msgpack)
    j = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit('{"a":'), F.col("doc_id").cast("string"),
                 F.lit(',"lang":"'), F.col("lang"), F.lit('"}')).alias("json"))
    enc = transcode_json_to_msgpack(j, "json", out_col="payload").drop("json", "ok")
    dec = decode_msgpack(enc, "a bigint, lang string", col="payload")
    return dec.select("doc_id", F.col("value.a").alias("a"),
                      F.col("value.lang").alias("lang"))


@_q("json_tokenize_raw_docs", """
SELECT doc_id, CAST(2 AS INTEGER) AS token_no, '1.00' AS lexeme FROM documents
UNION ALL SELECT doc_id, 4, '1e2' FROM documents
UNION ALL SELECT doc_id, 6, '-0.0' FROM documents
UNION ALL SELECT doc_id, 8, CAST(doc_id AS VARCHAR) FROM documents
""")
def json_tokenize_raw_docs(spark, sf_dir):
    """Token-stream view with VERBATIM number lexemes (reference
    ``json/tokens.scala:61-64``): ``1.00``/``1e2``/``-0.0`` survive
    tokenization unchanged; the oracle pins each lexeme at its stream
    position."""
    from fs2_data_spark.functions.jsonq import json_tokenize
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit('{"n":1.00,"e":1e2,"z":-0.0,"i":'),
                 F.col("doc_id").cast("string"), F.lit("}")).alias("js"))
    t = json_tokenize(d, "js", keep=["doc_id"])
    return (t.filter(F.col("kind") == "NumberValue")
            .select("doc_id", "token_no", F.col("text").alias("lexeme")))


@_q("xml_events_full_docs", """
SELECT doc_id, CAST(0 AS INTEGER) AS event_no, 'XmlPI' AS event,
       'p' AS name, 'd' || CAST(doc_id AS VARCHAR) AS text FROM documents
UNION ALL SELECT doc_id, 1, 'StartTag', 'r', CAST(NULL AS VARCHAR) FROM documents
UNION ALL SELECT doc_id, 2, 'Comment', CAST(NULL AS VARCHAR),
       'c' || CAST(doc_id AS VARCHAR) FROM documents
UNION ALL SELECT doc_id, 3, 'XmlString', CAST(NULL AS VARCHAR),
       't' || CAST(doc_id AS VARCHAR) FROM documents
UNION ALL SELECT doc_id, 4, 'StartTag', 'b', CAST(NULL AS VARCHAR) FROM documents
UNION ALL SELECT doc_id, 5, 'XmlString', CAST(NULL AS VARCHAR), 'u' FROM documents
UNION ALL SELECT doc_id, 6, 'EndTag', 'b', CAST(NULL AS VARCHAR) FROM documents
UNION ALL SELECT doc_id, 7, 'XmlString', CAST(NULL AS VARCHAR), 'w' FROM documents
UNION ALL SELECT doc_id, 8, 'EndTag', 'r', CAST(NULL AS VARCHAR) FROM documents
""")
def xml_events_full_docs(spark, sf_dir):
    """Comment/XmlPI event breadth (reference ``XmlEvent.scala:35-67``;
    ``xml.events(includeComments)`` option, ``xml/package.scala:50-52``) over
    synthesized XML; the oracle enumerates the full 9-event stream per doc
    including the PI target/data split and comment ownership."""
    from fs2_data_spark.sources.xmlsrc import xml_events
    i = F.col("doc_id").cast("string")
    d = _t(spark, sf_dir, "documents").select(
        i.alias("doc_key"),
        F.concat(F.lit("<?p d"), i, F.lit("?><r><!--c"), i, F.lit("-->t"), i,
                 F.lit("<b>u</b>w</r>")).alias("xml"))
    ev = xml_events(d, include_comments=True, include_pis=True)
    return ev.select(F.col("doc_key").cast("bigint").alias("doc_id"),
                     "event_no", "event", "name", "text")


@_q("xml_raw_events_docs", """
SELECT doc_id, CAST(0 AS INTEGER) AS event_no, 'XmlDecl' AS event,
       CAST(NULL AS VARCHAR) AS name, CAST(NULL AS VARCHAR) AS text,
       CAST(FALSE AS BOOLEAN) AS is_cdata FROM documents
UNION ALL SELECT doc_id, 1, 'XmlDoctype', 'r', CAST(NULL AS VARCHAR), FALSE FROM documents
UNION ALL SELECT doc_id, 2, 'StartTag', 'r', CAST(NULL AS VARCHAR), FALSE FROM documents
UNION ALL SELECT doc_id, 3, 'XmlString', CAST(NULL AS VARCHAR),
       't' || CAST(doc_id AS VARCHAR), FALSE FROM documents
UNION ALL SELECT doc_id, 4, 'XmlString', CAST(NULL AS VARCHAR),
       ' <c>' || CAST(doc_id AS VARCHAR) || '& ', TRUE FROM documents
UNION ALL SELECT doc_id, 5, 'EndTag', 'r', CAST(NULL AS VARCHAR), FALSE FROM documents
""")
def xml_raw_events_docs(spark, sf_dir):
    """Full raw XmlEvent ADT (reference ``XmlEvent.scala:35-67``) over
    synthesized documents: XmlDecl + XmlDoctype events, and the ``isCDATA``
    flag with CDATA text kept VERBATIM (unstripped, markup-unescaped) while
    ordinary text is normalized — the oracle enumerates all six events."""
    from fs2_data_spark.sources.xmlsrc import xml_events_raw
    i = F.col("doc_id").cast("string")
    d = _t(spark, sf_dir, "documents").select(
        i.alias("doc_key"),
        F.concat(F.lit('<?xml version="1.0"?><!DOCTYPE r><r a="x">t'), i,
                 F.lit("<![CDATA[ <c>"), i, F.lit("& ]]></r>")).alias("xml"))
    ev = xml_events_raw(d)
    return ev.select(F.col("doc_key").cast("bigint").alias("doc_id"),
                     "event_no", "event", "name", "text", "is_cdata")


@_q("charset_roundtrip_docs", """
SELECT doc_id, text, CAST(TRUE AS BOOLEAN) AS ok FROM documents
""")
def charset_roundtrip_docs(spark, sf_dir):
    """S18 charset layer (reference ``text/package.scala:23-56``): document
    text -> utf-8 binary (JVM encode) -> strict Arrow decode must be the
    identity; the oracle is the source text."""
    from fs2_data_spark.sources.charsets import decode_text, encode_text
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    enc = encode_text(d, col="text", charset="utf8").drop("text")
    dec = decode_text(enc, col="payload", charset="utf8", out_col="text")
    return dec.select("doc_id", "text", "ok")


# ---------------------------------------------------------------------------
# CSV family (S4-S8): first driver-checked queries for the RFC-4180 stack
# ---------------------------------------------------------------------------

def _csv_tmp(sf_dir: str, tag: str) -> str:
    import os  # noqa: PLC0415
    return os.path.join("/tmp", f"fs2_csv_{tag}_{abs(hash(sf_dir)) % 10**9}")


@_q("csv_roundtrip_docs", r"""
SELECT doc_id, text, lang,
       'x,"' || lang || '"' || chr(10) || 'y' AS tricky
FROM documents
""")
def csv_roundtrip_docs(spark, sf_dir):
    """RFC-4180 roundtrip (S4/S7/S8): documents + a synthesized column that
    forces every quoting rule (embedded comma, doubled quote, quoted newline)
    -> ``write_csv`` -> ``read_csv`` (decodeUsingHeaders path: header names
    inferred, string cells, caller casts — reference
    ``csv/shared/src/main/scala/fs2/data/csv/package.scala:128-222``).  The
    whole chain is an identity, so the oracle is the source expression."""
    from fs2_data_spark.sources.csvsrc import read_csv, write_csv
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang",
        F.concat(F.lit('x,"'), F.col("lang"), F.lit('"\ny')).alias("tricky"))
    path = _csv_tmp(sf_dir, "rt")
    write_csv(d, path)
    back = read_csv(spark, path, header=True, multiline=True)
    return back.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                       "text", "lang", "tricky")


@_q("csv_decode_cells", """
SELECT doc_id,
       printf('%08d-0000-4000-8000-%012d', doc_id, doc_id) AS u,
       CASE WHEN doc_id % 7 = 0 THEN NULL
            ELSE (doc_id % 90) * 60000000 END AS dur,
       CAST(doc_id % 7 <> 0 AS BOOLEAN) AS dur_ok,
       CAST(doc_id % 12 + 1 AS INTEGER) AS mon,
       CAST(1900 + doc_id % 200 AS INTEGER) AS yr
FROM documents
""")
def csv_decode_cells(spark, sf_dir):
    """CellDecoder breadth over a headerless CSV (S5/S6): cells synthesized
    from doc_id (uuid / ISO-8601 duration with an invalid cell every 7th row
    / month name / year), written without a header, read back with given
    headers (decodeGivenHeaders, reference ``csv/package.scala:150-178``),
    then typed with ``decode_cells`` in attempt mode (``attemptDecode``
    Either -> null + ok flag, ``CellDecoder.scala:161-257``)."""
    from fs2_data_spark.sources.csvsrc import decode_cells, read_csv, write_csv
    months = F.array(*[F.lit(m) for m in
                       ["JANUARY", "FEBRUARY", "MARCH", "APRIL", "MAY",
                        "JUNE", "JULY", "AUGUST", "SEPTEMBER", "OCTOBER",
                        "NOVEMBER", "DECEMBER"]])
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.format_string("%08d-0000-4000-8000-%012d",
                        F.col("doc_id"), F.col("doc_id")).alias("u"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("not-a-duration"))
         .otherwise(F.concat(F.lit("PT"), (F.col("doc_id") % 90).cast("string"),
                             F.lit("M"))).alias("dur"),
        F.element_at(months, (F.col("doc_id") % 12 + 1).cast("int")).alias("mon"),
        (F.lit(1900) + F.col("doc_id") % 200).cast("string").alias("yr"))
    path = _csv_tmp(sf_dir, "cells")
    write_csv(d, path, header=False)
    raw = read_csv(spark, path, header=False,
                   schema="doc_id bigint, u string, dur string, mon string, yr string")
    typed = decode_cells(raw, {"u": "uuid", "dur": "duration_us",
                               "mon": "month", "yr": "year"}, mode="attempt")
    return typed.select("doc_id", "u", "dur", "dur_ok", "mon", "yr")


# ---------------------------------------------------------------------------
# Cross-document duplicate token spans (exact-substring dedup candidates)
# ---------------------------------------------------------------------------

@_q("dup_token_spans", f"""
WITH t AS (SELECT doc_id,
             list_transform({TOKENS_SQL}, x -> CAST(x AS BIGINT)) AS l
           FROM documents),
s0 AS (SELECT doc_id, l, unnest(range(0, len(l) - 8 + 1)) AS pos
       FROM t WHERE len(l) >= 8),
s AS (SELECT doc_id, CAST(pos AS INTEGER) AS pos,
        list_reduce(l[pos + 1:pos + 8],
                    (a, x) -> (a * 31 + x) % 1000000007) AS span_h
      FROM s0),
g AS (SELECT span_h, COUNT(DISTINCT doc_id) AS n_docs
      FROM s GROUP BY span_h HAVING COUNT(DISTINCT doc_id) >= 2)
SELECT s.doc_id, s.pos, s.span_h, g.n_docs FROM s JOIN g USING (span_h)
""")
def dup_token_spans(spark, sf_dir):
    """Exact-substring dedup candidates: all (doc, position) pairs whose
    8-token rolling-hash window recurs in >=2 distinct documents.  The
    oracle recomputes the identical rolling hash with DuckDB list ops
    (list_reduce seeds with the first element, which equals the 0-seeded
    fold for ``a*31+x``)."""
    # r6: the rolling span hashes come from the Arrow token kernel
    # (identical int64 hashes); counts + join back stay JVM
    from fs2_data_spark.functions.textkernels import token_spans_kernel
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spans = token_spans_kernel(d, "doc_id", "text", k=8)
    counts = (spans.groupBy("span_h")
              .agg(F.countDistinct("doc_id").alias("n_docs"))
              .filter(F.col("n_docs") >= 2))
    return (spans.join(counts, "span_h")
            .select("doc_id", "pos", "span_h", "n_docs"))


@_q("tok_repetition_docs", f"""
WITH t AS (SELECT doc_id,
             list_transform({TOKENS_SQL}, x -> CAST(x AS BIGINT)) AS l
           FROM documents),
s AS (SELECT doc_id, len(l) AS n,
        CASE WHEN len(l) >= 4 THEN
          list_transform(range(0, len(l) - 4 + 1),
            i -> list_reduce(l[i + 1:i + 4],
                             (a, x) -> (a * 31 + x) % 1000000007))
        ELSE [] END AS spans
      FROM t)
SELECT doc_id, CAST(len(spans) AS INTEGER) AS rep_n_spans,
       CAST(len(list_distinct(spans)) AS INTEGER) AS rep_n_distinct,
       CASE WHEN len(spans) > 0 THEN
         CAST(len(spans) - len(list_distinct(spans)) AS DOUBLE) / len(spans)
       ELSE 0.0 END AS rep_dup_frac
FROM s
""")
def tok_repetition_docs(spark, sf_dir):
    """Intra-document repetition quality signal (duplicated 4-token-window
    fraction): pure per-row Catalyst — rolling hashes + array_distinct, zero
    shuffle.  dup_frac is an exact small-integer ratio, identical across
    engines."""
    from fs2_data_spark.operators.dedup import repetition_stats
    d = _doc_tokens(spark, sf_dir).select("doc_id", "tokens")
    out = repetition_stats(d, k=4)
    return out.select("doc_id", "rep_n_spans", "rep_n_distinct", "rep_dup_frac")


@_q("decontaminate_docs", f"""
WITH t AS (SELECT doc_id,
             list_transform({TOKENS_SQL}, x -> CAST(x AS BIGINT)) AS l
           FROM documents),
s0 AS (SELECT doc_id, l, unnest(range(0, len(l) - 8 + 1)) AS pos
       FROM t WHERE len(l) >= 8),
s AS (SELECT doc_id,
        list_reduce(l[pos + 1:pos + 8],
                    (a, x) -> (a * 31 + x) % 1000000007) AS span_h
      FROM s0),
b AS (SELECT DISTINCT span_h FROM s WHERE doc_id % 17 = 0),
h AS (SELECT s.doc_id, COUNT(*) AS n_contaminated_spans
      FROM s JOIN b USING (span_h) GROUP BY s.doc_id)
SELECT d.doc_id,
       COALESCE(h.n_contaminated_spans, 0) AS n_contaminated_spans,
       COALESCE(h.n_contaminated_spans, 0) > 0 AS contaminated
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN h USING (doc_id)
""")
def decontaminate_docs(spark, sf_dir):
    """Benchmark decontamination: every 17th document plays the benchmark
    set; corpus docs sharing any 8-token span with it are flagged with their
    overlapping-span counts.  Benchmark span hashes are broadcast (map-side
    semi-join — no corpus-side shuffle)."""
    # r6: span hashes via the Arrow token kernel; the broadcast semi-join
    # + counts + left restore keep the exact decontaminate() shape
    from fs2_data_spark.functions.textkernels import token_spans_kernel
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spans = (token_spans_kernel(d, "doc_id", "text", k=8)
             .select("doc_id", "span_h"))
    b = (spans.filter(F.col("doc_id") % 17 == 0)
         .select("span_h").distinct())
    hits = (spans.join(F.broadcast(b), "span_h")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_contaminated_spans")))
    return (d.select("doc_id").distinct()
            .join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_contaminated_spans", F.lit(0))
                    .alias("n_contaminated_spans"))
            .withColumn("contaminated", F.col("n_contaminated_spans") > 0))


# ---------------------------------------------------------------------------
# Time-decayed features (W-stack extension for the PIT pipeline)
# ---------------------------------------------------------------------------

@_q("w_median_events", """
SELECT user_id, ROUND(median(value), 6) AS median_v
FROM events WHERE user_id < 200 GROUP BY user_id
""")
def w_median_events(spark, sf_dir):
    """Exact per-user median via a GROUPED_AGG pandas UDF
    (``operators/windows.py grouped_median``) — the Python-UDAF tier of
    the UDx matrix (Arrow ships each group's column once, the kernel
    reduces in C; one hash shuffle, no partial agg — the inherent cost of
    exact medians).  Interpolating median matches numpy/pandas/DuckDB
    for doubles; rounded 6dp on both sides."""
    from fs2_data_spark.operators.windows import grouped_median
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 200).select(
        "user_id", "value")
    out = grouped_median(ev, value="value", key="user_id")
    return out.select("user_id", F.round("median_v", 6).alias("median_v"))


@_q("w_ewma_events", """
WITH o AS (
  SELECT event_id, user_id,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
  FROM events)
SELECT event_id, user_id,
       ROUND(
         list_sum(list_transform(l, (x, i) -> x * pow(0.5, len(l) - i))) /
         list_sum(list_transform(l, (x, i) ->
           CASE WHEN x IS NULL THEN NULL ELSE pow(0.5, len(l) - i) END)),
         4) AS ewma4
FROM o
""")
def w_ewma_events(spark, sf_dir):
    """Per-user EWMA (alpha=0.5, adjust=True) along the event timeline —
    the time-decayed feature of a PIT stack.  The Spark side runs the
    vectorized pandas ``ewm`` recurrence; the oracle evaluates the closed
    form (normalized ``(1-a)^j`` weights over the ordered prefix) — equal to
    4 decimals, which absorbs the recurrence-vs-closed-form fp difference
    (~1e-13) while pinning every digit that matters."""
    from fs2_data_spark.operators.windows import with_ewma
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = with_ewma(ev, value="value", key="user_id", ts=["ts", "event_id"],
                    alpha=0.5)
    return out.select("event_id", "user_id",
                      F.round("ewma", 4).alias("ewma4"))


# ---------------------------------------------------------------------------
# Streaming pretty-printers (reference text/render StreamPrinter)
# ---------------------------------------------------------------------------

@_q("json_pretty_docs", """
SELECT doc_id,
       '{' || chr(10) ||
       '  "lang": "' || lang || '",' || chr(10) ||
       '  "ids": [' || chr(10) ||
       '    ' || CAST(doc_id AS VARCHAR) || ',' || chr(10) ||
       '    ' || CAST(doc_id + 1 AS VARCHAR) || chr(10) ||
       '  ]' || chr(10) ||
       '}' AS pretty,
       CAST(TRUE AS BOOLEAN) AS ok
FROM documents
""")
def json_pretty_docs(spark, sf_dir):
    """Width-aware JSON pretty-printing (reference ``json.render.prettyPrint``
    via the group/indent doc-event model of ``text/render/StreamPrinter.
    scala``): at width 10 every container breaks one entry per line — the
    oracle constructs the exact laid-out text."""
    from fs2_data_spark.functions.render import pretty_json
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit('{"lang": "'), F.col("lang"), F.lit('", "ids": ['),
                 F.col("doc_id").cast("string"), F.lit(", "),
                 (F.col("doc_id") + 1).cast("string"), F.lit("]}")).alias("js"))
    return pretty_json(d, "js", width=10, indent=2)


@_q("xml_pretty_docs", """
SELECT doc_id,
       '<r a="x' || CAST(doc_id AS VARCHAR) || '">' || chr(10) ||
       '  <v>' || chr(10) ||
       '    t' || CAST(doc_id AS VARCHAR) || chr(10) ||
       '  </v>' || chr(10) ||
       '</r>' AS pretty,
       CAST(TRUE AS BOOLEAN) AS ok
FROM documents
""")
def xml_pretty_docs(spark, sf_dir):
    """Width-aware XML pretty-printing (reference ``xml.render.prettyPrint``,
    ``XmlEvent.scala:83-155`` Renderable): width 0 forces the fully-broken
    indented layout the oracle constructs."""
    from fs2_data_spark.functions.render import pretty_xml
    i = F.col("doc_id").cast("string")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit('<r a="x'), i, F.lit('"><v>t'), i,
                 F.lit("</v></r>")).alias("xml"))
    return pretty_xml(d, "xml", width=0, indent=2)


# ---------------------------------------------------------------------------
# Mergeable sketches + heuristic filtering + corpus rewrite (round 5 late
# additions to the training-pipeline tier: operators/sketches.py,
# operators/quality.py gopher_rules, operators/dedup.py segment_dedup)
# ---------------------------------------------------------------------------

from fs2_data_spark.operators.sketches import (  # noqa: E402
    HLL_M,
    KMV_P,
    cms_bucket_sql,
    hll_estimate_sql,
    hll_rho_sql,
    hll_tail_sql,
    kmv_hash_sql,
)

# functions/text.py word_hash applied to a single word, as DuckDB SQL
_WORD_HASH_1_SQL = ("list_reduce(list_transform(string_split({w}, ''), "
                    "c -> CAST(ascii(c) AS BIGINT)), "
                    "(a, x) -> (a * 31 + x) % 1000003)")

# word-trigram shingle list from a word-hash list column `w` (novelty_docs'
# expression, factored for reuse)
_SHINGLES_SQL = """CASE WHEN len(w) >= 3 THEN list_transform(
               generate_series(1, len(w) - 2),
               i -> (w[CAST(i AS INTEGER)] * 1000003
                     + w[CAST(i AS INTEGER) + 1]) * 1000003
                     + w[CAST(i AS INTEGER) + 2])
             ELSE [] END"""

_KMV_K = 64
_KMV_NUM = (_KMV_K - 1) * KMV_P  # exact int; < 2^53 so its double is exact


@_q("hll_trailing_users_events", f"""
WITH e AS (SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_no,
                  user_id, {kmv_hash_sql('user_id')} AS h
           FROM events),
reg AS (SELECT hour_no, CAST(h % {HLL_M} AS INTEGER) AS bucket,
               MAX({hll_rho_sql(hll_tail_sql('h'))}) AS r
        FROM e GROUP BY hour_no, h % {HLL_M}),
pres AS (SELECT DISTINCT hour_no FROM e),
fan AS (SELECT CAST(t AS BIGINT) AS hour_no, bucket, r
        FROM reg, unnest(generate_series(reg.hour_no, reg.hour_no + 5))
             AS u(t)),
mg AS (SELECT fan.hour_no, bucket, MAX(r) AS r
       FROM fan JOIN pres USING (hour_no) GROUP BY fan.hour_no, bucket),
est AS ({hll_estimate_sql('mg', 'hour_no')}),
exd AS (SELECT p.hour_no,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS exact_distinct
        FROM pres p JOIN e ON e.hour_no BETWEEN p.hour_no - 5 AND p.hour_no
        GROUP BY p.hour_no)
SELECT est.hour_no, n_zero, sum_scaled, est_distinct, exact_distinct
FROM est JOIN exd USING (hour_no)
""")
def hll_trailing_users_events(spark, sf_dir):
    """Trailing 6-hour distinct-user estimates from per-hour HLL sketches
    (``operators/sketches.py hll_trailing_estimate``): registers built once
    per hour bucket, every trailing window answered by the elementwise-max
    monoid merge — events scanned ONCE for all windows (the sketch-cascade
    pattern a streaming cardinality dashboard runs at 100 TB; what
    ``cascade_rollup`` does for addable aggregates, this does for distinct
    counts). Exact trailing distincts ride beside the estimate for
    calibration; the oracle rebuilds registers, fan-out, merge, and the
    ln-free estimate bit-for-bit."""
    from fs2_data_spark.functions.timeutil import epoch_us as _eus
    from fs2_data_spark.operators.sketches import (
        hll_trailing_estimate,
        kmv_hash,
    )
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        F.floor(_eus(F.col("ts")) / F.lit(3_600_000_000)).cast("bigint")
        .alias("hour_no"),
        "user_id", kmv_hash(F.col("user_id")).alias("h"))
    est = hll_trailing_estimate(e.select("hour_no", "h"),
                                group_col="hour_no", hash_col="h", trail=6)
    present = e.select("hour_no").distinct()
    pairs = e.select("hour_no", "user_id").distinct()
    exact = (pairs.select(
        F.explode(F.sequence(F.col("hour_no"), F.col("hour_no") + 5))
        .alias("hour_no"), "user_id")
        .join(present, "hour_no")
        .groupBy("hour_no")
        .agg(F.countDistinct("user_id").alias("exact_distinct")))
    return est.join(exact, "hour_no").select(
        "hour_no", "n_zero", "sum_scaled", "est_distinct", "exact_distinct")


def _topgram_sql(n: int) -> str:
    """Brute-force top-n-gram count/fraction columns for the oracle
    (independent formulation: count each distinct gram, take the max —
    pins the Spark side's sorted run-length fold)."""
    return f"""
 CAST(CASE WHEN len(w) >= {n} THEN COALESCE(list_max(list_transform(
        list_distinct(g{n}), d -> len(list_filter(g{n}, x -> x = d)))), 0)
      ELSE 0 END AS INTEGER) AS top{n}_count,
 CASE WHEN len(w) > 0 AND len(w) >= {n} THEN
        ROUND(COALESCE(list_max(list_transform(list_distinct(g{n}),
                d -> len(list_filter(g{n}, x -> x = d)))), 0) * {n}
              / CAST(len(w) AS DOUBLE), 9)
      ELSE 0.0 END AS top{n}_frac"""


def _gram_sql(n: int) -> str:
    return f"""CASE WHEN len(w) >= {n} THEN
      list_transform(generate_series(1, len(w) - {n} + 1),
        i -> list_reduce(w[CAST(i AS BIGINT):CAST(i + {n} - 1 AS BIGINT)],
                         (a, x) -> (a * 1000003 + x) % 1000000007))
      ELSE [] END AS g{n}"""


@_q("top_ngram_docs", f"""
WITH wh AS (SELECT doc_id, {_WH_SQL} AS w FROM documents),
g AS (SELECT doc_id, w, {_gram_sql(2)}, {_gram_sql(3)}, {_gram_sql(4)}
      FROM wh)
SELECT doc_id, CAST(len(w) AS INTEGER) AS n_words,
       {_topgram_sql(2)}, {_topgram_sql(3)}, {_topgram_sql(4)}
FROM g
""")
def top_ngram_docs(spark, sf_dir):
    """Gopher/RefinedWeb top-n-gram repetition signals
    (``operators/quality.py top_ngram_fraction``): for n in 2/3/4 the
    fraction of each document's words covered by its most frequent word
    n-gram. Per-row zero-shuffle (rolling-hash grams + array_sort +
    run-length fold); the oracle recomputes the max by brute-force distinct
    counting — two independent formulations of the same statistic."""
    from fs2_data_spark.operators.quality import top_ngram_fraction
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return top_ngram_fraction(d, ns=(2, 3, 4))


@_q("gopher_rules_docs", f"""
WITH s AS (SELECT doc_id, text, {_WS_SQL} AS ws FROM documents),
m AS (SELECT doc_id,
        CAST(len(ws) AS BIGINT) AS n_words,
        CAST(COALESCE(list_sum(list_transform(ws,
               x -> CAST(length(x) AS BIGINT))), 0) AS BIGINT) AS sum_len,
        CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
          AS n_hash,
        CAST((length(text) - length(replace(text, '...', ''))) // 3
          AS BIGINT) AS n_ell,
        CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
          AS BIGINT) AS n_alpha,
        CAST(len(list_intersect(list_distinct(ws),
               ['the','a','of','to','and','in','is','it'])) AS INTEGER)
          AS n_stop
      FROM s),
r AS (SELECT doc_id, n_words, n_stop,
        CASE WHEN n_words > 0
             THEN CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE)
             ELSE 0.0 END AS mwl,
        CASE WHEN n_words > 0
             THEN CAST(n_hash + n_ell AS DOUBLE) / CAST(n_words AS DOUBLE)
             ELSE 0.0 END AS sym,
        CASE WHEN n_words > 0
             THEN CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE)
             ELSE 0.0 END AS alf
      FROM m)
SELECT doc_id, n_words,
       ROUND(mwl, 6) AS mean_wlen,
       ROUND(sym, 6) AS symbol_ratio,
       ROUND(alf, 6) AS alpha_frac,
       n_stop AS n_stop_distinct,
       (n_words >= 30 AND n_words <= 100000) AS word_count_ok,
       (mwl >= 3.0 AND mwl <= 10.0) AS mean_wlen_ok,
       (sym <= 0.1) AS symbol_ok,
       (alf >= 0.8) AS alpha_ok,
       (n_stop >= 2) AS stop_ok,
       ((n_words >= 30 AND n_words <= 100000) AND (mwl >= 3.0 AND mwl <= 10.0)
        AND (sym <= 0.1) AND (alf >= 0.8) AND (n_stop >= 2)) AS gopher_pass
FROM r
""")
def gopher_rules_docs(spark, sf_dir):
    """Gopher-style heuristic quality filter (``operators/quality.py
    gopher_rules`` — Rae et al. 2021 table A1): word-count band, mean word
    length band, symbol ratio, alphabetic-word fraction, distinct-stopword
    minimum, each as its own boolean plus the conjunction.  Pure per-row
    Catalyst riding the scan — zero shuffle (the filter a 100 TB pipeline
    runs FIRST); every ratio is one IEEE division of exact bigints so the
    booleans replay bit-for-bit."""
    from fs2_data_spark.operators.quality import gopher_rules
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_rules(d)


@_q("segment_dedup_docs", f"""
WITH s AS (SELECT doc_id, {_WS_SQL} AS ws FROM documents),
base AS (SELECT doc_id, ws,
                CAST((len(ws) + 7) // 8 AS INTEGER) AS n_seg FROM s),
segs AS (SELECT doc_id, CAST(i AS INTEGER) AS seg_no,
                array_to_string(
                  ws[(CAST(i AS BIGINT) * 8 + 1):(CAST(i AS BIGINT) * 8 + 8)],
                  ' ') AS seg
         FROM base, unnest(CASE WHEN n_seg > 0
                THEN range(0, CAST(n_seg AS BIGINT)) ELSE [] END) AS t(i)),
fs AS (SELECT doc_id, seg_no, seg,
              ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_no)
                AS rn
       FROM segs),
rb AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_kept,
              string_agg(seg, ' ' ORDER BY seg_no) AS clean_text
       FROM fs WHERE rn = 1 GROUP BY doc_id)
SELECT b.doc_id, b.n_seg,
       COALESCE(rb.n_kept, 0) AS n_kept,
       COALESCE(rb.clean_text, '') AS clean_text
FROM base b LEFT JOIN rb USING (doc_id)
""")
def segment_dedup_docs(spark, sf_dir):
    """C4-style corpus REWRITE (``operators/dedup.py segment_dedup``): drop
    every repeated 8-word segment except its globally-first occurrence
    (first = smallest ``(doc_id, seg_no)``) and reassemble each document.
    One hash shuffle on the segment text for the first-seen decision, one
    shuffle back on ``doc_id`` for reassembly; the oracle replays the
    split/first-seen/rebuild pipeline verbatim."""
    from fs2_data_spark.operators.dedup import segment_dedup
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return segment_dedup(d, seg_words=8)


@_q("boilerplate_segments_docs", f"""
WITH s AS (SELECT doc_id, {_WS_SQL} AS ws FROM documents),
base AS (SELECT doc_id, ws,
                CAST((len(ws) + 7) // 8 AS INTEGER) AS n_seg FROM s),
segs AS (SELECT doc_id, CAST(i AS INTEGER) AS seg_no,
                array_to_string(
                  ws[(CAST(i AS BIGINT) * 8 + 1):(CAST(i AS BIGINT) * 8 + 8)],
                  ' ') AS seg
         FROM base, unnest(CASE WHEN n_seg > 0
                THEN range(0, CAST(n_seg AS BIGINT)) ELSE [] END) AS t(i)),
bp AS (SELECT seg FROM segs GROUP BY seg
       HAVING COUNT(DISTINCT doc_id) >= 2),
rb AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_kept,
              string_agg(seg, ' ' ORDER BY seg_no) AS clean_text
       FROM segs ANTI JOIN bp USING (seg) GROUP BY doc_id)
SELECT b.doc_id, b.n_seg,
       COALESCE(rb.n_kept, 0) AS n_kept,
       COALESCE(rb.clean_text, '') AS clean_text
FROM base b LEFT JOIN rb USING (doc_id)
""")
def boilerplate_segments_docs(spark, sf_dir):
    """CCNet-style boilerplate removal (``operators/dedup.py
    drop_boilerplate_segments``): every 8-word segment present in >= 2
    distinct documents is removed from ALL of them (the first occurrence
    too — the complement of the C4 keep-first rewrite above). One hash
    aggregation builds the vocabulary-sized boilerplate set, the corpus
    anti-joins it (AQE-broadcastable), one shuffle back reassembles."""
    from fs2_data_spark.operators.dedup import drop_boilerplate_segments
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return drop_boilerplate_segments(d, seg_words=8, min_docs=2)


@_q("kmv_distinct_docs", f"""
WITH wh AS (SELECT source, {_WH_SQL} AS w FROM documents),
sh AS (SELECT source, unnest({_SHINGLES_SQL}) AS s FROM wh),
hh AS (SELECT DISTINCT source, {kmv_hash_sql('s')} AS h FROM sh),
rk AS (SELECT source, h,
              ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn,
              COUNT(*) OVER (PARTITION BY source) AS nd
       FROM hh),
sk AS (SELECT source,
              CAST(COUNT(CASE WHEN rn <= {_KMV_K} THEN 1 END) AS INTEGER)
                AS n_kept,
              MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS kth_hash,
              CAST(MIN(nd) AS BIGINT) AS exact_distinct
       FROM rk GROUP BY source)
SELECT source, n_kept, kth_hash,
       CASE WHEN n_kept < {_KMV_K} THEN CAST(n_kept AS DOUBLE)
            ELSE ROUND(CAST({_KMV_NUM} AS DOUBLE) / CAST(kth_hash AS DOUBLE),
                       4) END AS est_distinct,
       exact_distinct
FROM sk
""")
def kmv_distinct_docs(spark, sf_dir):
    """KMV distinct-count sketch (``operators/sketches.py``): per-source
    estimate of the number of distinct word-trigram shingles from the
    64 smallest re-mixed hash values, next to the exact distinct
    count for calibration.  The oracle replays the sketch itself — distinct
    re-mixed hashes, the k-th order statistic, the single-division estimate
    — not just a property of it.  Constant-size mergeable state per group
    (the monoid law is pinned by tests/test_sketches.py)."""
    from fs2_data_spark.operators.sketches import (
        kmv_estimate,
        kmv_hash,
        kmv_sketch,
    )
    from fs2_data_spark.functions.textkernels import shingles_kernel
    d = _t(spark, sf_dir, "documents")
    # shingle construction as the Arrow text kernel (identical int64 set)
    el = (shingles_kernel(d.select("source", "text"), "text", ["source"])
          .select("source", F.explode("sh").alias("s"))
          .select("source", kmv_hash(F.col("s")).alias("h")))
    sk = kmv_estimate(kmv_sketch(el, "source", "h", k=_KMV_K), k=_KMV_K)
    exact = (el.distinct().groupBy("source")
               .agg(F.count(F.lit(1)).alias("exact_distinct")))
    return sk.join(exact, "source").select(
        "source", "n_kept", "kth_hash", "est_distinct", "exact_distinct")


_CMS_D, _CMS_W = 3, 32
_CMS_OCC_SQL = "\n         UNION ALL ".join(
    f"SELECT {r} AS r, {cms_bucket_sql('h', r, _CMS_W)} AS b FROM occ"
    for r in range(_CMS_D))
_CMS_PROBE_SQL = "\n       UNION ALL ".join(
    f"SELECT word, exact_cnt, {r} AS r, {cms_bucket_sql('h', r, _CMS_W)} AS b"
    " FROM tq" for r in range(_CMS_D))


@_q("cms_counts_docs", f"""
WITH w AS (SELECT unnest({_WORDS_SQL}) AS word FROM documents),
cnts AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS exact_cnt
         FROM w GROUP BY word),
top AS (SELECT word, exact_cnt FROM cnts
        ORDER BY exact_cnt DESC, word LIMIT 20),
occ AS (SELECT {_WORD_HASH_1_SQL.format(w='word')} AS h FROM w),
sk AS (SELECT r, b, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM ({_CMS_OCC_SQL})
       GROUP BY r, b),
tq AS (SELECT word, exact_cnt, {_WORD_HASH_1_SQL.format(w='word')} AS h
       FROM top),
pr AS ({_CMS_PROBE_SQL})
SELECT pr.word, pr.exact_cnt, MIN(sk.cnt) AS cms_est
FROM pr JOIN sk USING (r, b)
GROUP BY pr.word, pr.exact_cnt
""")
def cms_counts_docs(spark, sf_dir):
    """Count-min sketch point queries (``operators/sketches.py``): a
    3x32 CMS over all word occurrences, probed for the corpus's
    top-20 words next to their exact counts — ``cms_est >= exact_cnt``
    always (the one-sided CMS guarantee; pinned by tests together with the
    elementwise-sum merge law).  Sketch build is one map-side-combined
    shuffle bounded at d*w rows per task; the probe join broadcasts the
    96-row sketch, so the query side never shuffles.  The
    oracle rebuilds the identical sketch from the same affine-mod buckets."""
    from fs2_data_spark.operators.sketches import cms_point_query, cms_sketch
    d = _t(spark, sf_dir, "documents")
    wtab = d.select(F.explode(TXT.words("text")).alias("word"))
    cnts = wtab.groupBy("word").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = cnts.orderBy(F.desc("exact_cnt"), "word").limit(20)
    occ = wtab.select(TXT.word_hash(F.col("word")).alias("h"))
    sketch = cms_sketch(occ, "h", depth=_CMS_D, width=_CMS_W)
    q = top.withColumn("h", TXT.word_hash(F.col("word")))
    return (cms_point_query(sketch, q, "h", depth=_CMS_D, width=_CMS_W)
            .select("word", "exact_cnt", "cms_est"))


_MH_UNION_SIG_SQL = ", ".join(
    f"MIN((c * {1_103_515_245 + 2 * i + 1} + {12_345 + 7_919 * i}) "
    f"% 2147483647) AS mh{i}" for i in range(8))
_MH_UNION_AGREE_SQL = " + ".join(
    f"(CASE WHEN a.mh{i} IS NOT DISTINCT FROM b.mh{i} THEN 1 ELSE 0 END)"
    for i in range(8))


@_q("source_jaccard_docs", f"""
WITH wc AS (SELECT source AS g, unnest({_WC_SQL}) AS c FROM documents),
sig AS (SELECT g, {_MH_UNION_SIG_SQL} FROM wc GROUP BY g),
dc AS (SELECT DISTINCT g, c FROM wc),
cnt AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM dc GROUP BY g),
inter AS (SELECT a.g AS s1, b.g AS s2, CAST(COUNT(*) AS BIGINT) AS ic
          FROM dc a JOIN dc b ON a.c = b.c AND a.g < b.g GROUP BY 1, 2),
pairs AS (SELECT a.g AS s1, b.g AS s2,
                 CAST({_MH_UNION_AGREE_SQL} AS INTEGER) AS n_agree
          FROM sig a JOIN sig b ON a.g < b.g)
SELECT p.s1, p.s2, n_agree, CAST(n_agree AS DOUBLE) / 8.0 AS est_jaccard,
       COALESCE(i.ic, 0) AS inter_cnt,
       ca.n + cb.n - COALESCE(i.ic, 0) AS union_cnt,
       CASE WHEN ca.n + cb.n - COALESCE(i.ic, 0) > 0
            THEN CAST(COALESCE(i.ic, 0) AS DOUBLE)
                 / CAST(ca.n + cb.n - COALESCE(i.ic, 0) AS DOUBLE)
       END AS jaccard
FROM pairs p
JOIN cnt ca ON ca.g = p.s1
JOIN cnt cb ON cb.g = p.s2
LEFT JOIN inter i ON i.s1 = p.s1 AND i.s2 = p.s2
""")
def source_jaccard_docs(spark, sf_dir):
    """Cross-source vocabulary-overlap matrix from mergeable MinHash union
    sketches (``operators/sketches.py minhash_union_similarity``) — the
    "how much does dump N overlap dump M" corpus audit: per-source
    signatures are elementwise MINs over word codes (the union monoid —
    per-shard signatures fold into per-source ones without re-scanning),
    pair agreement estimates Jaccard, and the exact vocabulary
    intersection/union sit beside it for calibration.  The oracle rebuilds
    signatures, agreement counts, and exact overlap with identical
    arithmetic."""
    from fs2_data_spark.operators.sketches import minhash_union_similarity
    d = _t(spark, sf_dir, "documents")
    return minhash_union_similarity(d, group_col="source",
                                    text_col="text", k=8)


@_q("hist_quantiles_docs", """
WITH s AS (SELECT source, length(bin(CAST(n_chars AS BIGINT))) AS blen,
                  count(*) AS cnt
           FROM documents GROUP BY source, blen),
u AS (SELECT source, blen, cnt FROM s
      UNION ALL
      SELECT 'ALL' AS source, blen, SUM(cnt) AS cnt FROM s GROUP BY blen),
c AS (SELECT source, blen, cnt,
        SUM(cnt) OVER (PARTITION BY source ORDER BY blen
                       ROWS UNBOUNDED PRECEDING) AS cum,
        SUM(cnt) OVER (PARTITION BY source) AS n
      FROM u)
SELECT source, CAST(max(n) AS BIGINT) AS n,
  CAST(min(CASE WHEN cum >= (1 * n + 1) // 2
            THEN (CAST(1 AS BIGINT) << blen) - 1 END) AS BIGINT) AS p50_ub,
  CAST(min(CASE WHEN cum >= (9 * n + 9) // 10
            THEN (CAST(1 AS BIGINT) << blen) - 1 END) AS BIGINT) AS p90_ub,
  CAST(min(CASE WHEN cum >= (99 * n + 99) // 100
            THEN (CAST(1 AS BIGINT) << blen) - 1 END) AS BIGINT) AS p99_ub
FROM c GROUP BY source
""")
def hist_quantiles_docs(spark, sf_dir):
    """Log-bucket histogram quantile sketch (``operators/sketches.py
    hist_sketch``/``hist_quantiles``): p50/p90/p99 upper bounds of the
    document-length distribution per source plus the merged ``ALL`` row
    — the ALL sketch is built by ADDING the per-source partials (the
    monoid), while the oracle re-buckets ALL directly from raw, so a
    value match certifies merge-losslessness (same pattern as the HLL /
    cascade monoid proofs). Constant-size state (<= 64 counters per
    group); rank arithmetic is exact-integer ceil — no float quantile
    machinery anywhere."""
    from fs2_data_spark.operators.sketches import hist_quantiles, hist_sketch
    d = _t(spark, sf_dir, "documents").select("source", "n_chars")
    sk = hist_sketch(d, group_col="source", value="n_chars")
    merged = (sk.groupBy("blen").agg(F.sum("cnt").alias("cnt"))
              .select(F.lit("ALL").alias("source"), "blen", "cnt"))
    u = sk.unionByName(merged)
    out = hist_quantiles(u, group_col="source")
    return out.select("source", F.col("n").cast("bigint").alias("n"),
                      "p50_ub", "p90_ub", "p99_ub")


@_q("hll_distinct_docs", f"""
WITH wh AS (SELECT source, {_WH_SQL} AS w FROM documents),
sh AS (SELECT source, unnest({_SHINGLES_SQL}) AS s FROM wh),
hh AS (SELECT DISTINCT source, {kmv_hash_sql('s')} AS h FROM sh),
hu AS (SELECT source, h FROM hh
       UNION ALL
       SELECT 'ALL' AS source, h FROM (SELECT DISTINCT h FROM hh)),
reg AS (SELECT source,
               CAST(h % {HLL_M} AS INTEGER) AS bucket,
               MAX({hll_rho_sql(hll_tail_sql('h'))}) AS r
        FROM hu GROUP BY source, h % {HLL_M}),
est AS ({hll_estimate_sql('reg')}),
ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_distinct
       FROM hu GROUP BY source)
SELECT est.source, n_zero, sum_scaled, est_distinct, exact_distinct
FROM est JOIN ex USING (source)
""")
def hll_distinct_docs(spark, sf_dir):
    """HyperLogLog distinct-count registers + estimate
    (``operators/sketches.py``): per-source distinct word-trigram-shingle
    estimates from 64 registers, next to the exact count for calibration —
    and an ``ALL`` row whose registers are maintained by the MONOID MERGE
    of the per-source sketches (elementwise max; the law a 100 TB pipeline
    relies on to keep corpus-level cardinality without re-scanning, pinned
    by tests/test_sketches.py).  The oracle rebuilds the identical
    registers (portable affine re-mix, ``length(bin(w))`` leading-1
    position), the exact scaled-bigint harmonic sum, and the
    linear-counting literal table — it checks the sketch bit-for-bit, not
    just a property of it."""
    from fs2_data_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
        kmv_hash,
    )
    from fs2_data_spark.functions.textkernels import shingles_kernel
    d = _t(spark, sf_dir, "documents")
    # shingle construction as the Arrow text kernel (identical int64 set)
    el = (shingles_kernel(d.select("source", "text"), "text", ["source"])
          .select("source", F.explode("sh").alias("s"))
          .select("source", kmv_hash(F.col("s")).alias("h")))
    regs = hll_registers(el, "source", "h")
    merged = (regs.groupBy("bucket").agg(F.max("r").alias("r"))
                  .select(F.lit("ALL").alias("source"), "bucket", "r"))
    est = hll_estimate(regs.unionByName(merged), "source")
    hh = el.distinct()
    hu = hh.unionByName(
        hh.select("h").distinct().select(F.lit("ALL").alias("source"), "h"))
    exact = hu.groupBy("source").agg(
        F.count(F.lit(1)).alias("exact_distinct"))
    return est.join(exact, "source").select(
        "source", "n_zero", "sum_scaled", "est_distinct", "exact_distinct")


@_q("nb_classifier_docs", f"""
WITH s AS (SELECT doc_id, lang = 'en' AS pos, {_WS_SQL} AS ws
           FROM documents),
tok AS (SELECT doc_id, pos, unnest(ws) AS word FROM s),
v AS (SELECT word,
        CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
        CAST(COUNT(*) AS BIGINT) AS c_all
      FROM tok GROUP BY word),
pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
              CAST(SUM((c_pos + 1) * 1000000000 // (c_all + 2)) AS BIGINT)
                AS sum_post_e9
       FROM tok JOIN v USING (word) GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(pd.n_words, 0) AS n_words,
       COALESCE(pd.sum_post_e9, 0) AS sum_post_e9,
       CASE WHEN COALESCE(pd.n_words, 0) > 0
            THEN CAST(pd.sum_post_e9 AS DOUBLE)
                 / CAST(pd.n_words AS DOUBLE) / 1e9
       END AS nb_score,
       (COALESCE(pd.sum_post_e9, 0) * 2
        > COALESCE(pd.n_words, 0) * 1000000000) AS nb_pass,
       (d.lang = 'en') AS is_positive
FROM (SELECT doc_id, lang FROM documents) d LEFT JOIN pd USING (doc_id)
""")
def nb_classifier_docs(spark, sf_dir):
    """Classifier-based quality filtering (``operators/quality.py
    nb_posterior_score``): fit Laplace-smoothed naive-Bayes word posteriors
    against the ``lang = 'en'`` reference class and score every document by
    its exact integer mean posterior (no ``ln`` — the module's libm rule);
    ``nb_pass`` is the exact-integer ``mean > 1/2`` decision.  One vocab
    shuffle + broadcast join back + one doc-id shuffle — the GPT-3-style
    quality-classifier stage with the fit fused into the same plan."""
    from fs2_data_spark.operators.quality import nb_posterior_score
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return nb_posterior_score(d, F.col("lang") == "en")


def _pagerank_events_sql() -> str:
    from fs2_data_spark.operators.graph import pagerank_oracle_sql
    cte = """d AS (SELECT user_id, event_type, epoch_us(ts) AS eus, event_id
           FROM events),
p AS (SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY eus, event_id) AS src,
             event_type AS dst
      FROM d),
e AS (SELECT src, dst, count(*) AS cnt FROM p WHERE src IS NOT NULL
      GROUP BY src, dst)"""
    return pagerank_oracle_sql(cte, damping=0.85, iters=3, round_dp=6)


@_q("pagerank_events", _pagerank_events_sql())
def pagerank_events(spark, sf_dir):
    """Weighted PageRank over the per-user event-type transition graph
    (``operators/graph.py pagerank``): 3 synchronous power-iteration
    rounds with teleport 0.15 and dangling-mass redistribution — the
    iterative-fixpoint plan shape (driver loop of join+agg rounds) that
    ranks domains/pages for per-source quality priors at web scale.
    Every cross-row sum is DECIMAL(38,28)-accumulated (shuffle-order
    independent); the oracle unrolls the identical iterations as CTEs
    with repr-embedded double constants.  The event-type graph is tiny;
    the plan (one dst-keyed shuffle per round + two broadcast scalars,
    static edges cached across rounds) is what scales to 10^9 nodes."""
    from fs2_data_spark.operators.graph import pagerank
    from fs2_data_spark.operators.sessionize import session_transitions
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts",
                                            "event_type")
    edges = (session_transitions(ev, key="user_id", ts="ts",
                                 tiebreak="event_id", state="event_type")
             .select(F.col("from_state").alias("src"),
                     F.col("to_state").alias("dst"), "cnt"))
    pr = pagerank(edges, damping=0.85, iters=3)
    return pr.select("node", F.round("pr", 6).alias("pr"))


_BM25_TERMS = ("join", "merge", "stream")


def _bm25_sql() -> str:
    from fs2_data_spark.operators.index import bm25_oracle_sql
    return bm25_oracle_sql(_BM25_TERMS, k1=1.2, b=0.75, round_dp=6)


@_q("bm25_scores_docs", _bm25_sql())
def bm25_scores_docs(spark, sf_dir):
    """Okapi BM25 relevance of every document against a fixed query-term
    set (``operators/index.py bm25_scores``) — the lexical ranking stage
    served from the posting-list artifact, k1=1.2, b=0.75.  The
    query-term filter lands before the tf aggregation (only matching
    postings shuffle); corpus stats and the per-term df broadcast back;
    the per-doc score sum is DECIMAL-accumulated and the oracle replays
    the identical IEEE expression tree with repr-embedded constants."""
    from fs2_data_spark.operators.index import bm25_scores
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (bm25_scores(d, _BM25_TERMS, k1=1.2, b=0.75)
            .select("doc_id", "n_hit", F.round("score", 6).alias("score")))


def _dsir_sql() -> str:
    from fs2_data_spark.operators.mixing import dsir_oracle_sql
    return dsir_oracle_sql("lang = 'en'", buckets=64, round_dp=6)


@_q("dsir_weights_docs", _dsir_sql())
def dsir_weights_docs(spark, sf_dir):
    """DSIR importance log-weights (``operators/mixing.py
    dsir_logweights``; Xie et al. 2023): score each document by
    ``sum_w ln(p_target(b(w)) / p_raw(b(w)))`` over add-one-smoothed
    64-bucket hashed unigram models, target = ``lang = 'en'`` — the
    published importance-resampling recipe for matching a pretraining
    mix to a target domain.  Two word-explode aggregations (the model
    table is 64 rows, broadcast back; the (doc, bucket) shuffle is
    map-side combined); per-doc sums are exact-count × fixed-double
    products accumulated in DECIMAL.  Zero-word docs carry no feature
    mass and are excluded (stated contract, mirrored by the oracle)."""
    from fs2_data_spark.operators.mixing import dsir_logweights
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return (dsir_logweights(d, F.col("lang") == "en", buckets=64)
            .select("doc_id", "n_words", F.round("logw", 6).alias("logw")))


def _script_mix_sql() -> str:
    from fs2_data_spark.functions.text import script_counts_sql
    sc = script_counts_sql("text")
    counts = ", ".join(f"{sc[k]} AS n_{k}" for k in
                       ("latin", "digit", "cyr", "cjk", "space"))
    return f"""
WITH c AS (SELECT doc_id, {sc['n_cp']} AS n_cp, {counts} FROM documents),
d AS (SELECT *,
             n_cp - n_latin - n_digit - n_cyr - n_cjk - n_space AS n_other
      FROM c)
SELECT doc_id, n_cp, n_latin, n_digit, n_cyr, n_cjk, n_space, n_other,
       CASE WHEN n_latin >= n_cyr AND n_latin >= n_cjk
                 AND n_latin >= n_digit AND n_latin >= n_other THEN 'latin'
            WHEN n_cyr >= n_cjk AND n_cyr >= n_digit
                 AND n_cyr >= n_other THEN 'cyr'
            WHEN n_cjk >= n_digit AND n_cjk >= n_other THEN 'cjk'
            WHEN n_digit >= n_other THEN 'digit'
            ELSE 'other' END AS dominant,
       CAST((CASE WHEN n_latin > 0 THEN 1 ELSE 0 END
             + CASE WHEN n_cyr > 0 THEN 1 ELSE 0 END
             + CASE WHEN n_cjk > 0 THEN 1 ELSE 0 END) >= 2 AS INTEGER)
         AS mixed,
       CASE WHEN n_cp > 0
            THEN ROUND(CAST(n_latin + n_cyr + n_cjk AS DOUBLE)
                       / CAST(n_cp AS DOUBLE), 6)
            ELSE CAST(0 AS DOUBLE) END AS frac_letter
FROM d
"""


@_q("script_mix_docs", _script_mix_sql())
def script_mix_docs(spark, sf_dir):
    """Per-document Unicode-script mix profile (``functions/text.py
    script_counts``): exact codepoint counts per script class over
    literal codepoint ranges (engine-version-independent, unlike
    ``\\p{{...}}`` properties), dominant script with a deterministic
    tie-break cascade, a mixed-script flag (the classic spam/injection
    signal), and the letter fraction.  Pure per-row Catalyst, zero
    shuffle; the counts are materialized behind one projection barrier
    so the five regexp passes run once each per row (the interpreted-
    HOF staging rule)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sc = TXT.script_counts(F.col("text"))
    c = d.select("doc_id", sc["n_cp"].alias("n_cp"),
                 *[sc[k].alias(f"n_{k}") for k in
                   ("latin", "digit", "cyr", "cjk", "space")])
    c = c.withColumn(
        "n_other",
        F.col("n_cp") - F.col("n_latin") - F.col("n_digit")
        - F.col("n_cyr") - F.col("n_cjk") - F.col("n_space"))
    nl, ncy, ncj, nd, no = (F.col("n_latin"), F.col("n_cyr"),
                            F.col("n_cjk"), F.col("n_digit"),
                            F.col("n_other"))
    dominant = (
        F.when((nl >= ncy) & (nl >= ncj) & (nl >= nd) & (nl >= no),
               "latin")
        .when((ncy >= ncj) & (ncy >= nd) & (ncy >= no), "cyr")
        .when((ncj >= nd) & (ncj >= no), "cjk")
        .when(nd >= no, "digit")
        .otherwise("other"))
    mixed = ((F.when(nl > 0, 1).otherwise(0)
              + F.when(ncy > 0, 1).otherwise(0)
              + F.when(ncj > 0, 1).otherwise(0)) >= 2).cast("int")
    frac = (F.when(F.col("n_cp") > 0,
                   F.round((nl + ncy + ncj).cast("double")
                           / F.col("n_cp").cast("double"), 6))
            .otherwise(F.lit(0.0)))
    return c.select("doc_id", "n_cp", "n_latin", "n_digit", "n_cyr",
                    "n_cjk", "n_space", "n_other",
                    dominant.alias("dominant"), mixed.alias("mixed"),
                    frac.alias("frac_letter"))


def _mmr_sql() -> str:
    from fs2_data_spark.operators.similarity import mmr_oracle_sql
    return mmr_oracle_sql(query_id=0, k=4, lam=0.7, round_dp=4)


@_q("mmr_select_emb", _mmr_sql())
def mmr_select_emb(spark, sf_dir):
    """Maximal-Marginal-Relevance greedy selection (``operators/
    similarity.py mmr_select``; Carbonell & Goldstein 1998): pick k=4
    embeddings relevant to the vec_id=0 anchor but diverse among
    themselves — the submodular-style greedy behind dedup-aware eval
    sets and diversity-constrained subset selection.  Each step is one
    broadcast of the single selected vector (no shuffle) + a
    TakeOrderedAndProject top-1; cosines round to 4 dp BEFORE every
    comparison and the argmax tie-breaks by id, so all four selection
    boundaries are exact comparisons the unrolled-CTE oracle replays."""
    from fs2_data_spark.operators.similarity import mmr_select
    emb = _t(spark, sf_dir, "embeddings")
    return mmr_select(emb, query_id=0, k=4, lam=0.7, round_dp=4)


def _temperature_mix_sql() -> str:
    from fs2_data_spark.operators.mixing import temperature_mix_oracle_sql
    return temperature_mix_oracle_sql(alpha=0.3, round_dp=6)


@_q("temperature_mix_docs", _temperature_mix_sql())
def temperature_mix_docs(spark, sf_dir):
    """Temperature-scaled source sampling shares (``operators/mixing.py
    temperature_mix``; the mBERT/XLM-R/mT5 multilingual mixing rule
    ``p_s ∝ (n_s/N)^alpha``, alpha=0.3): one map-side-combined
    aggregation to |sources| rows, then pure arithmetic — ``pow`` is
    the one libm call, rounded to 9 dp before the DECIMAL-accumulated
    normalizer so the final share divides engine-identical doubles."""
    from fs2_data_spark.operators.mixing import temperature_mix
    d = _t(spark, sf_dir, "documents").select("source", "text")
    return temperature_mix(d, alpha=0.3)


_QUALITY_SQL = f"""ROUND(((CASE WHEN n BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END)
     + (CASE WHEN (CASE WHEN n > 0 THEN CAST(nstop AS DOUBLE)/n ELSE 0.0 END) >= 0.01
             THEN 1.0 ELSE 0.0 END)
     + (CASE WHEN (CASE WHEN n > 0 THEN CAST(totlen AS DOUBLE)/n ELSE 0.0 END)
                  BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
     + (CASE WHEN n > 0 THEN CAST(ndist AS DOUBLE)/n ELSE 0.0 END)) / 4.0, 6)"""


@_q("budget_select_docs", f"""
WITH s0 AS (
  SELECT doc_id, len({_WS_SQL}) AS n,
         len(list_filter({_WS_SQL}, w -> w IN {_STOP_SQL})) AS nstop,
         list_sum(list_transform({_WS_SQL}, w -> CAST(length(w) AS BIGINT))) AS totlen,
         len(list_distinct({_WS_SQL})) AS ndist
  FROM documents),
s AS (SELECT doc_id, {_QUALITY_SQL} AS q, CAST(n AS BIGINT) AS n_tok FROM s0),
t AS (SELECT SUM(n_tok) AS tot FROM s),
c AS (SELECT doc_id, q, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY q DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tok
      FROM s)
SELECT doc_id, q, n_tok, cum_tok
FROM c CROSS JOIN t WHERE cum_tok * 5 <= t.tot * 2
""")
def budget_select_docs(spark, sf_dir):
    """Quality-first selection under a global token budget
    (``operators/mixing.py budget_select``): keep the (quality DESC,
    doc_id) prefix whose running token sum stays within 2/5 of the
    corpus total — the "best docs until the compute budget is spent"
    cut.  The boundary is exact integer arithmetic (cum*5 <= tot*2);
    the global running sum is the distributed range-partition +
    per-partition cumsum + broadcast-offset pattern (global_rank with
    SUM instead of COUNT), never a single-partition Window.orderBy."""
    from fs2_data_spark.operators.mixing import budget_select
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return budget_select(d, quality=TXT.quality_score("text"),
                         tokens=TXT.token_count("text"),
                         budget_num=2, budget_den=5)


def _label_prop_sql() -> str:
    from fs2_data_spark.operators.graph import label_propagation_oracle_sql
    edges = """d AS (SELECT user_id, event_type, epoch_us(ts) AS eus, event_id
           FROM events),
p0 AS (SELECT lag(event_type) OVER (PARTITION BY user_id
                                    ORDER BY eus, event_id) AS src,
              event_type AS dst
       FROM d),
e AS (SELECT src, dst, count(*) AS cnt FROM p0 WHERE src IS NOT NULL
      GROUP BY src, dst)"""
    seeds = """ow AS (SELECT src AS node, SUM(cnt) AS w FROM e GROUP BY src),
seeds AS (SELECT node, node AS label
          FROM (SELECT *, row_number() OVER (ORDER BY w DESC, node) AS rn
                FROM ow) WHERE rn <= 2)"""
    return label_propagation_oracle_sql(edges, seeds, iters=2)


@_q("label_prop_events", _label_prop_sql())
def label_prop_events(spark, sf_dir):
    """Semi-supervised label propagation (``operators/graph.py
    label_propagation``; Zhu & Ghahramani 2002, hard-label): the two
    highest-out-weight nodes of the event-transition graph seed their
    own names as labels, then two rounds of strongest-incoming-edge
    voting spread them — how a handful of audited domain labels cover a
    web-scale link graph.  Every vote is an exact integer weight sum
    with a (votes DESC, label) tie-break and seeds clamp via anti-join,
    so the unrolled-CTE oracle replays it with no float anywhere."""
    from pyspark.sql import Window as W
    from fs2_data_spark.operators.graph import label_propagation
    from fs2_data_spark.operators.sessionize import session_transitions
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts",
                                            "event_type")
    edges = (session_transitions(ev, key="user_id", ts="ts",
                                 tiebreak="event_id", state="event_type")
             .select(F.col("from_state").alias("src"),
                     F.col("to_state").alias("dst"), "cnt"))
    outw = edges.groupBy(F.col("src").alias("node")).agg(
        F.sum("cnt").alias("w"))
    rn = F.row_number().over(W.orderBy(F.col("w").desc(), F.col("node")))
    seeds = (outw.withColumn("rn", rn).filter(F.col("rn") <= 2)
             .select("node", F.col("node").alias("label")))
    return label_propagation(edges, seeds, iters=2)


@_q("mann_whitney_events", """
WITH pts AS (
  SELECT event_type, value AS v,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
             THEN 1 ELSE 0 END) AS cb,
         SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
             THEN 1 ELSE 0 END) AS cc
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
r AS (
  SELECT event_type, cb, cc, cb + cc AS t,
         COALESCE(SUM(cb + cc) OVER (PARTITION BY event_type ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS less
  FROM pts),
g AS (
  SELECT event_type,
         CAST(SUM(cb) AS BIGINT) AS n1, CAST(SUM(cc) AS BIGINT) AS n2,
         CAST(SUM(cb * (2 * less + t + 1)) AS BIGINT) AS r2,
         CAST(SUM(CAST(ROUND(CAST(t AS DOUBLE) * t * t - t, 9)
                       AS DECIMAL(38,12))) AS DOUBLE) AS ties,
         COUNT(*) AS nv
  FROM r GROUP BY 1)
SELECT event_type, n1 AS n_base, n2 AS n_cur,
       CAST(r2 - n1 * (n1 + 1) AS DOUBLE) / CAST(2.0 AS DOUBLE) AS u,
       ROUND((CAST(r2 - n1 * (n1 + 1) AS DOUBLE) / CAST(2.0 AS DOUBLE)
              - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                / CAST(2.0 AS DOUBLE))
             / SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    / CAST(12.0 AS DOUBLE)
                    * ((CAST(n1 + n2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
                       - ties / (CAST(n1 + n2 AS DOUBLE)
                                 * (CAST(n1 + n2 AS DOUBLE)
                                    - CAST(1.0 AS DOUBLE))))), 6) AS z
FROM g WHERE n1 > 0 AND n2 > 0 AND nv > 1
""")
def mann_whitney_events(spark, sf_dir):
    """Exact Mann-Whitney U / Wilcoxon rank-sum drift test per
    event_type between the first and second half of the stream
    (``operators/drift.py mann_whitney_u``): average ranks over exact
    tie counts carried as integral DOUBLED ranks, tie-corrected
    large-sample z.  The rank-based complement of ``ks_drift_events``
    (robust to outliers and monotone rescaling).  One scan -> exact
    (group, value, period) counts -> one group-partitioned window pass
    -> one group aggregate; key space bounded by distinct values."""
    from fs2_data_spark.operators.drift import mann_whitney_u
    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    return mann_whitney_u(ev, value="value", group="event_type", ts="ts",
                          split="2024-01-16 00:00:00")


@_q("chi2_keywords_docs", f"""
WITH wc AS (
  SELECT source AS g, w, CAST(COUNT(*) AS BIGINT) AS a
  FROM (SELECT source, unnest({_WS_SQL}) AS w FROM documents)
  GROUP BY 1, 2),
wt AS (SELECT w, SUM(a) AS gw FROM wc GROUP BY 1),
gt AS (SELECT g, SUM(a) AS st FROM wc GROUP BY 1),
nt AS (SELECT SUM(a) AS n FROM wc),
cells AS (
  SELECT wc.g, wc.w, wc.a, gt.st, wt.gw, nt.n,
         CAST(wc.a AS DOUBLE) AS ad,
         CAST(wt.gw - wc.a AS DOUBLE) AS bd,
         CAST(gt.st - wc.a AS DOUBLE) AS cd,
         CAST(nt.n - wt.gw - gt.st + wc.a AS DOUBLE) AS dd,
         CAST(nt.n AS DOUBLE) AS nd
  FROM wc JOIN wt USING (w) JOIN gt USING (g) CROSS JOIN nt),
sc AS (
  SELECT g, w, a,
         ROUND(nd * (ad * dd - bd * cd) * (ad * dd - bd * cd)
               / ((ad + bd) * (cd + dd) * (ad + cd) * (bd + dd)), 9)
           AS chi2
  FROM cells
  WHERE a >= 5 AND ad / CAST(st AS DOUBLE) > CAST(gw AS DOUBLE) / nd),
rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY g
           ORDER BY chi2 DESC, w) AS INTEGER) AS rank FROM sc)
SELECT g AS source, w AS word, a AS cnt, ROUND(chi2, 6) AS chi2, rank
FROM rk WHERE rank <= 5
""")
def chi2_keywords_docs(spark, sf_dir):
    """Top-5 chi-square keywords per source (``operators/quality.py
    chi2_keywords``; Yang & Pedersen 1997): the 2x2 word-vs-source
    contingency chi2 on exact bigint cell counts, positive associations
    only, min support 5, (chi2 desc, word) tie-broken ranks.  One scan
    -> (source, word) counts; per-word totals one vocab-sized equi-join;
    group/corpus totals broadcast; top-k window over vocab-sized input."""
    from fs2_data_spark.operators.quality import chi2_keywords
    d = _t(spark, sf_dir, "documents").select("source", "text")
    return chi2_keywords(d, text_col="text", group="source",
                         k=5, min_count=5)


@_q("triangle_events", """
WITH d AS (SELECT user_id, event_type, epoch_us(ts) AS eus, event_id
           FROM events),
p0 AS (SELECT lag(event_type) OVER (PARTITION BY user_id
                                    ORDER BY eus, event_id) AS src,
              event_type AS dst
       FROM d),
e0 AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       FROM p0 WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS dg
        FROM (SELECT a AS n FROM e0 UNION ALL SELECT b AS n FROM e0)
        GROUP BY 1),
o AS (SELECT CASE WHEN (da.dg, e0.a) < (db.dg, e0.b)
                  THEN e0.a ELSE e0.b END AS u,
             CASE WHEN (da.dg, e0.a) < (db.dg, e0.b)
                  THEN e0.b ELSE e0.a END AS v,
             CASE WHEN (da.dg, e0.a) < (db.dg, e0.b)
                  THEN db.dg ELSE da.dg END AS vd
      FROM e0 JOIN deg da ON da.n = e0.a JOIN deg db ON db.n = e0.b),
w AS (SELECT l.v AS x, r.v AS y FROM o l JOIN o r ON l.u = r.u
      WHERE (l.vd, l.v) < (r.vd, r.v)),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM w
      WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.x AND o.v = w.y)),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e0)
SELECT n_nodes, n_edges, n_triangles FROM nn CROSS JOIN ne CROSS JOIN t
""")
def triangle_events(spark, sf_dir):
    """Exact triangle count of the undirected event-type transition
    graph (``operators/graph.py triangle_count``; Schank & Wagner 2005
    compact-forward with degree-based orientation, the skew-proof
    O(E^1.5) wedge bound).  The tiny type graph is the determinism
    harness; the plan shape — degree agg, two degree joins, one wedge
    self-equi-join, one semi-join — is what runs on a web link graph."""
    from fs2_data_spark.operators.graph import triangle_count
    from fs2_data_spark.operators.sessionize import session_transitions
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts",
                                            "event_type")
    edges = (session_transitions(ev, key="user_id", ts="ts",
                                 tiebreak="event_id", state="event_type")
             .select(F.col("from_state").alias("src"),
                     F.col("to_state").alias("dst")))
    return triangle_count(edges)


@_q("autocorr_events", """
WITH st AS (SELECT event_type,
              CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s,
              CAST(COUNT(*) AS BIGINT) AS n
            FROM events WHERE value IS NOT NULL GROUP BY 1),
seq AS (SELECT e.event_type, e.value AS x,
               st.s / CAST(st.n AS DOUBLE) AS mu, st.n,
               lead(e.value, 1) OVER w AS l1,
               lead(e.value, 2) OVER w AS l2,
               lead(e.value, 3) OVER w AS l3
        FROM events e JOIN st USING (event_type)
        WHERE e.value IS NOT NULL
        WINDOW w AS (PARTITION BY e.event_type
                     ORDER BY epoch_us(e.ts), e.event_id)),
ex AS (
  SELECT event_type, n, CAST(1 AS INTEGER) AS lag, x, mu, l1 AS lx
  FROM seq
  UNION ALL
  SELECT event_type, n, CAST(2 AS INTEGER), x, mu, l2 FROM seq
  UNION ALL
  SELECT event_type, n, CAST(3 AS INTEGER), x, mu, l3 FROM seq),
g AS (SELECT event_type, n, lag,
        SUM(CAST(ROUND((x - mu) * (x - mu), 9) AS DECIMAL(38,12))) AS d,
        SUM(CASE WHEN lx IS NOT NULL
            THEN CAST(ROUND((x - mu) * (lx - mu), 9) AS DECIMAL(38,12))
            END) AS num,
        CAST(SUM(CASE WHEN lx IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_pairs
      FROM ex GROUP BY 1, 2, 3)
SELECT event_type, lag, n_pairs,
       ROUND(CAST(num AS DOUBLE) / CAST(d AS DOUBLE), 6) AS r
FROM g WHERE d > 0 AND n >= lag + 2
""")
def autocorr_events(spark, sf_dir):
    """Sample autocorrelation of value at lags 1..3 per event_type over
    event-time order (``operators/windows.py lag_autocorr``): the
    standard shared-denominator ACF estimator, NULLs dropped before the
    series forms.  ONE Exchange+Sort per key serves all three lags
    (shared window frame), then one aggregate over the unpivoted
    (key, lag) terms — no self-join, no global sort."""
    from fs2_data_spark.operators.windows import lag_autocorr
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type",
                                            "ts", "value")
    return lag_autocorr(ev, value="value", key="event_type", ts="ts",
                        tiebreak="event_id", max_lag=3)


@_q("heaps_curve_docs", f"""
WITH w AS (SELECT doc_id, unnest({_WS_SQL}) AS w FROM documents),
fo AS (SELECT w, MIN(doc_id) AS fd FROM w GROUP BY 1),
nw AS (SELECT fd AS doc_id, CAST(COUNT(*) AS BIGINT) AS new_words
       FROM fo GROUP BY 1),
nt AS (SELECT doc_id, CAST(len({_WS_SQL}) AS BIGINT) AS n_tok
       FROM documents),
c AS (SELECT nt.doc_id, nt.n_tok,
             COALESCE(nw.new_words, 0) AS new_words
      FROM nt LEFT JOIN nw USING (doc_id))
SELECT doc_id, n_tok, new_words,
       CAST(SUM(n_tok) OVER (ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok,
       CAST(SUM(new_words) OVER (ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab
FROM c
""")
def heaps_curve_docs(spark, sf_dir):
    """Heaps'-law vocabulary-growth curve over the corpus in doc_id
    order (``operators/quality.py heaps_curve``): per document, exact
    cumulative tokens and cumulative distinct vocabulary, via the
    first-occurrence trick (each word counts at its min doc_id, so the
    running distinct is a prefix sum of per-doc new-word counts — no
    running-distinct state).  Both prefix sums share one range
    partitioning with broadcast offsets; all columns exact bigints."""
    from fs2_data_spark.operators.quality import heaps_curve
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return heaps_curve(d, text_col="text", id_col="doc_id")


# ---------------------------------------------------------------------------
# Driver-window rotation (VERDICT r02 item #1; rotation policy r03 item #3)
# ---------------------------------------------------------------------------
# The driver's correctness harness checks only the FIRST 50 entries of
# ``queries()``.  Rather than a fixed front/tail split (whose tail would
# never regain a driver row), the registry is reordered every round from the
# recorded driver-check history: the flagship first, then queries that have
# never had a driver row, then queries whose implementation or oracle changed
# after their last row, then everything else stalest-first.  Stalest-first
# bounds every query's driver-row age at the tightest achievable revisit
# cycle, ceil(len(REGISTRY) / 50) rounds — 2 rounds up to 100 queries,
# 3 rounds at the current 101+ (pinned by tests/test_registry_order.py,
# which derives the bound from the registry size).

CURRENT_ROUND = 6

# Which registry entries each round's driver harness actually checked
# (the first 50 of that round's ordering; source: CORRECTNESS_r0N.json).
DRIVER_HISTORY: dict[int, list[str]] = {
    1: ["q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_forecast_revenue", "q4_order_priority", "top_customers_per_segment",
        "part_type_stats", "orders_by_status_priority", "w_lag_lead", "w_rolling",
        "w_rank", "locf_backfill", "sessionize_events", "session_stats",
        "asof_join_events", "asof_join_events_pandas", "asof_join_events_strict",
        "tokenize_docs", "tok_slice_docs", "tok_index_docs", "tok_stats_docs",
        "tok_fingerprint_docs", "tok_positions", "text_quality", "lang_guess",
        "doc_fingerprint", "dedup_exact", "minhash_signatures",
        "minhash_band_buckets", "simhash_docs", "jaccard_pairs", "ann_cosine_topk",
        "emb_label_stats", "pivot_status_by_priority", "rollup_order_totals",
        "cube_lineitem_counts", "intersect_repeat_customers",
        "anti_join_customers_no_orders", "semi_join_recent_suppliers",
        "distinct_stats_by_segment", "min_cost_supplier_per_part", "date_features",
        "string_features_parts", "math_features", "json_props_extract",
        "percentiles_by_type", "w_time_range_rolling", "session_window_native",
        "tok_bigram_shingles", "xml_roundtrip"],
    2: ["q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_forecast_revenue", "q4_order_priority", "top_customers_per_segment",
        "part_type_stats", "orders_by_status_priority", "w_lag_lead", "w_rolling",
        "w_rank", "locf_backfill", "sessionize_events", "session_stats",
        "asof_join_events", "asof_join_events_pandas", "asof_join_events_strict",
        "tokenize_docs", "tok_slice_docs", "tok_index_docs", "tok_stats_docs",
        "tok_fingerprint_docs", "tok_features_arrow_docs", "tok_positions",
        "text_quality", "lang_guess", "doc_fingerprint", "dedup_exact",
        "minhash_signatures", "minhash_band_buckets", "simhash_docs",
        "jaccard_pairs", "ann_cosine_topk", "ann_lsh_topk", "emb_near_dups",
        "multimodal_decode_smoke", "ann_ivf_topk", "emb_label_stats",
        "pivot_status_by_priority", "rollup_order_totals", "cube_lineitem_counts",
        "intersect_repeat_customers", "anti_join_customers_no_orders",
        "semi_join_recent_suppliers", "distinct_stats_by_segment",
        "min_cost_supplier_per_part", "date_features", "string_features_parts",
        "math_features", "json_props_extract"],
    3: ["pit_fused_events", "pit_fused_events_segmented",
        "salted_agg_supplier_volume", "jsonpath_descendant_docs",
        "jq_construct_docs", "xpath_attr_filter", "selector_mandatory_docs",
        "json_merge_patch_docs", "json_transform_docs", "xml_dom_docs",
        "xml_render_docs", "xml_roundtrip", "cbor_transcode_roundtrip",
        "percentiles_by_type", "w_time_range_rolling", "session_window_native",
        "tok_bigram_shingles", "streaming_session_smoke",
        "streaming_running_features_smoke", "wrap_object_docs",
        "msgpack_typed_decode", "json_tokenize_raw_docs", "xml_events_full_docs",
        "xml_raw_events_docs", "charset_roundtrip_docs", "tok_features_arrow_docs",
        "text_quality", "lang_guess", "doc_fingerprint", "dedup_exact",
        "minhash_signatures", "minhash_band_buckets", "simhash_docs",
        "jaccard_pairs", "ann_cosine_topk", "ann_lsh_topk", "emb_near_dups",
        "multimodal_decode_smoke", "ann_ivf_topk", "emb_label_stats",
        "pivot_status_by_priority", "rollup_order_totals", "cube_lineitem_counts",
        "intersect_repeat_customers", "anti_join_customers_no_orders",
        "semi_join_recent_suppliers", "distinct_stats_by_segment",
        "min_cost_supplier_per_part", "json_props_extract", "q1_pricing_summary"],
    4: ["pit_fused_events", "xpath_fast_texts",
        "csv_roundtrip_docs", "csv_decode_cells",
        "dup_token_spans", "tok_repetition_docs",
        "decontaminate_docs", "w_ewma_events",
        "json_pretty_docs", "xml_pretty_docs",
        "asof_join_events", "asof_join_events_pandas",
        "asof_join_events_strict", "streaming_session_smoke",
        "streaming_running_features_smoke", "cbor_transcode_roundtrip",
        "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_forecast_revenue", "q4_order_priority",
        "top_customers_per_segment", "part_type_stats",
        "orders_by_status_priority", "w_lag_lead",
        "w_rolling", "w_rank",
        "locf_backfill", "sessionize_events",
        "session_stats", "tokenize_docs",
        "tok_slice_docs", "tok_index_docs",
        "tok_stats_docs", "tok_fingerprint_docs",
        "tok_positions", "date_features",
        "string_features_parts", "math_features",
        "q1_pricing_summary", "tok_features_arrow_docs",
        "text_quality", "lang_guess",
        "doc_fingerprint", "dedup_exact",
        "minhash_signatures", "minhash_band_buckets",
        "simhash_docs", "jaccard_pairs",
        "ann_cosine_topk", "ann_lsh_topk"],
    5: ["pit_fused_events",
        "segment_dedup_docs",
        "emb_near_dups",
        "asof_join_events",
        "asof_join_events_pandas",
        "asof_join_events_strict",
        "ann_cosine_topk",
        "ann_lsh_topk",
        "streaming_running_features_smoke",
        "asof_join_events_forward",
        "asof_join_events_nearest",
        "asof_multi_events",
        "gapfill_locf_events",
        "gapfill_interp_events",
        "twa_events",
        "tok_entropy_docs",
        "bloom_prune_docs",
        "ohlc_events",
        "robust_scale_events",
        "equidepth_bins_events",
        "pit_robust_z_events",
        "seasonal_baseline_events",
        "interarrival_events",
        "psi_drift_events",
        "cusum_events",
        "kl_source_docs",
        "edit_pairs_docs",
        "skipgram_pairs_docs",
        "k_anonymity_events",
        "session_transitions_events",
        "trend_slope_events",
        "mi_features_events",
        "future_labels_events",
        "session_cooccurrence_events",
        "calibration_events",
        "ks_drift_events",
        "funnel_events",
        "cohort_retention_events",
        "kaplan_meier_events",
        "cramers_v_events",
        "conformal_events",
        "auc_events",
        "gini_sources_docs",
        "benford_docs",
        "pps_sample_docs",
        "qnorm_docs",
        "rrf_events",
        "posting_lists_docs",
        "grid_corr_events",
        "attribution_events"],
}

_FLAGSHIP = "pit_fused_events"


def _computed_force_front() -> list[str]:
    """Queries whose oracle SQL, query function, or referenced operator
    modules changed since the last round's end — COMPUTED from fingerprint
    drift against ``tools/registry_fingerprints.json`` (the snapshot of the
    driver's round-start tree), per VERDICT r05 #4: the hand-curated list
    missed oracle-changed rows two rounds running.  Regenerate the snapshot
    with ``python3 tools/fingerprint_registry.py --write`` as each round's
    final step."""
    import json
    import os
    snap = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "registry_fingerprints.json")
    try:
        with open(snap) as fh:
            old = json.load(fh)
    except OSError:
        return []
    try:
        # path-based load: must work regardless of the caller's cwd /
        # sys.path (the driver imports __spark_entry__ from anywhere)
        import importlib.util
        spec = importlib.util.spec_from_file_location(
            "fs2ds_fingerprint_registry",
            os.path.join(os.path.dirname(snap), "fingerprint_registry.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        cur = mod.current_fingerprints()
    except Exception:  # noqa: BLE001 — rotation must never break queries()
        return []
    return [n for n, fp in cur.items() if old.get(n) != fp]


# Queries whose implementation or oracle changed AFTER their last driver row
# — they need a fresh row this round regardless of staleness.  Computed from
# fingerprint drift; the manual supplement covers rows whose LAST driver row
# predates the snapshot (the snapshot can only witness changes since the
# previous round's end): ann_ivf_topk and multimodal_decode_smoke both have
# r3 ``no_oracle`` errs as their latest rows and were reworked in r5
# (canonical IVF build ffad90c; stdlib media tier ceab600) — the r5 rotation
# missed them (VERDICT r05 what's-missing #2).
FORCE_FRONT: list[str] = sorted(
    set(_computed_force_front())
    | {"ann_ivf_topk", "multimodal_decode_smoke",
       # driver-red in r5 (hash): re-prove after this round's fixes even
       # where the fingerprint window cannot see the r5-era change
       "streaming_running_features_smoke", "interarrival_events",
       # r6: quantile_bucket_map was rewritten (global_cumsum) but is
       # reached via an intra-module call the function-level fingerprint
       # cannot see (quantile_buckets -> quantile_bucket_map)
       "curriculum_buckets_docs"})

DRIVER_WINDOW = 50


def _apply_driver_order() -> None:
    last_row: dict[str, int] = {}
    for rnd, names in DRIVER_HISTORY.items():
        for n in names:
            if n in REGISTRY:
                last_row[n] = max(last_row.get(n, 0), rnd)
    reg_index = {n: i for i, n in enumerate(REGISTRY)}
    forced = set(FORCE_FRONT)

    def key(n: str):
        if n == _FLAGSHIP:
            tier = 0
        elif n in forced:
            tier = 1          # changed after last row (incl. known-red rows:
            #                   re-validating a past driver failure outranks
            #                   first-validation of new, mirror-green queries)
        elif last_row.get(n, 0) == 0:
            tier = 2          # never driver-checked
        else:
            tier = 3          # stalest-first
        return (tier, last_row.get(n, 0), reg_index[n])

    ordered = {n: REGISTRY[n] for n in sorted(REGISTRY, key=key)}
    assert len(ordered) == len(REGISTRY)
    REGISTRY.clear()
    REGISTRY.update(ordered)


def driver_last_row() -> dict[str, int]:
    """Round of the most recent driver CORRECTNESS row per query (0 = never);
    exported for the staleness-bound test."""
    last = {n: 0 for n in REGISTRY}
    for rnd, names in DRIVER_HISTORY.items():
        for n in names:
            if n in last:
                last[n] = max(last[n], rnd)
    return last


_apply_driver_order()
