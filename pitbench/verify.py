"""References outside the engine, and the comparisons against them.

Every check returns ``(name, ok, detail)``; the caller counts a failed check
toward ``failed`` and keeps going.

- point-in-time pipeline: a DuckDB ASOF JOIN (``>=``, so exact ties match),
  lag/lead ordered by ``(event_time, seq_no)`` and gap sessions, compared as
  per-key aggregates: integers exactly, ``feature_out`` sums with allclose;
- registry queries: the registry's own oracle SQL on DuckDB, compared with
  ``tools/oracle_check``'s order-insensitive multiset;
- format engines: a seeded document sample re-derived with ``json`` and
  ``xml.etree``.
"""

from __future__ import annotations

import json
import xml.etree.ElementTree as ET

import duckdb
import numpy as np

Check = tuple[str, bool, str]

# ---------------------------------------------------------------------------
# point-in-time pipeline
# ---------------------------------------------------------------------------

PIT_INT_COLS = ("n", "s_tok", "n_lag", "s_lag", "n_lead", "s_lead", "s_sess", "m_sess", "n_match")


def pit_reference(data_dir: str, gap_s: int) -> dict[str, tuple]:
    sql = f"""
    WITH j AS (
      SELECT s.doc_id, s.n_tok, s.event_time, s.seq_no, o.feature_vec
      FROM read_parquet('{data_dir}/sequences.parquet/*.parquet') s
      ASOF LEFT JOIN read_parquet('{data_dir}/observations.parquet/*.parquet') o
        ON s.doc_id = o.doc_id AND s.event_time >= o.obs_time),
    w AS (
      SELECT *, lag(n_tok) OVER k AS lag1, lead(n_tok) OVER k AS lead1,
             CASE WHEN lag(event_time) OVER k IS NULL
                    OR epoch_us(event_time) - epoch_us(lag(event_time) OVER k) > {gap_s * 1_000_000}
                  THEN 1 ELSE 0 END AS flag
      FROM j WINDOW k AS (PARTITION BY doc_id ORDER BY event_time, seq_no)),
    g AS (
      SELECT *, sum(flag) OVER (PARTITION BY doc_id ORDER BY event_time, seq_no
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM w)
    SELECT doc_id, count(*), sum(n_tok), count(lag1), sum(lag1), count(lead1), sum(lead1),
           sum(sess), max(sess), count(feature_vec),
           sum(n_tok * coalesce(list_sum(feature_vec), 0.0))
    FROM g GROUP BY doc_id
    """
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        return {r[0]: tuple(r[1:]) for r in con.sql(sql).fetchall()}
    finally:
        con.close()


def pit_engine_aggregates(df) -> dict[str, tuple]:
    """The same per-key aggregates over the engine's pipeline output."""
    from pyspark.sql import functions as F

    rows = df.groupBy("doc_id").agg(
        F.count(F.lit(1)), F.sum("n_tok"), F.count("lag1_n_tok"), F.sum("lag1_n_tok"),
        F.count("lead1_n_tok"), F.sum("lead1_n_tok"), F.sum("session_seq"),
        F.max("session_seq"), F.count("feature_vec"),
        F.sum(F.aggregate("feature_out", F.lit(0.0), lambda a, x: a + x)),
    ).collect()
    return {r[0]: tuple(r[1:]) for r in rows}


def compare_pit(name: str, got: dict, want: dict) -> Check:
    if set(got) != set(want):
        return name, False, f"keys differ: {len(set(got) ^ set(want))} keys in one side only"
    keys = sorted(want)
    g = np.array([[v or 0 for v in got[k][:-1]] for k in keys], dtype=np.int64)
    w = np.array([[v or 0 for v in want[k][:-1]] for k in keys], dtype=np.int64)
    bad = np.flatnonzero((g != w).any(axis=1))
    if len(bad):
        k = keys[bad[0]]
        return name, False, (f"{len(bad)} keys differ, first {k}: engine {got[k]} "
                             f"vs reference {want[k]} ({', '.join(PIT_INT_COLS)}, s_feat)")
    gf = np.array([got[k][-1] or 0.0 for k in keys])
    wf = np.array([want[k][-1] or 0.0 for k in keys])
    if not np.allclose(gf, wf, rtol=1e-9, atol=1e-9):
        i = int(np.argmax(np.abs(gf - wf)))
        return name, False, f"feature_out sum differs at {keys[i]}: {gf[i]} vs {wf[i]}"
    return name, True, f"{len(keys)} keys, {int(g[:, 0].sum())} rows"


# ---------------------------------------------------------------------------
# registry queries
# ---------------------------------------------------------------------------

def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    return list(rel.columns), rel.fetchall()


def compare_query(name: str, scols, srows, dcols, drows) -> Check:
    from tools.oracle_check import rows_to_multiset

    if sorted(scols) != sorted(dcols):
        return name, False, f"columns {sorted(scols)} vs oracle {sorted(dcols)}"
    if len(srows) != len(drows):
        return name, False, f"{len(srows)} rows vs oracle {len(drows)}"
    a, b = rows_to_multiset(scols, srows), rows_to_multiset(dcols, drows)
    if a != b:
        diff = next(((x, y) for x, y in zip(a, b) if x != y), ("", ""))
        return name, False, f"values differ: engine {diff[0][:120]!r} oracle {diff[1][:120]!r}"
    return name, True, f"{len(srows)} rows"


def oracle_connection(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    return con


# ---------------------------------------------------------------------------
# format engines (stdlib references over a document sample)
# ---------------------------------------------------------------------------

def _key_matches(v, key: str, out: list) -> list:
    """Values under ``key`` anywhere below ``v``, in document preorder."""
    if isinstance(v, dict):
        for k, c in v.items():
            if k == key:
                out.append(c)
            _key_matches(c, key, out)
    elif isinstance(v, list):
        for c in v:
            _key_matches(c, key, out)
    return out


def _item_or_other(el) -> bool:
    return ((el.tag == "item" and el.get("cls") == "x")
            or (el.tag == "other" and "cls" in el.attrib))


def engine_reference(engine: str, doc: dict) -> list:
    """Expected output values of one engine run for one corpus document,
    in match order (parsed JSON values or strings)."""
    js = json.loads(doc["js"])
    if engine == "engine_jsonpath_descendant":
        return _key_matches(js, "b", [])
    if engine == "engine_jsonpath_prefixed":
        return _key_matches(js["a"], "b", [])
    if engine == "engine_jq_construct":
        return [{"lang": js["f2"], "tok": t, "missing": None} for t in js["f3"]]
    if engine == "engine_selector":
        return [js["a"]["b"], js["a"]["c"]]
    root = ET.fromstring(doc["xml"])
    if engine == "engine_xpath_filter":
        return ["".join(t.strip() for t in el.itertext()) for el in root.iter() if _item_or_other(el)]
    if engine == "engine_xpath_fast":
        return [el.text for el in root.findall("item") if el.get("cls") == "x"]
    if engine in ("engine_cbor_to_json", "engine_pretty_json"):
        return [js]
    raise KeyError(engine)


def compare_engine(name: str, got: dict[int, list], docs: dict[int, dict]) -> Check:
    """``got``: doc_id -> output values in match order, already parsed the
    way :func:`engine_reference` returns them."""
    for doc_id, doc in sorted(docs.items()):
        want = engine_reference(name, doc)
        if got.get(doc_id, []) != want:
            return name, False, f"doc {doc_id}: engine {got.get(doc_id)!r:.160} vs {want!r:.160}"
    return name, True, f"{len(docs)} sampled docs"
