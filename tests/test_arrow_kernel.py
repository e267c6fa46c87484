"""``functions/arrow_kernel`` and the kernels and engines that run on it:
ids pass through with their own Spark type and value (the byte / short /
int / long / decimal / string matrix of PySpark's own pandas-UDF suite,
plus a NULL id and empty/NULL text), astral-plane text matches the
``functions/text`` Catalyst references, overflow raises where Catalyst
raises, and a NULL embedding projects to NULL.  The per-document format
engines (``run_rows``) keep passthrough columns exact, key XML rows by
Spark's string cast, and follow one NULL-document rule; only this module
and a few named sites build their own ``mapInPandas``/``mapInArrow``."""

import math
import re
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from fs2_data_spark.functions import jsonq, render, selector, xpath
from fs2_data_spark.functions import text as TXT
from fs2_data_spark.functions.textkernels import (
    shingle_minhash_kernel,
    shingles_kernel,
    simhash_kernel,
    token_spans_kernel,
    winnow_fp_kernel,
    word_code_minhash_kernel,
)
from fs2_data_spark.operators import multimodal
from fs2_data_spark.operators.dedup import jaccard_lsh_pairs, segment_dedup
from fs2_data_spark.operators.linkage import blocked_edit_pairs
from fs2_data_spark.operators.projection import jl_project
from fs2_data_spark.sources import binary_codecs as bc
from fs2_data_spark.sources import charsets, xmlsrc

_ID_TYPES = {
    "tinyint": [1, 2, 3, 4, 5],
    "smallint": [1001, 1002, 1003, 1004, 1005],
    "int": [2**20 + i for i in range(1, 6)],
    "bigint": [2**40 + i for i in range(1, 6)],
    # above the long range: a cast to long would turn these NULL
    "decimal(20,0)": [Decimal(10**19 + i) for i in range(1, 6)],
    "string": [f"doc-{i}" for i in range(1, 6)],
}

_BANK = "the quick brown fox jumps over the lazy dog near the river bank"
_BEND = "the quick brown fox jumps over the lazy dog near the river bend"
_OTHER = "completely different words appear inside this third document here"


def _docs(spark, idt):
    v = _ID_TYPES[idt]
    rows = [(v[0], _BANK), (v[1], _BEND), (v[2], _OTHER), (v[3], ""),
            (v[4], None), (None, _BANK)]
    return spark.createDataFrame(rows, f"doc_id {idt}, text string"), v


@pytest.mark.parametrize("idt", list(_ID_TYPES))
def test_ids_pass_through_one_to_one_kernel(spark, idt):
    d, v = _docs(spark, idt)
    out = simhash_kernel(d, "doc_id", "text")
    assert out.schema["doc_id"].dataType == d.schema["doc_id"].dataType
    got = sorted((r.doc_id for r in out.collect()), key=str)
    assert got == sorted(v + [None], key=str)


@pytest.mark.parametrize("idt", list(_ID_TYPES))
def test_ids_pass_through_one_to_many_kernel(spark, idt):
    d, v = _docs(spark, idt)
    out = token_spans_kernel(d, "doc_id", "text", k=8)
    assert out.schema["doc_id"].dataType == d.schema["doc_id"].dataType
    per_doc = {}
    for r in out.collect():
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
    # 13 / 13 / 9 / 0 / 0 / 13 words -> 6 / 6 / 2 windows of 8 tokens
    assert per_doc == {v[0]: 6, v[1]: 6, v[2]: 2, None: 6}


@pytest.mark.parametrize("idt", list(_ID_TYPES))
def test_ids_pass_through_jaccard_lsh_pairs(spark, idt):
    d, v = _docs(spark, idt)
    out = jaccard_lsh_pairs(d, threshold=0.5)
    assert out.schema["id1"].dataType == d.schema["doc_id"].dataType
    assert out.schema["id2"].dataType == d.schema["doc_id"].dataType
    # 11 shingles each, 10 shared: 10/12; the NULL id pairs with nobody
    assert [(r.id1, r.id2, r.jaccard) for r in out.collect()] == \
        [(v[0], v[1], round(10 / 12, 6))]


@pytest.mark.parametrize("idt", list(_ID_TYPES))
def test_ids_pass_through_segment_dedup(spark, idt):
    d, v = _docs(spark, idt)
    out = segment_dedup(d, seg_words=4)
    assert out.schema["doc_id"].dataType == d.schema["doc_id"].dataType
    got = {r.doc_id: (r.n_seg, r.n_kept) for r in out.collect()}
    assert {i: n for i, (n, _) in got.items()} == {
        v[0]: 4, v[1]: 4, v[2]: 3, v[3]: 0, v[4]: None, None: 4}
    # doc 2 keeps only its last segment; the others are doc 1's
    assert got[v[1]][1] == 1 and got[v[2]][1] == 3


@pytest.mark.parametrize("idt", list(_ID_TYPES))
def test_ids_pass_through_blocked_edit_pairs(spark, idt):
    d, v = _docs(spark, idt)
    out = blocked_edit_pairs(d, prefix_len=8, max_dist=4)
    assert out.schema["id_a"].dataType == d.schema["doc_id"].dataType
    assert out.schema["id_b"].dataType == d.schema["doc_id"].dataType
    assert [(r.id_a, r.id_b, r.lev) for r in out.collect()] == \
        [(v[0], v[1], 2)]


def test_blocked_edit_pairs_keeps_string_ids(spark):
    d = spark.createDataFrame(
        [("uuid-a", "record linkage over noisy names"),
         ("uuid-b", "record linkage over noisy nemes")],
        "doc_id string, text string")
    got = blocked_edit_pairs(d, prefix_len=6, max_dist=3).collect()
    assert [(r.id_a, r.id_b, r.lev) for r in got] == [("uuid-a", "uuid-b", 1)]


_ASTRAL = [
    (1, "a😀b x😀 y𐍈 a😀b x😀 y𐍈 tail 😀"),
    (2, "a😀b x😀 y𐍈 a😀b x😀 y𐍈 tail 😀 more"),
    (3, "plain ascii words only here"),
    (4, "𐍈"),
]


def _astral(spark):
    return spark.createDataFrame(_ASTRAL, "doc_id bigint, text string")


def test_astral_shingle_minhash_matches_catalyst(spark):
    d = _astral(spark)
    got = {r.doc_id: (sorted(r.sh), [r[f"mh{i}"] for i in range(8)])
           for r in shingle_minhash_kernel(d, "doc_id", "text").collect()}
    ref = d.select("doc_id", F.array_sort(F.array_distinct(
        TXT.shingle_hashes("text"))).alias("sh"),
        *TXT.minhash_signature_shingles("text", k=8))
    want = {r.doc_id: (list(r.sh), [r[f"mh{i}"] for i in range(8)])
            for r in ref.collect()}
    assert got == want


def test_astral_jaccard_lsh_pairs_matches_catalyst(spark):
    d = _astral(spark)
    sets = {r.doc_id: set(r.sh) for r in
            d.select("doc_id", TXT.shingle_hashes("text").alias("sh"))
            .collect()}
    want = set()
    for i in sets:
        for j in sets:
            if i < j and sets[i] | sets[j]:
                jac = len(sets[i] & sets[j]) / len(sets[i] | sets[j])
                if jac >= 0.3:
                    want.add((i, j, round(jac, 6)))
    got = {(r.id1, r.id2, r.jaccard) for r in jaccard_lsh_pairs(d).collect()}
    assert got == want and want


def test_astral_winnow_and_shingles_match_catalyst(spark):
    d = _astral(spark)
    fp = {r.doc_id: list(r.fp) for r in
          winnow_fp_kernel(d, "doc_id", "text").collect()}
    fp_ref = {r.doc_id: list(r.fp) for r in d.select(
        "doc_id", TXT.winnow_fingerprints("text").alias("fp")).collect()}
    assert fp == fp_ref
    sh = {r.doc_id: sorted(r.sh) for r in
          shingles_kernel(d, "text", ["doc_id"]).collect()}
    sh_ref = {r.doc_id: sorted(set(r.sh)) for r in d.select(
        "doc_id", TXT.shingle_hashes("text").alias("sh")).collect()}
    assert sh == sh_ref


def test_astral_simhash_and_word_code_minhash_match_catalyst(spark):
    # astral codepoints inside words that start below U+CF1B: no overflow
    # on either side
    d = spark.createDataFrame(
        [(1, "a😀b x😀 y𐍈"), (2, "a😀b x😀 y𐍈 z😀😀 plain"), (3, "")],
        "doc_id bigint, text string")
    got = {r.doc_id: r.sh for r in simhash_kernel(d, "doc_id", "text")
           .collect()}
    want = {r.doc_id: r.sh for r in d.select(
        "doc_id", TXT.simhash("text").alias("sh")).collect()}
    assert got == want
    got = {tuple(r) for r in word_code_minhash_kernel(d, "doc_id", "text")
           .collect()}
    want = {tuple(r) for r in d.select(
        "doc_id", *TXT.minhash_signature("text")).collect()}
    assert got == want


def test_simhash_overflow_raises_like_catalyst(spark):
    # U+D7A3 * 65536 * 2654435761 leaves bigint: ANSI Catalyst raises
    # ARITHMETIC_OVERFLOW, so the kernel must not return a wrapped value
    d = spark.createDataFrame([(1, "힣ab")], "doc_id bigint, text string")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        d.select(TXT.simhash("text")).collect()
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        simhash_kernel(d, "doc_id", "text").collect()


def test_jl_project_null_embedding_is_null(spark):
    # the +/- chain (and jl_chain_sql in DuckDB) is NULL for a NULL or
    # empty vector, not the 0.0 a zero-filled row would project to
    e = spark.createDataFrame(
        [(1, [0.5, -1.0, 2.0, 0.25]), (2, None), (3, [])],
        "vec_id bigint, embedding array<float>")
    got = {r.vec_id: (r.jl_0, r.jl_1) for r in
           jl_project(e, dim=4, out_dim=2).collect()}
    assert got[2] == (None, None) and got[3] == (None, None)
    assert got[1][0] is not None


# ---------------------------------------------------------------------------
# per-document format engines (run_rows)
# ---------------------------------------------------------------------------

def _engine(name):
    """name -> (fn(df, mode), one-to-one output columns or None for an
    exploding engine, whether the engine has strict/attempt modes)."""
    return {
        "select_path_all": (lambda d, m: jsonq.select_path_all(
            d, "js", "$..b", mode=m), None, True),
        "jq_run": (lambda d, m: jsonq.jq_run(d, "js", ".b", mode=m),
                   None, True),
        "apply_selector": (lambda d, m: selector.apply_selector(
            d, "js", ".b", mode=m), None, True),
        "apply_selector_wrapped": (lambda d, m: selector.apply_selector_wrapped(
            d, "js", ".b", mode=m), ["filtered"], True),
        "json_tokenize": (lambda d, m: jsonq.json_tokenize(d, "js", mode=m),
                          None, True),
        "json_merge_patch": (lambda d, m: jsonq.json_merge_patch(
            d, "js", "js", mode=m), ["merged"], True),
        "json_transform": (lambda d, m: jsonq.json_transform(
            d, "js", "$..b", lambda v: v, mode=m), ["transformed"], True),
        "render_json_pretty": (lambda d, m: jsonq.render_json_pretty(d, "js"),
                               ["pretty"], False),
        "pretty_json": (lambda d, m: render.pretty_json(d, "js", mode=m),
                        ["pretty", "ok"], True),
        "pretty_xml": (lambda d, m: render.pretty_xml(d, "xml", mode=m),
                       ["pretty", "ok"], True),
        "decode_text": (lambda d, m: charsets.decode_text(
            d, "cbor", charset="latin9", mode=m), ["text", "ok"], True),
        "transcode_cbor_to_json": (lambda d, m: bc.transcode_cbor_to_json(
            d, "cbor", mode=m), ["json", "ok"], True),
        "transcode_json_to_cbor": (lambda d, m: bc.transcode_json_to_cbor(
            d, "js", out_col="enc", mode=m), ["enc", "ok"], True),
        "decode_image": (lambda d, m: multimodal.decode_image(
            d, "cbor", fake=True), ["features"], False),
        "xml_events": (lambda d, m: xmlsrc.xml_events(d, "xml", "id", mode=m),
                       None, True),
        "xml_events_raw": (lambda d, m: xmlsrc.xml_events_raw(
            d, "xml", "id", mode=m), None, True),
        "xpath_filter": (lambda d, m: xpath.xpath_filter(
            d, "xml", "//a", key_col="id", mode=m), None, True),
        "xml_dom": (lambda d, m: xmlsrc.xml_dom(d, "xml", "id", mode=m),
                    ["dom"], True),
    }[name]


_DOC_SCHEMA = "js string, xml string, cbor binary"


def _doc():
    return ('{"b": 1}', "<r><a>x</a></r>", bc.cbor_encode({"b": 1}))


_PASS = ("id", "x", "d", "s")


def _canon(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


@pytest.mark.parametrize("name", [
    "select_path_all", "jq_run", "apply_selector", "apply_selector_wrapped",
    "json_tokenize", "json_merge_patch", "json_transform",
    "render_json_pretty", "pretty_json", "decode_text",
    "transcode_cbor_to_json", "decode_image"])
def test_engine_passthrough_columns_exact(spark, name):
    # one batch: a pandas round trip turns the bigint column to float64
    # when a NULL shares the batch (2^53+1 -> 2^53) and NaN to NULL
    rows = [(2**53 + 1, float("nan"), Decimal(10**19 + 1), "a", *_doc()),
            (None, 1.5, None, None, *_doc()),
            (7, None, Decimal(5), "", *_doc())]
    d = spark.createDataFrame(
        rows, "id bigint, x double, d decimal(20,0), s string, "
        + _DOC_SCHEMA).coalesce(1)
    fn, _outs, _modal = _engine(name)
    out = fn(d, "attempt")
    for c in _PASS:
        assert out.schema[c].dataType == d.schema[c].dataType, c
    got = {tuple(_canon(r[c]) for c in _PASS) for r in out.collect()}
    assert got == {tuple(_canon(v) for v in r[:4]) for r in rows}


@pytest.mark.parametrize("name", ["xml_events", "xml_events_raw",
                                  "xpath_filter", "xml_dom"])
@pytest.mark.parametrize("key_type", ["bigint", "string"])
def test_xml_key_is_spark_string_cast(spark, name, key_type):
    keys = [1, None, 2**53 + 1] if key_type == "bigint" else ["k1", None]
    d = spark.createDataFrame(
        [(k, "<r><a>x</a></r>") for k in keys],
        f"id {key_type}, xml string").coalesce(1)
    fn, _outs, _modal = _engine(name)
    out = fn(d, "strict")
    key = "id" if name == "xml_dom" else "doc_key"
    assert out.schema[key].dataType.simpleString() == "string"
    assert {r[key] for r in out.collect()} == \
        {None if k is None else str(k) for k in keys}


_ENGINES = ["select_path_all", "jq_run", "apply_selector",
            "apply_selector_wrapped", "json_tokenize", "json_merge_patch",
            "json_transform", "render_json_pretty", "pretty_json",
            "pretty_xml", "decode_text", "transcode_cbor_to_json",
            "transcode_json_to_cbor", "decode_image", "xml_events",
            "xml_events_raw", "xpath_filter", "xml_dom"]


@pytest.mark.parametrize("mode", ["strict", "attempt"])
@pytest.mark.parametrize("name", _ENGINES)
def test_null_document_rule(spark, name, mode):
    """A NULL document gives NULL outputs (ok = true) for a one-to-one
    engine and no rows for an exploding one, in both modes."""
    fn, outs, modal = _engine(name)
    if mode == "attempt" and not modal:
        pytest.skip("engine has no attempt mode")
    d = spark.createDataFrame([(1, *_doc()), (2, None, None, None)],
                              "id bigint, " + _DOC_SCHEMA)
    got = fn(d, mode).collect()
    key = "doc_key" if name in ("xml_events", "xml_events_raw",
                                "xpath_filter") else "id"
    null_rows = [r for r in got if str(r[key]) == "2"]
    if outs is None:
        assert null_rows == []
        assert got, "the valid document must still emit rows"
    else:
        assert len(null_rows) == 1
        assert [null_rows[0][c] for c in outs] == \
            [True if c == "ok" else None for c in outs]


def test_python_map_calls_only_in_the_runtime():
    """``.mapInPandas(`` / ``.mapInArrow(`` appear only in the runtime and
    the sites it does not cover: BPE's in-place column rewrite, the MMR
    update gate, the table generator and the CSV header writer."""
    root = Path(__file__).resolve().parent.parent / "fs2_data_spark"
    allowed = {"functions/arrow_kernel.py", "operators/bpe.py",
               "functions/veckernels.py", "tables.py", "sources/csvsrc.py"}
    call = re.compile(r"\.mapIn(Pandas|Arrow)\(")
    found = [f"{p.relative_to(root)}:{i}"
             for p in sorted(root.rglob("*.py"))
             for i, line in enumerate(p.read_text().splitlines(), 1)
             if call.search(line)]
    assert [f for f in found if f.rsplit(":", 1)[0] not in allowed] == []
