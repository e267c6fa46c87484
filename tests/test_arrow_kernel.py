"""``functions/arrow_kernel.run_kernel`` and the kernels that run on it:
ids pass through with their own Spark type and value (the byte / short /
int / long / decimal / string matrix of PySpark's own pandas-UDF suite,
plus a NULL id and empty/NULL text), astral-plane text matches the
``functions/text`` Catalyst references, overflow raises where Catalyst
raises, and a NULL embedding projects to NULL."""

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from fs2_data_spark.functions import text as TXT
from fs2_data_spark.functions.textkernels import (
    shingle_minhash_kernel,
    shingles_kernel,
    simhash_kernel,
    token_spans_kernel,
    winnow_fp_kernel,
    word_code_minhash_kernel,
)
from fs2_data_spark.operators.dedup import jaccard_lsh_pairs, segment_dedup
from fs2_data_spark.operators.linkage import blocked_edit_pairs
from fs2_data_spark.operators.projection import jl_project

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
