"""Seeded input generators for the benchmark workloads.

Everything here is numpy/pyarrow: the engine never generates its own
benchmark input, it only reads the parquet written here. Each generator is a
pure function of ``(seed, size)``; :func:`fingerprint` hashes the generated
columns so the benchmark can prove that the same seed gives the same input.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB_SIZE = 50257  # token id range of the input_hint table
SOURCES = np.array(["web", "books", "code", "wiki"])
FEATURE_DIM = 8
BASE_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
N_FILES = 4  # files per table: scan parallelism never rests on one file


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so resizing one table leaves the
    # others unchanged
    tag = int.from_bytes(hashlib.blake2b(stream.encode(), digest_size=4).digest(), "big")
    return np.random.default_rng([seed, tag])


def fingerprint(tables: dict[str, pa.Table]) -> str:
    """Content hash over every column of every table, in name order."""
    h = hashlib.blake2b(digest_size=12)
    for name in sorted(tables):
        t = tables[name]
        h.update(f"{name}:{t.num_rows}:{t.schema}".encode())
        for col in t.columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(memoryview(buf))
    return h.hexdigest()


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Each table becomes ``out_dir/<name>.parquet/part-<i>.parquet``."""
    for name, t in tables.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        step = -(-t.num_rows // N_FILES)
        for i in range(N_FILES):
            pq.write_table(t.slice(i * step, step), os.path.join(d, f"part-{i:05d}.parquet"),
                           row_group_size=max(step // 4, 1))


# ---------------------------------------------------------------------------
# Point-in-time payload: tables.token_sequences_fast / observations schemas
# ---------------------------------------------------------------------------

def _doc_ids(idx: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise("doc_", pa.array(idx).cast(pa.string()), "")


def pit_tables(seed: int, n_seq: int, hot_share: float, max_len: int = 64
               ) -> dict[str, pa.Table]:
    """Sequences ``(doc_id, tokens, n_tok, source, event_time, seq_no)`` and
    observations ``(doc_id, obs_time, feature_vec, obs_source)``.

    ``hot_share`` of all sequences (and of all observations) belong to
    ``doc_0``; the rest are uniform over ``n_seq // 8`` doc ids, so with
    ``hot_share=0`` no key holds more than a few dozen rows. Event times are
    non-decreasing in ``seq_no`` with about 5% exact duplicates (ties broken
    by ``seq_no``); half the observations sit exactly on an event time of
    their doc (``<=`` as-of matches must include them); doc ids ``== 4 mod 5``
    never get an observation (no-match rows).
    """
    rng = _rng(seed, "pit")
    n_docs = max(n_seq // 8, 2)
    hot = rng.random(n_seq) < hot_share
    doc = np.where(hot, 0, rng.integers(1, n_docs, n_seq))
    gaps = np.where(rng.random(n_seq) < 0.05, 0, rng.exponential(60.0, n_seq).astype(np.int64) + 1)
    event_us = BASE_US + np.cumsum(gaps) * 1_000_000
    n_tok = rng.integers(1, max_len + 1, n_seq).astype(np.int32)
    offsets = np.zeros(n_seq + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(rng.integers(0, VOCAB_SIZE, int(offsets[-1]), dtype=np.int32)))
    ts = pa.timestamp("us", tz="UTC")
    seqs = pa.table({
        "doc_id": _doc_ids(doc),
        "tokens": tokens,
        "n_tok": pa.array(n_tok),
        "source": pa.array(SOURCES[rng.integers(0, len(SOURCES), n_seq)]),
        "event_time": pa.array(event_us, type=ts),
        "seq_no": pa.array(np.arange(n_seq, dtype=np.int64)),
    })
    if not np.array_equal(np.diff(offsets), pc.list_value_length(tokens).to_numpy()):
        raise AssertionError("generator broke n_tok == size(tokens)")

    # observations: half on an existing event time of the same doc (exact
    # as-of ties), half at uniformly random times; (doc, obs_time) unique
    n_obs = max(n_seq // 4, 1)
    pick = rng.integers(0, n_seq, n_obs)
    on_event = rng.random(n_obs) < 0.5
    obs_doc = np.where(on_event, doc[pick],
                       np.where(rng.random(n_obs) < hot_share, 0, rng.integers(1, n_docs, n_obs)))
    obs_us = np.where(on_event, event_us[pick],
                      rng.integers(BASE_US, int(event_us[-1]) + 1, n_obs) // 1_000_000 * 1_000_000)
    keep = obs_doc % 5 != 4
    pairs = np.unique(np.stack([obs_doc[keep], obs_us[keep]]), axis=1)
    n_obs = pairs.shape[1]
    order = rng.permutation(n_obs)  # observation files arrive unsorted
    obs_doc, obs_us = pairs[0][order], pairs[1][order]
    fvec = np.round(rng.random((n_obs, FEATURE_DIM)), 6)
    obs = pa.table({
        "doc_id": _doc_ids(obs_doc),
        "obs_time": pa.array(obs_us, type=ts),
        "feature_vec": pa.FixedSizeListArray.from_arrays(
            pa.array(fvec.ravel()), FEATURE_DIM).cast(pa.list_(pa.float64())),
        "obs_source": pa.array(SOURCES[rng.integers(0, len(SOURCES), n_obs)]),
    })
    return {"sequences": seqs, "observations": obs}


# ---------------------------------------------------------------------------
# Registry tables: the lineitem/events/documents/embeddings schemas the
# registry queries read (``{sf_dir}/{name}.parquet``)
# ---------------------------------------------------------------------------

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
LANGS = np.array(["en", "de", "fr", "es", "zh"])
WORDS = np.array("spark window merge table column vector stream value data small join "
                 "filter big group hash customer sort order slow line part fast row the "
                 "agg key query a scan batch".split())
_NAIVE_US = pa.timestamp("us")  # naive timestamps, as the driver tables have


def events_table(seed: int, n: int, n_users: int) -> pa.Table:
    rng = _rng(seed, "events")
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.choice(span_us, n, replace=False)) + BASE_US
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=_NAIVE_US),
        "user_id": pa.array(rng.integers(0, n_users, n)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.gamma(2.0, 30.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def lineitem_table(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "lineitem")
    flags = np.array([("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")])
    fl = flags[rng.integers(0, len(flags), n)]
    day0 = np.datetime64("1995-01-02", "D")
    ship = (day0 + rng.integers(0, 2498, n).astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(1, n // 4 + 2, n)),
        "l_partkey": pa.array(rng.integers(1, 20_001, n)),
        "l_suppkey": pa.array(rng.integers(1, 1_001, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(fl[:, 0]),
        "l_linestatus": pa.array(fl[:, 1]),
        "l_shipdate": pa.array(ship, type=_NAIVE_US),
    })


def documents_table(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "documents")
    lens = rng.integers(10, 101, n)
    words = WORDS[rng.integers(0, len(WORDS), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    for i in np.flatnonzero(rng.random(n) < 0.01):  # near-duplicate documents
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(seed: int, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    rng = _rng(seed, "embeddings")
    label = rng.integers(0, n_labels, n)
    centers = rng.normal(size=(n_labels, dim))
    v = centers[label] + 2.0 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


# ---------------------------------------------------------------------------
# Format-engine corpus: nested JSON, attribute-bearing XML and CBOR per doc
# ---------------------------------------------------------------------------

def cbor_encode(v) -> bytes:
    """Minimal RFC 8949 encoder for the JSON data model (ints, strings,
    lists, dicts, bool, null, float) — independent of the engine's codec."""
    def head(major: int, n: int) -> bytes:
        if n < 24:
            return bytes([major << 5 | n])
        for info, width in ((24, 1), (25, 2), (26, 4), (27, 8)):
            if n < 1 << (8 * width):
                return bytes([major << 5 | info]) + n.to_bytes(width, "big")
        raise ValueError(n)

    if v is None:
        return b"\xf6"
    if isinstance(v, bool):
        return b"\xf5" if v else b"\xf4"
    if isinstance(v, int):
        return head(0, v) if v >= 0 else head(1, -1 - v)
    if isinstance(v, float):
        return b"\xfb" + struct.pack(">d", v)
    if isinstance(v, str):
        b = v.encode()
        return head(3, len(b)) + b
    if isinstance(v, list):
        return head(4, len(v)) + b"".join(cbor_encode(x) for x in v)
    if isinstance(v, dict):
        return head(5, len(v)) + b"".join(cbor_encode(k) + cbor_encode(x) for k, x in v.items())
    raise TypeError(type(v))


def engine_docs_table(seed: int, n: int) -> pa.Table:
    """``(doc_id, js, xml, cbor)``: the bench.py engine-corpus shape (nested
    ``b`` keys at several depths, a missing field, attribute predicates)
    with seeded values and pad lengths."""
    rng = _rng(seed, "engine_docs")
    vals = rng.integers(-1_000_000, 1_000_000, (n, 4)).tolist()
    pads = rng.integers(16, 112, (n, 2)).tolist()
    langs = LANGS[rng.integers(0, len(LANGS), n)].tolist()
    cls = np.where(rng.random(n) < 0.5, "x", "y").tolist()
    js, xml, cbor = [], [], []
    for i in range(n):
        a, b, c, d = vals[i]
        doc = {"f2": langs[i], "f3": [a, b],
               "a": {"b": a, "c": {"b": b, "pad": "x" * pads[i][0]}},
               "l": [{"b": c}, {"x": 0}, {"b": {"deep": [d]}}]}
        js.append(json.dumps(doc, separators=(",", ":")))
        cbor.append(cbor_encode(doc))
        xml.append(f'<r><item id="{a}" cls="{cls[i]}">t{a}</item><sub><item id="{b}">u{c}'
                   f'</item><pad>{"y" * pads[i][1]}</pad></sub><other cls="x">w{d}</other></r>')
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "js": pa.array(js),
        "xml": pa.array(xml),
        "cbor": pa.array(cbor, type=pa.binary()),
    })
