"""Seeded input generators owned by the benchmark.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed``, so the same seed gives byte-identical inputs. Nothing is read
from outside the output directory: the batch tables are synthesized in
the shape of the repository's standard test corpus (same tables, column
names, types and value domains), not copied from it.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())

# ------------------------------------------------------------------ events

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


# Event-file shape. The hashtag skew and the disorder are assumptions of
# this benchmark, not measurements (see README.md, "stream_live traffic").
N_TAGS = 400
ZIPF_S = 1.1
DISORDER = 0.2  # share of rows moved back by up to MAX_DISORDER_S
MAX_DISORDER_S = 240  # inside the engine's 300 s watermark
LATE = 0.01  # share of rows moved back by LATE_S, beyond the watermark
LATE_S = (330, 900)


class EventStream:
    """Tweet-shaped event files for the streaming workloads.

    File ``i`` covers event time ``[base + i*span_s, base + (i+1)*span_s)``
    with a fixed ``rows`` per file. ``event_type`` plays the hashtag: a
    Zipf(``ZIPF_S``) draw over ``N_TAGS`` tags. A share ``DISORDER`` of
    rows is moved back by up to ``MAX_DISORDER_S``, and a share ``LATE``
    by ``LATE_S`` seconds, so the engine must drop part of their windows.
    """

    def __init__(self, seed: int, rows: int, span_s: float):
        self.seed = seed
        self.rows = rows
        self.span_us = int(span_s * 1_000_000)
        w = 1.0 / np.arange(1, N_TAGS + 1) ** ZIPF_S
        self.tag_p = w / w.sum()
        self.tags = np.array([f"#tag{i:03d}" for i in range(N_TAGS)], dtype=object)
        self.base_s = EPOCH_2024 + 3600  # keeps late rows after the epoch base

    def table(self, i: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, i])
        n = self.rows
        start_us = self.base_s * 1_000_000 + i * self.span_us
        ts = start_us + np.sort(rng.integers(0, self.span_us, n))
        u = rng.random(n)
        back = np.where(
            u < LATE,
            rng.integers(*LATE_S, n) * 1_000_000,
            np.where(
                u < LATE + DISORDER,
                rng.integers(0, MAX_DISORDER_S * 1_000_000, n),
                0,
            ),
        )
        ts = ts - back
        return pa.table(
            {
                "event_id": np.arange(i * n, (i + 1) * n, dtype=np.int64),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": rng.integers(0, 5000, n, dtype=np.int64),
                "event_type": pa.array(rng.choice(self.tags, n, p=self.tag_p), pa.string()),
                "value": np.round(rng.gamma(1.2, 30.0, n) + 0.01, 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
            },
            schema=EVENTS_SCHEMA,
        )

    def write(self, i: int, path: str) -> None:
        pq.write_table(self.table(i), path)


# ------------------------------------------------------------ batch tables

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()


def _dates(rng, n, lo: dt.date, hi: dt.date) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    lo_s = int(dt.datetime(lo.year, lo.month, lo.day, tzinfo=dt.timezone.utc).timestamp())
    us = (lo_s + days * 86400) * 1_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> int:
    t = pa.table(cols)
    pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return t.num_rows


def _documents(rng, n: int) -> dict:
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in rng.integers(8, 90, n)]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n, dtype=np.int32),
    }


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """The ten batch tables; ``scale=1`` is the 60,000-lineitem size.
    Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_line, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc, n_emb = int(500 * scale), int(500 * scale)
    rows = {
        "region": _write(out_dir, "region", {
            "r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}),
        "nation": _write(out_dir, "nation", {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5}),
        "customer": _write(out_dir, "customer", {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist()}),
        "supplier": _write(out_dir, "supplier", {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        "part": _write(out_dir, "part", {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_TYPES, n_part).tolist(),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}),
        "orders": _write(out_dir, "orders", {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _dates(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist()}),
        "lineitem": _write(out_dir, "lineitem", {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900, 105000),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": _dates(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))}),
        "events": _write(out_dir, "events", {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(
                (EPOCH_2024 * 1_000_000 + rng.integers(0, 30 * 86400 * 1_000_000, n_ev)),
                pa.timestamp("us")),
            "user_id": rng.integers(0, max(10, int(150 * scale)), n_ev, dtype=np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.gamma(1.2, 30.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        "documents": _write(out_dir, "documents", _documents(rng, n_doc)),
        "embeddings": _write(out_dir, "embeddings", _embeddings(rng, n_emb)),
    }
    return rows


# ------------------------------------------------------------------ corpus


def write_corpus(out_dir: str, seed: int, n_base: int, dup_share: float, near_share: float,
                 n_vectors: int) -> dict[str, int]:
    """A dedup corpus: ``n_base`` documents, then ``dup_share`` of them
    re-delivered as exact duplicates (case and whitespace variants, which
    normalize to the same key) and ``near_share`` as near duplicates (a
    few words replaced; a third of them copy an earlier near duplicate,
    so chains and clusters larger than two form). Also writes the
    embeddings table the similarity entries read."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 11])
    base = _documents(rng, n_base)
    texts, langs, sources = list(base["text"]), list(base["lang"]), list(base["source"])
    for _ in range(int(n_base * dup_share)):
        j = int(rng.integers(0, n_base))
        t = texts[j]
        t = t.upper() if rng.random() < 0.5 else "  " + t.replace(" ", "  ", 3) + " "
        texts.append(t), langs.append(langs[j]), sources.append(sources[j])
    for _ in range(int(n_base * near_share)):
        j = int(rng.integers(0, len(texts)))
        words = texts[j].lower().split()
        for k in rng.integers(0, len(words), max(1, len(words) // 20)):
            words[k] = str(rng.choice(WORDS))
        texts.append(" ".join(words)), langs.append(langs[j]), sources.append(sources[j])
    order = rng.permutation(len(texts))
    texts = [texts[k] for k in order]
    n = len(texts)
    docs = {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [langs[k] for k in order],
        "source": [sources[k] for k in order],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    return {
        "documents": _write(out_dir, "documents", docs),
        "embeddings": _write(out_dir, "embeddings", _embeddings(rng, n_vectors)),
    }
