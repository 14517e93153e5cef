"""Seeded input generators for the benchmark workloads.

Every table is written with pyarrow as ONE parquet file holding ONE row
group, in the column names and physical types the engine's fixture
tables use (``region`` .. ``embeddings``), so the engine's registry
queries and their DuckDB oracles run on them unchanged. The same seed
always produces byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LANGS = ("en", "de", "es", "fr", "zh")
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es": ("el", "la", "de", "los", "y", "en", "que", "un"),
    "fr": ("le", "les", "et", "une", "des", "est", "dans", "pour"),
    "zh": (),
}
EMB_DIM = 64
# lake scale factor: sf 0.1 is 600,000 lineitem, 150,000 orders and
# 100,000 events
SF = 0.1
N_DOCS = 5000
N_VECS = 2000

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _strings(pool, idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(list(pool))
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(
        table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=table.num_rows
    )
    return table.num_rows


def lake_tables(out_dir: str, seed: int) -> dict[str, int]:
    """TPC-H-shaped star schema plus the ``events`` stream at scale
    factor ``SF``. Returns rows written per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_ev, n_users = int(1_500_000 * SF), int(1_000_000 * SF), int(15_000 * SF)
    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _strings(SEGMENTS, rng.integers(0, 5, n_cust)),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = ("large", "hot", "small", "bright", "plain", "rough")
    noun = ("ring", "bolt", "gear", "nut", "screw", "pipe", "valve")
    types = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
    name_idx = rng.integers(0, len(adj) * len(noun), n_part)
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _strings([f"{a} {b}" for a in adj for b in noun], name_idx),
        "p_brand": _strings([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, n_part)),
        "p_type": _strings(types, rng.integers(0, len(types), n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    # orders span 1995-01-01 .. 2001-08-01, lineitems ship 1..120 days later
    o_day = rng.integers(0, 2404, n_ord)
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _strings(("F", "O", "P"), rng.integers(0, 3, n_ord)),
        "o_totalprice": pa.array(_money(rng, 900.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + o_day * _DAY_US),
        "o_orderpriority": _strings(PRIORITIES, rng.integers(0, 5, n_ord)),
    })
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_num = (np.arange(l_ord.size) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_li = l_ord.size
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_part = rng.integers(0, n_part, n_li, dtype=np.int64)
    price = np.round(qty * (900 + (l_part % 1000) * 0.1), 2)
    ship = _EPOCH_1995 + (o_day[l_ord] + rng.integers(1, 121, n_li)) * _DAY_US
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_ord),
        "l_partkey": pa.array(l_part),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(l_num.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _strings(("A", "N", "R"), rng.integers(0, 3, n_li)),
        "l_linestatus": _strings(("F", "O"), rng.integers(0, 2, n_li)),
        "l_shipdate": _ts(ship),
    })
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": _strings(EVENT_TYPES, rng.integers(0, 5, n_ev)),
        "value": pa.array(_money(rng, 0.0, 560.0, n_ev)),
        "props": _strings([f'{{"k": {k}}}' for k in range(100)], rng.integers(0, 100, n_ev)),
    })
    return rows


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "zu",
           "an", "el", "or", "ix", "um", "da", "fe", "gi", "ho", "ju"]
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(syl[i] for i in rng.integers(0, len(syl), k)))
    return sorted(words)


def corpus_tables(out_dir: str, seed: int) -> dict[str, int]:
    """``N_DOCS`` ``documents`` with planted near-duplicate families and
    ``N_VECS`` ``embeddings`` drawn around ten class centres.

    About one document in six is an edited copy of an earlier one (token
    substitutions and deletions at a rate of 0..30%), so exact 3-shingle
    Jaccard spreads across the 0.5 dedup threshold; the rest are drawn
    from a 4,000-word vocabulary, so unrelated documents share almost no
    shingles and the exact all-pairs ground truth stays cheap."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    vocab = _vocabulary(rng, 4000)
    texts: list[str] = []
    langs: list[str] = []
    for i in range(N_DOCS):
        lang = LANGS[int(rng.choice(5, p=[0.5, 0.125, 0.125, 0.125, 0.125]))]
        if i > 20 and rng.random() < 1 / 6:
            src = texts[int(rng.integers(0, i))].split(" ")
            rate = rng.uniform(0.0, 0.3)
            toks = []
            for tok in src:
                r = rng.random()
                if r < rate / 2:
                    continue
                toks.append(vocab[int(rng.integers(0, len(vocab)))] if r < rate else tok)
            texts.append(" ".join(toks or src))
        else:
            n_tok = int(rng.integers(15, 80))
            toks = [vocab[j] for j in rng.integers(0, len(vocab), n_tok)]
            stops = STOPWORDS[lang]
            if stops:
                for pos in rng.integers(0, n_tok, n_tok // 5):
                    toks[pos] = stops[int(rng.integers(0, len(stops)))]
            texts.append(" ".join(toks))
        langs.append(lang)
    rows = {}
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": _strings([f"src{i}" for i in range(20)], rng.integers(0, 20, N_DOCS)),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    })
    centres = rng.normal(0.0, 1.0, (10, EMB_DIM))
    labels = rng.integers(0, 10, N_VECS)
    vecs = (centres[labels] + rng.normal(0.0, 0.9, (N_VECS, EMB_DIM))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True) * 4
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return rows
