"""Seeded input tables for the query workload.

Plain numpy + pyarrow, so the inputs exist before the Spark session does
and never depend on engine code. The same seed always gives byte-identical
tables. The schemas are those of the engine's testdata tables (TPC-H-like
star schema, an ``events`` stream table and a ``documents`` corpus), so
the registry queries and their DuckDB oracles run on them unchanged.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark batch part line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer"
).split()
# stopword markers per language (as in operators.text.LANG_MARKERS); zh has none
LANGS = {
    "en": ["the", "a", "of", "and"],
    "de": ["der", "und", "die", "nicht"],
    "fr": ["le", "la", "et", "les"],
    "es": ["el", "los", "que", "y"],
    "zh": [],
}
LANG_P = [0.42, 0.14, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# rows per table: about the engine's sf0.01 testdata, but fewer documents,
# as the curation query's DuckDB oracle is quadratic in them
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_EVENTS, N_DOCS = 1500, 100, 2000, 15000, 10000, 200
DUP_SHARE = 0.1  # share of documents that get an exact copy under a new id


def _text(rng: np.random.Generator, lang: str, n_words: int) -> str:
    words = list(rng.choice(VOCAB, n_words))
    markers = LANGS[lang]
    if markers:
        for pos in rng.integers(0, n_words, max(1, n_words // 6)):
            words[pos] = markers[int(rng.integers(0, len(markers)))]
    return " ".join(words)


def documents(seed: int, n: int) -> pa.Table:
    """``n`` word-salad documents of 8-89 words in the ``documents`` schema
    (doc_id, text, lang, source, n_chars), in fixed language shares and
    with a fixed multiset of lengths. With 3-word shingles over this
    vocabulary, two independent documents are never near-duplicates;
    ``DUP_SHARE`` of ``n`` English documents are copied under new ids, so
    the corpus holds known exact duplicates and the same amount of dedup
    work for every seed."""
    rng = np.random.default_rng([seed, 1])
    counts = np.floor(np.array(LANG_P) * n).astype(int)
    counts[0] += n - counts.sum()
    langs = rng.permutation(np.repeat(list(LANGS), counts))
    lengths = rng.permutation(np.resize(np.arange(8, 90), n))
    texts = [_text(rng, lang, int(k)) for lang, k in zip(langs, lengths)]
    dup = rng.choice(np.flatnonzero(langs == "en"), int(n * DUP_SHARE), replace=False)
    texts += [texts[i] for i in dup]
    langs = np.concatenate([langs, langs[dup]])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(len(texts))]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: dt.date, offsets) -> pa.Array:
    """Midnight timestamps (no time zone, microseconds) ``offsets`` days
    after ``base``."""
    start = np.datetime64(base, "us")
    return pa.array(start + np.asarray(offsets).astype("timedelta64[D]"), pa.timestamp("us"))


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    i32, i64 = pa.int32(), pa.int64()
    n_lines = rng.integers(1, 8, N_ORDERS)
    order_day = rng.integers(0, 2400, N_ORDERS)  # 1992-01-01 .. 1998-07-29
    line_order = np.repeat(np.arange(1, N_ORDERS + 1), n_lines)
    n_li = len(line_order)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION{k:02d}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(1, N_CUSTOMER + 1), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(1, N_CUSTOMER + 1)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
            "c_acctbal": _money(rng, -999, 9999, N_CUSTOMER),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"], N_CUSTOMER),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(1, N_SUPPLIER + 1), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(1, N_SUPPLIER + 1)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
            "s_acctbal": _money(rng, -999, 9999, N_SUPPLIER),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(1, N_ORDERS + 1), i64),
            "o_custkey": pa.array(rng.integers(1, N_CUSTOMER + 1, N_ORDERS), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 900, 500000, N_ORDERS),
            "o_orderdate": _days(dt.date(1992, 1, 1), order_day),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(line_order, i64),
            "l_partkey": pa.array(rng.integers(1, N_PART + 1, n_li), i64),
            "l_suppkey": pa.array(rng.integers(1, N_SUPPLIER + 1, n_li), i64),
            "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in n_lines]), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 100000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(dt.date(1992, 1, 1), np.repeat(order_day, n_lines) + rng.integers(1, 122, n_li)),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(N_EVENTS), i64),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86400, N_EVENTS)).astype("timedelta64[s]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(1, 500, N_EVENTS), i64),
            "event_type": rng.choice(["click", "view", "purchase", "error"], N_EVENTS, p=[0.4, 0.4, 0.15, 0.05]),
            "value": _money(rng, 0, 500, N_EVENTS),
            "props": [f'{{"k": {k % 7}}}' for k in range(N_EVENTS)],
        }),
        "documents": documents(seed, N_DOCS),
    }


def write_tables(seed: int, out: str) -> dict[str, tuple[int, int]]:
    """Writes every table to ``out/<name>.parquet``; returns name ->
    (rows, bytes)."""
    os.makedirs(out, exist_ok=True)
    sizes = {}
    for name, tbl in tables(seed).items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes[name] = (tbl.num_rows, os.path.getsize(path))
    return sizes


def file_bytes(path: str) -> int:
    """On-disk bytes of a file, or of every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
