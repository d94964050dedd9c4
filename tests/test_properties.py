"""Property-based invariants (hypothesis): the guarantees that must hold for
ANY input, not just the seeded fixtures.

- Cleansing establishes every silver CHECK constraint for arbitrary dirty
  rows (the constraints the reference declares as DDL CHECKs,
  01_init_all.sql:27-38, which Spark must establish transformationally).
- Winnowing's containment guarantee: documents sharing a token run of
  length >= k + w - 1 share at least one fingerprint, at any alignment.
- Salted join equals plain join for arbitrary key/salt configurations.
"""

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_data_spark.cleanse import cleanse
from etl_data_spark.operators.skew import salted_join
from etl_data_spark.operators.text import with_winnow_fingerprints
from etl_data_spark.schemas import PRODUCT_CATEGORIES

PROP_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

BRONZE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("user_name", T.StringType()),
        T.StructField("age", T.IntegerType()),
        T.StructField("salary", T.DoubleType()),
        T.StructField("purchase_amount", T.DoubleType()),
        T.StructField("product_category", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("customer_status", T.StringType()),
        T.StructField("transaction_count", T.IntegerType()),
        T.StructField("effective_from", T.DateType()),
        T.StructField("effective_to", T.DateType()),
        T.StructField("current_flag", T.BooleanType()),
    ]
)

dirty_row = st.tuples(
    st.integers(0, 10_000),  # id
    st.one_of(st.none(), st.text(min_size=1, max_size=8)),  # user_id
    st.text(max_size=8),  # user_name
    st.one_of(st.none(), st.integers(-50, 200)),  # age
    st.one_of(st.none(), st.floats(-1e7, 1e7, allow_nan=False)),  # salary
    st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False)),  # purchase
    st.one_of(st.none(), st.sampled_from(PRODUCT_CATEGORIES + ["Junk", "xx", ""])),
    st.sampled_from(["North", "South", "East", "West", "??"]),  # region
    st.one_of(st.none(), st.sampled_from(["Active", "INACTIVE", "Pending", "zz"])),
    st.one_of(st.none(), st.integers(-10, 5000)),  # transaction_count
    st.dates(dt.date(2019, 1, 1), dt.date(2024, 6, 30)),  # effective_from
    st.dates(dt.date(2019, 1, 1), dt.date(2026, 6, 30)),  # effective_to
    st.booleans(),
)


@PROP_SETTINGS
@given(rows=st.lists(dirty_row, min_size=1, max_size=25))
def test_cleanse_establishes_all_silver_constraints(spark, rows):
    # under the reference's own date gate (raw effective_from >= start) every
    # CHECK constraint is established; without the gate, pre-2020 rows with
    # inverted dates hit the reference's from/to repair inconsistency — a
    # faithful reproduction documented in cleanse.py
    bronze = spark.createDataFrame(rows, BRONZE_SCHEMA)
    silver = cleanse(bronze, start_date="2020-01-01", end_date=None).cache()
    bad = silver.filter(
        F.col("age").isNull()
        | (F.col("age") < 18)
        | (F.col("age") > 100)
        | (F.col("salary") < 0)
        | (F.col("salary") > 1_000_000)
        | (F.col("purchase_amount") < 0)
        | (F.col("purchase_amount") > 100_000)
        # NULL category legitimately stays NULL (CASE WHEN NULL semantics);
        # ~isin on NULL is NULL, so such rows are correctly not flagged
        | ~F.col("product_category").isin(PRODUCT_CATEGORIES + ["Other"])
        | F.col("customer_status").isNull()
        | (F.col("customer_status") != F.lower(F.col("customer_status")))
        | (F.col("effective_to") < F.col("effective_from"))
        | F.col("user_id").isNull()
    )
    assert bad.count() == 0, bad.collect()
    silver.unpersist()


@PROP_SETTINGS
@given(
    shared=st.lists(st.sampled_from("abcdefgh"), min_size=8, max_size=12),
    pre_a=st.lists(st.sampled_from("mnopq"), max_size=6),
    pre_b=st.lists(st.sampled_from("rstuv"), max_size=6),
)
def test_winnow_shared_run_guarantees_shared_fingerprint(spark, shared, pre_a, pre_b):
    # k=4, w=5: any shared run of >= k+w-1 = 8 tokens forces a common
    # fingerprint regardless of what precedes/follows it
    doc_a = " ".join(pre_a + shared)
    doc_b = " ".join(pre_b + shared)
    df = spark.createDataFrame([(1, doc_a), (2, doc_b)], ["doc_id", "text"])
    fps = with_winnow_fingerprints(df, "doc_id", "text", k=4, w=5)
    a = {r["fp"] for r in fps.filter(F.col("doc_id") == 1).collect()}
    b = {r["fp"] for r in fps.filter(F.col("doc_id") == 2).collect()}
    assert a & b, (doc_a, doc_b)


@PROP_SETTINGS
@given(
    n_keys=st.integers(1, 10),
    n_rows=st.integers(1, 60),
    n_salts=st.integers(1, 7),
)
def test_salted_join_always_equals_plain_join(spark, n_keys, n_rows, n_salts):
    rows = [(i % n_keys, i) for i in range(n_rows)]
    fact = spark.createDataFrame(rows, ["k", "row_id"])
    dim = spark.createDataFrame([(k, f"v{k}") for k in range(n_keys)], ["k", "val"])
    plain = sorted(map(tuple, fact.join(dim, "k").select("row_id", "val").collect()))
    salted = sorted(
        map(
            tuple,
            salted_join(fact, dim, on=["k"], n_salts=n_salts, scatter_cols=["row_id"])
            .select("row_id", "val")
            .collect(),
        )
    )
    assert plain == salted


# --------------------------------------------------------------------------
# CDC replay: for ANY pair of snapshots, old + snapshot_diff(old, new) == new
# --------------------------------------------------------------------------

_snapshot_rows = st.lists(
    st.tuples(
        st.integers(0, 30),  # key (small range to force I/U/D overlap)
        st.sampled_from(["a", "b", "c"]),
        st.integers(0, 5),
    ),
    max_size=25,
).map(lambda rows: list({k: (k, s, v) for k, s, v in rows}.values()))  # unique keys


@given(old_rows=_snapshot_rows, new_rows=_snapshot_rows)
@PROP_SETTINGS
def test_cdc_replay_property(spark, old_rows, new_rows):
    from etl_data_spark.operators.cdc import merge_upsert, snapshot_diff

    schema = "k long, s string, v long"
    old = spark.createDataFrame(old_rows, schema) if old_rows else spark.createDataFrame([], schema)
    new = spark.createDataFrame(new_rows, schema) if new_rows else spark.createDataFrame([], schema)

    feed = snapshot_diff(old, new, ["k"])
    upserts = feed.filter(F.col("op").isin("I", "U")).select(
        "k", F.col("new_s").alias("s"), F.col("new_v").alias("v")
    )
    deletes = feed.filter(F.col("op") == "D").select("k")
    replayed = merge_upsert(
        old.join(deletes, "k", "left_anti"), upserts, ["k"]
    )
    assert replayed.exceptAll(new).count() == 0
    assert new.exceptAll(replayed).count() == 0


# -- distributed global rank == sorted index, for ANY data/partitioning -----

@PROP_SETTINGS
@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=200
    ),
    nparts=st.integers(min_value=1, max_value=9),
)
def test_global_row_number_equals_sorted_index(spark, vals, nparts):
    from etl_data_spark.operators.rank import global_row_number

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["uid", "v"]
    )
    got = {
        r.uid: r.rn
        for r in global_row_number(
            df, ["v", "uid"], out_col="rn", num_partitions=nparts
        ).collect()
    }
    want = {
        uid: i + 1
        for i, (v, uid) in enumerate(
            sorted((v, uid) for uid, v in enumerate(vals))
        )
    }
    assert got == want


@PROP_SETTINGS
@given(
    docs=st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(
                    whitelist_categories=("Ll", "Lu", "Nd")
                ),
                min_size=1,
                max_size=6,
            ),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    ),
    n=st.integers(min_value=1, max_value=3),
)
def test_ngram_array_matches_reference(spark, docs, n):
    """The let-bound n-gram builder (rewritten for the O(tokens^2)
    substitution fix) must equal the plain Python n-gram computation
    for arbitrary token sequences."""
    from etl_data_spark.operators.corpus import _ngram_array

    rows = [(i, " ".join(tks)) for i, tks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: r["grams"]
        for r in df.select(
            "doc_id", _ngram_array("text", n).alias("grams")
        ).collect()
    }
    for i, tks in enumerate(docs):
        # mirror the operator's tokenizer: split on whitespace after trim
        toks = " ".join(tks).strip().split()
        if not " ".join(tks).strip():
            expected = []
        else:
            expected = [
                " ".join(toks[j : j + n])
                for j in range(max(len(toks) - n + 1, 0))
            ]
        assert got[i] == expected, (i, tks, got[i], expected)


# --- connected components: star contraction == union-find, any graph --------


# connected_components labels a graph of at most _FINISH_MAX_EDGES pair rows
# in one union-find task and contracts larger ones: cap 0 forces every
# graph through contraction, the default sends these small ones to the
# finish. Both paths must give the same labels.
FINISH_CAPS = pytest.mark.parametrize(
    "cap", [0, None], ids=["contract", "finish"]
)


def _set_finish_cap(monkeypatch, cap):
    from etl_data_spark.operators import dedup

    if cap is not None:
        monkeypatch.setattr(dedup, "_FINISH_MAX_EDGES", cap)


def _union_find_truth(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for e in edges for x in e}


@FINISH_CAPS
@PROP_SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 39), st.integers(0, 39)),
        min_size=0,
        max_size=80,
    )
)
def test_star_contraction_matches_union_find(spark, monkeypatch, cap, edges):
    """For ANY small graph (self-loops, duplicates, multi-component,
    chains), connected_components must assign every node its component's
    minimum id — the union-find ground truth — on the contraction path
    and on the one-task finish alike. This is the algebraic contract the
    dedup-clustering oracles rely on; the seeded fixtures only cover
    clique-shaped near-dup graphs."""
    from etl_data_spark.operators.dedup import connected_components

    _set_finish_cap(monkeypatch, cap)
    pairs = spark.createDataFrame(
        edges or [(None, None)], "id_a int, id_b int"
    ).dropna()
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == _union_find_truth(edges)


# rows the contraction-only implementation returned for these inputs: a
# null end links nothing but keeps its non-null end as a node, and any
# null id yields one (None, None) row; string ids take the minimum in
# binary order
PARENT_ROWS = {
    "null_ids": (
        [(1, None), (None, None), (2, 3), (None, 4), (4, 5)],
        "id_a long, id_b long",
        "struct<doc_id:bigint,cluster_id:bigint>",
        [(1, 1), (2, 2), (3, 2), (4, 4), (5, 4), (None, None)],
    ),
    "string_ids": (
        [("b", "a"), ("c", "b"), ("zz", "Z"), ("\u00e9", "e"), ("x", None), ("q", "q")],
        "id_a string, id_b string",
        "struct<doc_id:string,cluster_id:string>",
        [
            ("Z", "Z"), ("a", "a"), ("b", "a"), ("c", "a"), ("e", "e"),
            ("q", "q"), ("x", "x"), ("zz", "Z"), ("\u00e9", "e"), (None, None),
        ],
    ),
}


@FINISH_CAPS
@pytest.mark.parametrize("case", sorted(PARENT_ROWS))
def test_connected_components_odd_ids_keep_parent_rows(spark, monkeypatch, cap, case):
    from etl_data_spark.operators.dedup import connected_components

    _set_finish_cap(monkeypatch, cap)
    rows, ddl, out_schema, expected = PARENT_ROWS[case]
    out = connected_components(spark.createDataFrame(rows, ddl))
    assert out.schema.simpleString() == out_schema
    assert sorted(map(tuple, out.collect()), key=repr) == sorted(expected, key=repr)


# --- PNG codec: decode(filtered-encode(img)) == img for ANY image/filter ----


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    ch=st.sampled_from([1, 3]),
    ftype=st.integers(0, 4),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_decode_inverts_any_filter_any_shape(h, w, ch, ftype, seed):
    """png_decode_pixels must invert an INDEPENDENT spec encoder for any
    image shape, channel count, and row-filter type — not just the
    filter-0 rows our own encoder emits. The encoder below filters every
    row with `ftype` using the spec's vectorized definitions (§9), i.e.
    it shares no code with the decoder under test (the decoder's
    Sub/Average/Paeth paths are sequential scans)."""
    import struct
    import zlib

    import numpy as np

    from etl_data_spark.operators.multimodal import png_decode_pixels

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)

    rows = []
    prev = np.zeros(w * ch, dtype=np.int32)
    for r in range(h):
        cur = img[r].reshape(-1).astype(np.int32)
        left = np.concatenate([np.zeros(ch, dtype=np.int32), cur[:-ch]])
        upleft = np.concatenate([np.zeros(ch, dtype=np.int32), prev[:-ch]])
        if ftype == 0:
            filt = cur
        elif ftype == 1:
            filt = (cur - left) % 256
        elif ftype == 2:
            filt = (cur - prev) % 256
        elif ftype == 3:
            filt = (cur - (left + prev) // 2) % 256
        else:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = (cur - pred) % 256
        rows.append(bytes([ftype]) + filt.astype(np.uint8).tobytes())
        prev = cur
    raw = b"".join(rows)

    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0 if ch == 1 else 2, 0, 0, 0)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )

    out = png_decode_pixels(blob)
    assert out is not None and np.array_equal(out, img), (h, w, ch, ftype)


# --- knn guard: bounded probes decide EXACTLY n_l*n_r > max_pairs -----------


@PROP_SETTINGS
@given(
    n_l=st.integers(0, 40),
    n_r=st.integers(0, 40),
    max_pairs=st.integers(1, 400),
)
def test_bounded_pair_guard_decides_exactly(spark, n_l, n_r, max_pairs):
    """_guard_max_pairs replaces two full counts with <=3 bounded probes;
    the decision must remain EXACTLY n_l*n_r > max_pairs — the capped
    probe plus the refine pass may never flip a verdict in either
    direction (a false pass launches the cross join the guard exists to
    stop; a false raise rejects a legitimate call)."""
    from etl_data_spark.operators.similarity import _guard_max_pairs

    left = spark.range(n_l)
    right = spark.range(n_r)
    should_raise = n_l * n_r > max_pairs
    try:
        _guard_max_pairs(left, right, max_pairs, op="t", scale_hint="h")
        raised = False
    except ValueError:
        raised = True
    assert raised == should_raise, (n_l, n_r, max_pairs)
