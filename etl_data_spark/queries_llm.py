"""LLM-training-data pipeline queries: dedup, similarity, text, temporal.

Registered into the same catalog as the relational queries. Oracle SQL
mirrors the md5-derived hashing / list arithmetic exactly (see operators/
dedup.py for why everything is md5-based: engine-portable bit-identical
hashing). Entries without a SQL-expressible mirror (approximate ANN,
simhash banding internals) are registered with oracle=None -> the driver
records a weaker rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_data_spark.operators import _sqlexpr as _sx
from etl_data_spark.operators import dedup as D
from etl_data_spark.operators import similarity as S
from etl_data_spark.operators import temporal as TP
from etl_data_spark.operators import text as TX
from etl_data_spark.queries import load_table, register

from etl_data_spark.caching import pin
from etl_data_spark.caching import truncate_lineage

# SQL fragments reused across oracles ---------------------------------------

_SQL_SHINGLES = """
    list_distinct(list_transform(
        range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
        i -> concat(string_split(text, ' ')[i], ' ',
                    string_split(text, ' ')[i+1], ' ',
                    string_split(text, ' ')[i+2])))
"""

# Pairwise Jaccard over distinct shingle lists, scored only for pairs that
# share a shingle: for any threshold > 0 a qualifying pair shares one. J <=
# min/max of the two list sizes, and ROUND(J, 6) >= t implies J >= t - 5e-7,
# so the size filter (1e-6 slack) drops only pairs that can never reach the
# threshold.
_SQL_PAIR_JACCARD = """
WITH sh AS MATERIALIZED (
  SELECT doc_id, {shingles} AS shingles FROM documents
),
tok AS MATERIALIZED (
  SELECT doc_id, len(shingles) AS n, unnest(shingles) AS g FROM sh
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id < b.doc_id
  WHERE least(a.n, b.n) >= ({threshold} - 1e-6) * greatest(a.n, b.n)
),
pairs AS (
  SELECT c.id_a, c.id_b,
         ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
)
SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= {threshold}
"""


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


@register(
    "text_stats",
    """
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
           length(text) AS n_chars,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(list_distinct(string_split_regex(trim(text), '\\s+'))) END AS n_distinct_tokens
    FROM documents
    """,
    doc="Token counting + lexical stats (whitespace tokenizer), JVM-side only.",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        TX.char_count("text").alias("n_chars"),
        TX.distinct_token_count("text").alias("n_distinct_tokens"),
    )


def _sql_occurrences(marker: str) -> str:
    needle = f" {marker} "
    return (
        f"CAST((length(concat(' ', lower(text), ' ')) - "
        f"length(replace(concat(' ', lower(text), ' '), '{needle}', ''))) "
        f"/ {len(needle)} AS BIGINT)"
    )


def _sql_lang_score(lang: str) -> str:
    return " + ".join(_sql_occurrences(m) for m in TX.LANG_MARKERS[lang])


_LANGS = sorted(TX.LANG_MARKERS)
_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN s_{lang} > 0 AND "
        + " AND ".join(f"s_{lang} >= s_{o}" for o in _LANGS if o != lang)
        + f" THEN '{lang}'"
        for lang in _LANGS
    )
    + " ELSE 'unknown' END"
)


@register(
    "lang_id",
    f"""
    SELECT doc_id, {_LANG_CASE} AS lang_guess
    FROM (
      SELECT doc_id,
             {", ".join(f"{_sql_lang_score(lang)} AS s_{lang}" for lang in _LANGS)}
      FROM documents
    )
    """,
    doc="Stopword-marker language ID heuristic (argmax with alphabetical ties).",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", TX.language_id("text").alias("lang_guess"))


@register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16) AS fp
    FROM documents
    """,
    doc="Normalized-md5 document fingerprint (rolling-hash stand-in, portable).",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint("text").alias("fp"))


@register(
    "bpe_token_count",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{TX.BPE_PATTERN}')) AS n_bpe_tokens
    FROM documents
    """,
    doc="BPE-ish subword token counting (class-only regex, engine-portable).",
)
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", TX.bpe_token_count("text").alias("n_bpe_tokens"))


# DuckDB mirror of the winnowing pipeline (k=4, w=5). The md5-prefix int is
# parsed positionally (DuckDB's md5_number_* are little-endian, unusable for
# prefix semantics); the Horner chain is generated by the same Python loop
# as the Spark side so the constants can never drift.
_DUCK_TOKEN_HASH = f"""
    CAST(list_sum(list_transform(range(1, 12),
        i -> (strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1)
             * CAST(power(16, 11 - i) AS BIGINT))) AS BIGINT) % {TX.ROLL_P}
"""


def _duck_horner(k: int) -> str:
    acc = "0"
    for j in range(k):
        acc = f"((({acc} * {TX.ROLL_B} + th[i + {j}]) % {TX.ROLL_P}))"
    return acc


_WINNOW_K, _WINNOW_W = 4, 5

_SQL_WINNOW = f"""
    WITH th AS (
      SELECT doc_id,
             list_transform(string_split_regex(trim(text), '\\s+'),
                            t -> {_DUCK_TOKEN_HASH}) AS th
      FROM documents
    ),
    rh AS (
      SELECT doc_id,
             CASE WHEN len(th) >= {_WINNOW_K} THEN
               list_transform(range(1, len(th) - {_WINNOW_K - 2}),
                              i -> {_duck_horner(_WINNOW_K)})
             ELSE CAST([] AS BIGINT[]) END AS rh
      FROM th
    ),
    fps AS (
      SELECT doc_id,
             CASE WHEN len(rh) >= {_WINNOW_W} THEN
               list_distinct(list_transform(range(1, len(rh) - {_WINNOW_W - 2}),
                             i -> list_min(rh[i:i + {_WINNOW_W - 1}])))
             WHEN len(rh) > 0 THEN [list_min(rh)]
             ELSE CAST([] AS BIGINT[]) END AS fps
      FROM rh
    )
    SELECT doc_id, unnest(fps) AS fp FROM fps
"""


@register(
    "winnow_fingerprints",
    _SQL_WINNOW,
    doc="Rolling-hash winnowing fingerprints (Schleimer et al. SIGMOD'03): "
    "shared token runs >= k+w-1 guarantee a shared fingerprint.",
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return TX.with_winnow_fingerprints(
        d, "doc_id", "text", k=_WINNOW_K, w=_WINNOW_W
    )


# Shared with queries_corpus.py (quality-stratified sampling, corpus report).
_SQL_QUALITY = """
    SELECT doc_id,
           ROUND(0.4 * least(n_tok / 50.0, 1.0)
                 + 0.4 * (CASE WHEN n_tok = 0 THEN 0.0 ELSE CAST(n_dis AS DOUBLE) / n_tok END)
                 + 0.2 * (1 - noise), 6) AS quality
    FROM (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(list_distinct(string_split_regex(trim(text), '\\s+'))) END AS n_dis,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                       / length(text) END AS noise
      FROM documents
    )
"""


@register(
    "quality_scores",
    _SQL_QUALITY,
    doc="Composite quality score: length, lexical diversity, punctuation noise.",
)
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", TX.quality_score("text").alias("quality"))


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16)
    """,
    doc="Exact dedup via fingerprint hash-groupBy (shuffles digests, not bodies).",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.dedup_exact(d, "doc_id", "text")


@register(
    "dedup_ngram_jaccard",
    _SQL_PAIR_JACCARD.format(shingles=_SQL_SHINGLES, threshold=0.5),
    doc="Exact near-dup pairs (word-3-gram Jaccard >= 0.5) via inverted-index join.",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.5)


@register(
    "dedup_minhash_lsh",
    # Oracle is ground-truth all-pairs Jaccard: at threshold 0.8 the LSH
    # (H=64, b=16, r=4) has miss probability < 1e-14 per qualifying pair, so
    # candidate-generation + exact-verify must equal the exhaustive answer.
    _SQL_PAIR_JACCARD.format(shingles=_SQL_SHINGLES, threshold=0.8),
    doc="MinHash+LSH near-dup pairs, exact-Jaccard-verified; oracle = exhaustive truth.",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        d, "doc_id", "text", shingle_n=3, num_hashes=64, bands=16, threshold=0.8
    )


@register(
    "dedup_minhash_lsh_native",
    # Same exhaustive-truth oracle as the md5 variant: candidate
    # generation only affects recall (miss < 1e-14 per qualifying pair at
    # H=64/B=16) and exact-Jaccard verification makes the OUTPUT identical
    # for any universal hash family — so the fast non-portable hash is
    # still hash-verified end-to-end.
    _SQL_PAIR_JACCARD.format(shingles=_SQL_SHINGLES, threshold=0.8),
    doc="MinHash+LSH near-dup pairs on the production hash path (xxHash64 "
    "base hashes; the hash primitive is ~10x cheaper than md5, though at "
    "sf0.1 the banded join dominates so the end-to-end gain is ~6% — the "
    "hash share grows with document length). Output equals the md5 "
    "variant and the exhaustive truth.",
)
def q_dedup_minhash_lsh_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        d, "doc_id", "text", shingle_n=3, num_hashes=64, bands=16,
        threshold=0.8, hash_impl="native",
    )


@register(
    "dedup_clusters",
    # ground truth via recursive transitive closure over the exhaustive
    # near-dup pair graph: cluster id = min reachable doc id. base and
    # edges are MATERIALIZED: inlined, DuckDB re-runs the all-pairs
    # Jaccard for each reference and recursion step (45 s -> 16 s at
    # sf0.001)
    f"""
    WITH RECURSIVE base AS MATERIALIZED ({_SQL_PAIR_JACCARD.format(shingles=_SQL_SHINGLES, threshold=0.8)}),
    edges AS MATERIALIZED (
      SELECT id_a AS s, id_b AS d FROM base
      UNION
      SELECT id_b, id_a FROM base
    ),
    reach(s, d) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    )
    SELECT s AS doc_id, LEAST(MIN(d), s) AS cluster_id
    FROM reach GROUP BY s
    """,
    doc="Duplicate clustering: connected components (iterative min-label "
    "propagation) over MinHash near-dup pairs; oracle is a recursive-CTE "
    "transitive closure.",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", "text", shingle_n=3, num_hashes=64, bands=16, threshold=0.8
    )
    return D.connected_components(pairs)


_DELTA_FROM = 400  # doc_id >= 400 = the "newly ingested" batch


@register(
    "dedup_clusters_incremental",
    # Ground truth: the SAME full-corpus recursive closure as
    # dedup_clusters — the incremental update (old star edges ∪ batch
    # pairs) must land on the identical label table, because an existing
    # cluster's member->root edges preserve both its connectivity and
    # its min id.
    f"""
    WITH RECURSIVE base AS MATERIALIZED ({_SQL_PAIR_JACCARD.format(shingles=_SQL_SHINGLES, threshold=0.8)}),
    edges AS MATERIALIZED (
      SELECT id_a AS s, id_b AS d FROM base
      UNION
      SELECT id_b, id_a FROM base
    ),
    reach(s, d) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    )
    SELECT s AS doc_id, LEAST(MIN(d), s) AS cluster_id
    FROM reach GROUP BY s
    """,
    doc="Cluster-table maintenance for continuous dedup (r12): the base "
    f"corpus's labels (docs < {_DELTA_FROM}) are UPDATED with only the "
    "batch-involving pairs — old clusters enter the contraction as "
    "member->root star edges (|labels| + |batch| edges, never the "
    "accumulated pair history), the companion of "
    "dedup_incremental_at_rest in the ingest loop. Output equals the "
    "from-scratch clustering of the full corpus, which is what the "
    "oracle computes.",
)
def q_dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base_pairs = D.minhash_lsh_pairs(
        d.filter(F.col("doc_id") < _DELTA_FROM), "doc_id", "text",
        shingle_n=3, num_hashes=64, bands=16, threshold=0.8,
    )
    labels = D.connected_components(base_pairs)
    delta_pairs = D.minhash_lsh_pairs_incremental(
        d, delta_pred=F.col("doc_id") >= _DELTA_FROM, threshold=0.8
    )
    return D.connected_components_incremental(labels, delta_pairs)


@register(
    "dedup_survivor_docs",
    # The end-to-end dedup OUTPUT: corpus minus every non-minimum member of
    # each near-dup cluster. Oracle = the recursive-closure cluster truth,
    # anti-joined exactly like dedup_survivors does.
    f"""
    WITH RECURSIVE base AS MATERIALIZED ({_SQL_PAIR_JACCARD.format(shingles=_SQL_SHINGLES, threshold=0.8)}),
    edges AS MATERIALIZED (
      SELECT id_a AS s, id_b AS d FROM base
      UNION
      SELECT id_b, id_a FROM base
    ),
    reach(s, d) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ),
    losers AS (
      SELECT s AS doc_id FROM reach GROUP BY s
      HAVING LEAST(MIN(d), s) <> s
    )
    SELECT doc_id, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """,
    doc="End-to-end near-dup dedup: the surviving corpus after dropping all "
    "but the min-id member of every MinHash-LSH duplicate cluster "
    "(pairs -> connected components -> anti-join). The anti-join keys on "
    "doc ids only — document bodies never join anything.",
)
def q_dedup_survivor_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", "text", shingle_n=3, num_hashes=64, bands=16, threshold=0.8
    )
    clusters = D.connected_components(pairs)
    return D.dedup_survivors(d, clusters, "doc_id").select("doc_id", "n_chars")


# DuckDB mirror of the 31-bit md5 base hash (operators/dedup.py
# BASE_HASH_EXPR): positional hex parse of the first 11 md5 digits, mod
# 2^31-1 — same generator pattern as _DUCK_TOKEN_HASH so constants can't
# drift.
_DUCK_BASE_HASH = f"""
    CAST(list_sum(list_transform(range(1, 12),
        k -> (strpos('0123456789abcdef', substr(md5(s), CAST(k AS INT), 1)) - 1)
             * CAST(power(16, 11 - k) AS BIGINT))) AS BIGINT) % {D.MERSENNE_31}
"""


@register(
    "dedup_simhash",
    # With bands(7) > max_hamming(6), pigeonhole guarantees every
    # qualifying pair shares a band: candidate generation is
    # recall-complete, so the banded+verified output EQUALS the exhaustive
    # all-pairs Hamming filter — which is what this oracle computes from a
    # bit-identical SQL mirror of the signature (md5 base hashes, per-bit
    # majority vote over 28 bits).
    f"""
    WITH sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    bh AS (
      SELECT doc_id, list_transform(shingles, s -> {_DUCK_BASE_HASH}) AS bh
      FROM sh
    ),
    sig AS (
      SELECT doc_id, list_transform(range(0, 28), j ->
               CASE WHEN list_sum(list_transform(bh, h ->
                      CASE WHEN (h >> CAST(j AS INT)) & 1 = 1
                           THEN 1 ELSE -1 END)) > 0
                    THEN 1 ELSE 0 END) AS sig
      FROM bh
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(list_sum(list_transform(range(1, 29),
               i -> CASE WHEN a.sig[CAST(i AS INT)] <> b.sig[CAST(i AS INT)]
                         THEN 1 ELSE 0 END)) AS INT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 6
    """,
    doc="SimHash near-dup pairs (Hamming <= 6 over 28-bit signatures); "
    "oracle = exhaustive truth (banding is recall-complete at d < bands).",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(d, "doc_id", "text")


# --------------------------------------------------------------------------
# Multimodal (binary blobs + Arrow-batched mapInPandas)
# --------------------------------------------------------------------------
#
# No binary testdata ships, so the corpus is derived deterministically from
# the documents table. Two fixtures:
# - _media_from_documents: blob = utf-8 bytes of text (printable ASCII, so
#   DuckDB's ord() mirrors the byte values exactly) — used by the stub-codec
#   embed/frame entries;
# - _real_media_from_documents: blob = an ACTUAL PNG or WAV file built
#   around the text bytes (zlib IDAT + CRCs for PNG; RIFF/fmt/data chunks
#   for WAV), so multimodal_decode exercises the REAL header codec
#   (operators/multimodal.sniff_media) while every decoded field stays pure
#   arithmetic on length(text)/doc_id — i.e. SQL-expressible for the oracle.


def _media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators import multimodal as MM

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("blob"),
        F.lit(None).cast(MM.MEDIA_META_SCHEMA).alias("meta"),
    )


def make_wav(data: bytes, sample_rate: int) -> bytes:
    """A complete, valid mono 8-bit PCM WAV file wrapping ``data``.

    Odd-length payloads get the RIFF word-alignment pad byte after the
    data chunk (the declared chunk size stays unpadded, per spec) — our
    own decoders read by declared size so they never cared, but external
    tools or a future multi-chunk layout would misparse unpadded files.
    """
    import struct

    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate, 1, 8)
    dat = b"data" + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        dat += b"\x00"
    body = b"WAVE" + fmt + dat
    return b"RIFF" + struct.pack("<I", len(body)) + body


def make_png(data: bytes) -> bytes:
    """A complete, valid 8-bit grayscale PNG whose pixels are ``data``.

    width = len % 64 + 1, height = ceil(len / width) (>= 1), zero-padded —
    both reconstructable from len alone, which keeps the decode oracle
    SQL-expressible. Assembly delegates to the operator-side encoder
    (one copy of the IHDR/IDAT/CRC logic to keep in sync).
    """
    import numpy as np

    from etl_data_spark.operators.multimodal import png_encode_pixels

    n = len(data)
    width = n % 64 + 1
    height = max(1, -(-n // width))
    padded = data + b"\x00" * (width * height - n)
    return png_encode_pixels(
        np.frombuffer(padded, dtype=np.uint8).reshape(height, width, 1)
    )


def make_jpeg(data: bytes, progressive: bool = False) -> bytes:
    """A structurally valid JPEG stream (ITU-T T.81 §B) whose frame header
    carries dimensions derived from ``len(data)`` exactly like
    :func:`make_png` (width = len % 64 + 1, height = ceil(len / width),
    >= 1) — reconstructable from the length alone, keeping the decode
    oracle SQL-expressible. ``data`` itself rides in COM (comment)
    segments (65533-byte max each, so long documents span several), so
    the marker walk must skip real payload-bearing segments to reach the
    SOFn. ``progressive`` emits SOF2 instead of SOF0 — both are frame
    headers, exercising the sniffer's full SOFn range.

    SOF dimensions are u16 fields (T.81 B.2.2) — unlike the PNG twin's
    u32 — so the raw PNG arithmetic can overflow height for a long text
    whose length lands on a tiny width (e.g. any 64-multiple length
    > 65535 gives width 1, ADVICE r11). The width is therefore WIDENED by
    ceil(height/65535) so height always fits; the decode oracle mirrors
    the same closed form. (Width itself stays < 2^16 for any text under
    ~4 GiB — far past any document here.)"""
    import struct

    n = len(data)
    width = n % 64 + 1
    height = max(1, -(-n // width))
    width *= -(-height // 65535)
    height = max(1, -(-n // width))
    soi = b"\xff\xd8"
    app0 = (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1)
        + b"\x00\x00"
    )
    coms = b""
    for i in range(0, n, 60000):
        chunk = data[i : i + 60000]
        coms += b"\xff\xfe" + struct.pack(">H", len(chunk) + 2) + chunk
    sof = (
        (b"\xff\xc2" if progressive else b"\xff\xc0")
        + struct.pack(">H", 11)  # 1-component frame header
        + b"\x08"  # 8-bit precision
        + struct.pack(">HH", height, width)
        + b"\x01\x11\x00"  # component 1, 1x1 sampling, qtable 0
    )
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
    return soi + app0 + coms + sof + sos + b"\x00" + b"\xff\xd9"


def _jpeg_media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc corpus -> real JPEG files: even doc_id -> progressive (SOF2),
    odd -> baseline (SOF0); document text rides COM segments. Built
    executor-side in Arrow batches, same shape as
    :func:`_real_media_from_documents`."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            blobs = [
                make_jpeg((t or "").encode("utf-8"), progressive=(did % 2 == 0))
                for did, t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame({"media_id": pdf["doc_id"].to_numpy(), "blob": blobs})

    return d.mapInPandas(build, schema="media_id long, blob binary")


@register(
    "multimodal_decode_jpeg",
    # JPEG twin of multimodal_decode (r11, VERDICT r10 missing #1): real
    # SOI/APP0/COM/SOFn marker streams parsed back by the dependency-free
    # codec; width/height are the same pure length arithmetic as make_png,
    # so the REAL marker walk (incl. skipping payload-bearing COM
    # segments and reading progressive SOF2) is hash-verified end-to-end.
    # width is widened by ceil(height0/65535) so the SOF u16 height field
    # never overflows — the same closed form as make_jpeg (ADVICE r11)
    """
    WITH src AS (
      SELECT doc_id, length(COALESCE(text, '')) AS n,
             length(COALESCE(text, '')) % 64 + 1 AS w0
      FROM documents
    ),
    dims AS (
      SELECT doc_id, n,
             w0 * CAST(ceil(
               greatest(1, CAST(ceil(n / (w0 * 1.0)) AS BIGINT)) / 65535.0
             ) AS BIGINT) AS w
      FROM src
    )
    SELECT doc_id AS media_id,
           TRUE AS ok,
           'image' AS media_type,
           'jpeg' AS format,
           CAST(w AS INT) AS width,
           CAST(greatest(1, CAST(ceil(n / (w * 1.0)) AS BIGINT)) AS INT)
             AS height
    FROM dims
    """,
    doc="REAL JPEG decode: documents wrapped in valid JPEG marker streams "
    "(JFIF APP0, COM payload segments, baseline SOF0 / progressive SOF2) "
    "and parsed back by sniff_media's marker walk via Arrow-batched "
    "mapInPandas; dimensions hash-verified.",
)
def q_multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators import multimodal as MM

    meta = MM.decode_media_meta(_jpeg_media_from_documents(spark, sf_dir))
    return meta.select(
        "media_id", "ok", "media_type", "format", "width", "height"
    )


def _real_media_from_documents(
    spark: SparkSession, sf_dir: str, parity: int | None = None
) -> DataFrame:
    """doc corpus -> real media files: even doc_id -> WAV (sample rate
    8/16/24 kHz by doc_id % 3), odd doc_id -> PNG. Built executor-side in
    Arrow batches; blobs never hit the driver.

    ``parity`` (0=WAV docs, 1=PNG docs) filters the corpus BEFORE the
    mapInPandas build: Spark cannot push a media_id filter through the
    UDF stage, so a consumer that wants only one media type must prune
    here or it pays the build cost (zlib in particular) for blobs it
    immediately discards.
    """
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if parity is not None:
        d = d.filter(F.col("doc_id") % 2 == parity)

    def build(batches):
        for pdf in batches:
            blobs = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                data = (text or "").encode("utf-8")
                if did % 2 == 0:
                    blobs.append(make_wav(data, 8000 * (1 + did % 3)))
                else:
                    blobs.append(make_png(data))
            yield pd.DataFrame({"media_id": pdf["doc_id"].to_numpy(), "blob": blobs})

    return d.mapInPandas(build, schema="media_id long, blob binary")


@register(
    "multimodal_decode",
    # Real-codec decode over real containers: every decoded field is pure
    # arithmetic on length(text) / doc_id (see make_wav/make_png), so the
    # REAL header parse (sniff_media) is hash-verified end-to-end.
    """
    WITH src AS (
      SELECT doc_id, length(COALESCE(text, '')) AS n FROM documents
    )
    SELECT doc_id AS media_id,
           TRUE AS ok,
           CASE WHEN doc_id % 2 = 0 THEN 'audio' ELSE 'image' END AS media_type,
           CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'png' END AS format,
           CASE WHEN doc_id % 2 = 0 THEN NULL
                ELSE CAST(n % 64 + 1 AS INT) END AS width,
           CASE WHEN doc_id % 2 = 0 THEN NULL
                ELSE CAST(greatest(1, CAST(ceil(n /
                       (n % 64 + 1.0)) AS BIGINT)) AS INT)
                END AS height,
           CASE WHEN doc_id % 2 = 0 THEN CAST(8000 * (1 + doc_id % 3) AS INT)
                ELSE NULL END AS sample_rate,
           CASE WHEN doc_id % 2 = 0
                THEN CAST((n * 1000) // (8000 * (1 + doc_id % 3)) AS BIGINT)
                ELSE NULL END AS duration_ms
    FROM src
    """,
    doc="REAL media decode: documents are wrapped in actual WAV/PNG files "
    "(valid RIFF chunks / zlib IDAT + CRCs) and parsed back by the "
    "dependency-free header codec sniff_media via Arrow-batched "
    "mapInPandas; width/height/sample_rate/duration all hash-verified.",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators import multimodal as MM

    meta = MM.decode_media_meta(_real_media_from_documents(spark, sf_dir))
    return meta.select(
        "media_id",
        "ok",
        "media_type",
        "format",
        "width",
        "height",
        "sample_rate",
        "duration_ms",
    )


@register(
    "multimodal_embed",
    # The stub embedding is byte[i % len]/255 over blob bytes the decode
    # oracle already reconstructs via ord(); quantizing back to the byte
    # (round(x*255)) is a LOSSLESS serialization of the float vector (the
    # float32 round-trip error is ~1.5e-5 « 0.5), so the driver hash covers
    # the full mapInPandas output. Raw array<float> cells crash the driver
    # canonicalizer (round-2 'unhashable list'), hence the emit-boundary
    # string form — same fix as array_agg_ops.
    """
    SELECT doc_id AS media_id,
           array_to_string(list_transform(range(0, 16),
             i -> CAST(CASE WHEN length(text) = 0 THEN 0
                            ELSE ord(substr(text,
                                     CAST(i % length(text) AS INT) + 1, 1))
                       END AS VARCHAR)), '|') AS embedding_q,
           CAST(16 AS INT) AS n_dim
    FROM documents
    """,
    doc="Blob -> embedding vector via mapInPandas (stub model, real "
    "plumbing); vector serialized losslessly at the emit boundary.",
)
def q_multimodal_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators import multimodal as MM

    emb = MM.extract_embedding(_media_from_documents(spark, sf_dir), dim=16)
    return emb.select(
        "media_id",
        F.concat_ws(
            "|",
            F.transform(
                "embedding",
                lambda x: F.round(x * 255).cast("int").cast("string"),
            ),
        ).alias("embedding_q"),
        F.size("embedding").alias("n_dim"),
    )


@register(
    "multimodal_frame_sample",
    # blob = utf-8 text bytes (ASCII), frames = fixed 128-byte cuts capped
    # at 4 -> frame count and per-frame length are pure arithmetic on
    # length(text), fully SQL-expressible.
    """
    WITH f AS (
      SELECT doc_id AS media_id, length(text) AS L,
             least(4, greatest(1, length(text) // 128)) AS cnt
      FROM documents
    )
    SELECT media_id, CAST(i AS INT) AS frame_idx,
           CAST(least(128, L - i * 128) AS INT) AS n
    FROM f, UNNEST(range(0, cnt)) AS u(i)
    """,
    doc="Blob -> sampled frame/chunk rows via mapInPandas "
    "(explode-then-repartition shape); chunk arithmetic oracle-checked.",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators import multimodal as MM

    frames = MM.sample_frames(
        _media_from_documents(spark, sf_dir), every_n_bytes=128, max_frames=4
    )
    return frames.select("media_id", "frame_idx", F.length("frame_bytes").alias("n"))


@register(
    "multimodal_audio_stats",
    # Real audio feature extraction over real WAV containers: PCM payload
    # = the document's utf-8 bytes (ASCII, so ord() mirrors byte values),
    # sample rate = 8/16/24 kHz by doc_id % 3 (see make_wav usage in
    # _real_media_from_documents' even branch). Unsigned 8-bit PCM has
    # silence at 0x80, so amplitude = byte - 128; peak/sum_sq are
    # integer-exact amplitude arithmetic -> fully SQL-expressible.
    """
    SELECT doc_id AS media_id, TRUE AS ok,
           CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
           CAST(length(COALESCE(text, '')) AS BIGINT) AS n_samples,
           CAST(COALESCE(list_max(list_transform(
                  range(1, length(COALESCE(text, '')) + 1),
                  i -> abs(ord(substr(text, i, 1)) - 128))), 0) AS INT) AS peak,
           CAST(COALESCE(list_sum(list_transform(
                  range(1, length(COALESCE(text, '')) + 1),
                  i -> (ord(substr(text, i, 1)) - 128)
                       * (ord(substr(text, i, 1)) - 128))),
                0) AS BIGINT) AS sum_sq
    FROM documents
    WHERE doc_id % 2 = 0
    """,
    doc="Real audio feature extraction: parse each WAV's PCM data chunk "
    "(RIFF chunk walk) and compute integer-exact waveform features "
    "(n_samples, peak, sum of squares - the RMS/loudness building blocks) "
    "via Arrow-batched mapInPandas; hash-verified against byte arithmetic "
    "on the source text.",
)
def q_multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators import multimodal as MM

    media = _real_media_from_documents(spark, sf_dir, parity=0)
    return MM.wav_pcm_stats(media)


@register(
    "multimodal_audio_frames",
    # Frame-level energy over real WAVs: PCM payload = the document's
    # ASCII bytes (amplitude = byte - 128, silence at 0x80), frames =
    # fixed 256-sample cuts capped at 8 (empty audio still emits one
    # empty frame), so frame boundaries and squared-amplitude sums are
    # pure arithmetic on length(text)/ord() — SQL-expressible.
    """
    WITH f AS (
      SELECT doc_id AS media_id,
             COALESCE(text, '') AS t,
             length(COALESCE(text, '')) AS n,
             least(8, greatest(1, CAST(ceil(length(COALESCE(text, ''))
                 / 256.0) AS BIGINT))) AS cnt
      FROM documents WHERE doc_id % 2 = 0
    )
    SELECT media_id, CAST(i AS INT) AS frame_idx,
           CAST(greatest(0, least(256, n - i * 256)) AS INT) AS n_samples,
           CAST(COALESCE(list_sum(list_transform(
                  range(CAST(i * 256 + 1 AS INT),
                        CAST(i * 256 + greatest(0, least(256, n - i * 256))
                             + 1 AS INT)),
                  j -> (ord(substr(t, j, 1)) - 128)
                       * (ord(substr(t, j, 1)) - 128))),
                0) AS BIGINT) AS frame_sum_sq
    FROM f, UNNEST(range(0, cnt)) AS u(i)
    """,
    doc="Frame-level audio energy over real WAV containers: RIFF chunk "
    "walk -> PCM payload -> fixed 256-sample windows -> integer-exact "
    "per-frame sum of squares (the VAD/silence-trim primitive), exploded "
    "inside Arrow-batched mapInPandas so media bytes never shuffle; "
    "hash-verified against chunk arithmetic on the source text.",
)
def q_multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators import multimodal as MM

    media = _real_media_from_documents(spark, sf_dir, parity=0)
    return MM.wav_pcm_frames(media, frame_samples=256, max_frames=8)


@register(
    "multimodal_resize",
    # End-to-end REAL pixel pipeline: every document becomes a real
    # grayscale PNG (pixels = its text bytes zero-padded; w0 = n%64+1,
    # h0 = ceil(n/w0) — see make_png), resize_png decodes it, resamples
    # nearest-neighbor to 8x8 and re-encodes, and the verifier decodes the
    # OUTPUT PNG again. Nearest-neighbor at out pixel (r,c) reads source
    # pixel ((r*h0)//8, (c*w0)//8) — always in range for r,c < 8 — whose
    # byte index is ri*w0 + ci into the padded text, so the decoded pixel
    # sum is pure arithmetic on the ASCII text: fully SQL-expressible.
    """
    WITH src AS (
      SELECT doc_id AS media_id,
             COALESCE(text, '') AS t,
             length(COALESCE(text, '')) AS n,
             length(COALESCE(text, '')) % 64 + 1 AS w0,
             greatest(1, CAST(ceil(length(COALESCE(text, ''))
                 / (length(COALESCE(text, '')) % 64 + 1.0)) AS BIGINT)) AS h0
      FROM documents
    )
    SELECT media_id, TRUE AS ok,
           CAST(8 AS INT) AS out_w, CAST(8 AS INT) AS out_h,
           CAST(list_sum(list_transform(range(0, 64), i ->
             CASE WHEN ((i // 8) * h0 // 8) * w0 + ((i % 8) * w0 // 8) < n
                  THEN ord(substr(t, CAST(((i // 8) * h0 // 8) * w0
                                          + ((i % 8) * w0 // 8) AS INT) + 1, 1))
                  ELSE 0 END)) AS BIGINT) AS pix_sum
    FROM src
    """,
    doc="Real image resize end-to-end: text -> spec-complete PNG -> "
    "png_decode_pixels -> 8x8 nearest-neighbor -> png_encode_pixels -> "
    "decode again; the output pixel sum is hash-verified against byte "
    "arithmetic on the source text. Three chained mapInPandas stages, "
    "zero shuffle, blobs never leave the executor.",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from etl_data_spark.operators import multimodal as MM

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].to_numpy(),
                    "blob": [
                        make_png((t or "").encode("utf-8")) for t in pdf["text"]
                    ],
                }
            )

    media = d.mapInPandas(build, schema="media_id long, blob binary")
    small = MM.resize_png(media, width=8, height=8)

    def measure(batches):
        for pdf in batches:
            ws, hs, sums, oks = [], [], [], []
            for ok, blob in zip(pdf["ok"], pdf["blob"]):
                px = MM.png_decode_pixels(blob) if ok and blob is not None else None
                if px is None:
                    oks.append(False)
                    ws.append(None)
                    hs.append(None)
                    sums.append(None)
                else:
                    oks.append(True)
                    hs.append(px.shape[0])
                    ws.append(px.shape[1])
                    sums.append(int(px.sum()))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "ok": oks,
                    "out_w": pd.array(ws, dtype="Int32"),
                    "out_h": pd.array(hs, dtype="Int32"),
                    "pix_sum": pd.array(sums, dtype="Int64"),
                }
            )

    return small.mapInPandas(
        measure,
        schema="media_id long, ok boolean, out_w int, out_h int, pix_sum long",
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

_SQL_COSINE_RAW = """
    (list_sum(list_transform(range(1, len(e.embedding) + 1),
        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
           i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, len(q.embedding) + 1),
           i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))))
"""

# NULL-on-degenerate mirror of operators.similarity.cosine(): NULLIF maps a
# zero-norm denominator to NULL like Spark's try_divide; the isnan CASE maps
# a NaN-contaminated similarity to NULL like nanvl. Value-identical to the
# raw form on corpora without degenerate embeddings. Built from named
# pieces so the (repeated) expression stays paren-balanced by construction.
def _sql_norm(t: str) -> str:
    return (
        f"sqrt(list_sum(list_transform(range(1, len({t}.embedding) + 1), "
        f"i -> CAST({t}.embedding[i] AS DOUBLE) * CAST({t}.embedding[i] AS DOUBLE))))"
    )


_SQL_COSINE_DOT = """list_sum(list_transform(range(1, len(e.embedding) + 1),
        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))"""
_SQL_COSINE_DEN = f"NULLIF({_sql_norm('e')} * {_sql_norm('q')}, 0)"
_SQL_COSINE_SAFE = f"({_SQL_COSINE_DOT} / {_SQL_COSINE_DEN})"
_SQL_COSINE_GUARDED_RAW = (
    f"(CASE WHEN isnan({_SQL_COSINE_SAFE}) THEN NULL ELSE {_SQL_COSINE_SAFE} END)"
)

_SQL_COSINE = f"ROUND({_SQL_COSINE_GUARDED_RAW}, 6)"

# floor(x*1e6 + 0.5)/1e6 — the EXACT double-arithmetic rounding the
# vectorized operator applies (np.floor over the same IEEE ops), so the
# oracle and the operator share one rounding rule instead of relying on
# np.round (half-to-even) and SQL ROUND (half-away-from-zero) agreeing.
# Degenerate rule: brute_force_topk_vectorized scores zero-norm vectors
# 0.0 (np.where(denom > 0, ., 0.0)), not NULL — so the oracle COALESCEs
# the NULL-guarded form to 0.0 BEFORE the shared floor rounding. (r10,
# ADVICE r9: the previous unguarded expression yielded NaN/NULL on a
# 0/0, silently diverging from the operator if a degenerate vector ever
# entered the benched corpus; now both sides pin the same 0.0 contract.)
_SQL_COSINE_FLOOR6 = (
    f"(FLOOR(COALESCE({_SQL_COSINE_GUARDED_RAW}, 0.0) * 1e6 + 0.5) "
    "/ 1e6 + 0.0)"
)


@register(
    "embedding_topk",
    f"""
    SELECT e.vec_id, {_SQL_COSINE} AS cosine_sim
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """,
    doc="Brute-force cosine top-k against a query vector (exact ANN baseline).",
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return S.brute_force_topk(e, list(qvec), k=10)


@register(
    "embedding_topk_vectorized",
    # Full oracle (promoted r6 from rows-only): BLAS pairwise vs SQL
    # sequential fold differ ~1e-15, far below the 6-decimal rounding both
    # sides apply, and the operator SELECTS its local top-k by the rounded
    # score with an id tiebreak — the same total order as this ORDER BY —
    # so row selection is engine-independent, not just values. Both sides
    # round with the IDENTICAL floor(x*1e6+0.5)/1e6 double arithmetic
    # (r7: np.round is half-to-even, SQL ROUND half-away-from-zero — a
    # cosine on an exact .5e-6 boundary would have flipped the hash).
    f"""
    SELECT e.vec_id, {_SQL_COSINE_FLOOR6} AS cosine_sim
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """,
    doc="BLAS-batched brute-force top-k (mapInPandas matvec, per-batch local "
    "top-k under the rounded-score order) — the high-dimension fast path of "
    "embedding_topk, hash-verified against the same SQL-cosine oracle.",
)
def q_embedding_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return S.brute_force_topk_vectorized(e, list(qvec), k=10)


@register(
    "knn_join_sample",
    f"""
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT l.vec_id AS query_id, e.vec_id AS neighbor_id,
             {_SQL_COSINE.replace("q.embedding", "l.embedding")} AS cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY l.vec_id
               ORDER BY {_SQL_COSINE.replace("q.embedding", "l.embedding")} DESC, e.vec_id
             ) AS rank
      FROM embeddings l JOIN embeddings e ON l.vec_id < 20 AND e.vec_id != l.vec_id
    ) WHERE rank <= 3
    """,
    doc="Exact k-NN join (top-3 neighbors for 20 query vectors) via window ranking.",
)
def q_knn_join_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    left = e.filter(F.col("vec_id") < 20)
    return S.knn_join(left, e, k=3)


# --- deterministic-ANN oracle machinery -------------------------------------
#
# The ANN operators are "approximate" only versus brute force: given the
# md5-seeded hyperplanes / lowest-id centroid seed, their output is a pure
# deterministic function of the data — so the FULL result is
# SQL-expressible by inlining the same plane constants (seed=42, dim=64,
# the testdata embedding width) into the oracle. Recall vs brute force
# stays pytest-gated; the driver now hash-verifies the whole algorithm
# (bucket/cell assignment included — both are emitted per row).

_ANN_DIM, _ANN_SEED, _ANN_PLANES = 64, 42, 4


def _duck_cos(a: str, b: str) -> str:
    """Cosine between two 64-dim list columns (matches operators.similarity
    fold: float->double per element, index-order sum).

    Mirrors ``cosine()``'s degenerate-input contract (similarity.py): a
    zero-norm vector makes the denominator 0 — ``NULLIF`` maps the
    division to NULL exactly like Spark's ``try_divide`` — and a
    NaN-contaminated similarity maps to NULL like ``nanvl``. So the
    oracle pins the degenerate semantics too, not just the clean-corpus
    values (on corpora with no degenerate embeddings the guarded and
    plain forms are value-identical)."""
    raw = f"""(
      list_sum(list_transform(range(1, {_ANN_DIM} + 1),
        i -> CAST({a}[CAST(i AS INT)] AS DOUBLE) * CAST({b}[CAST(i AS INT)] AS DOUBLE)))
      / NULLIF(sqrt(list_sum(list_transform(range(1, {_ANN_DIM} + 1),
           i -> CAST({a}[CAST(i AS INT)] AS DOUBLE) * CAST({a}[CAST(i AS INT)] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, {_ANN_DIM} + 1),
           i -> CAST({b}[CAST(i AS INT)] AS DOUBLE) * CAST({b}[CAST(i AS INT)] AS DOUBLE)))), 0))"""
    return f"(CASE WHEN isnan({raw}) THEN NULL ELSE {raw} END)"


def _duck_bucket(vec: str, seed: int = _ANN_SEED, planes: int = _ANN_PLANES) -> str:
    """LSH bucket id of a 64-dim list column: sign bits of dot products
    with the same md5-derived hyperplanes ``similarity._plane`` builds.
    ``seed``/``planes`` parameterize the plane-set so banded oracles can
    replay each band's independent set."""
    terms = []
    for p in range(planes):
        plane = S._plane(seed, p, _ANN_DIM)
        lst = "[" + ", ".join(repr(v) for v in plane) + "]"
        dot = (
            f"list_sum(list_transform(range(1, {_ANN_DIM} + 1), "
            f"i -> CAST({vec}[CAST(i AS INT)] AS DOUBLE) * ({lst})[CAST(i AS INT)]))"
        )
        terms.append(
            f"(CASE WHEN {dot} >= 0 THEN {1 << (planes - 1 - p)} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


# Shared by ann_lsh_topk and its at-rest twin: the serving path is
# row-identical to the on-the-fly path by construction (same planes, same
# probes, same scoring/ordering — pytest-pinned), so one oracle covers both.
_ANN_LSH_TOPK_SQL = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    b AS (
      SELECT e.vec_id,
             ROUND({_duck_cos("e.embedding", "q.qv")}, 6) AS cosine_sim,
             {_duck_bucket("e.embedding")} AS bucket,
             {_duck_bucket("q.qv")} AS qbucket
      FROM embeddings e, q
    )
    SELECT vec_id, cosine_sim, CAST(bucket AS INT) AS bucket
    FROM b
    WHERE bucket = qbucket
       OR bucket = xor(qbucket, 1) OR bucket = xor(qbucket, 2)
       OR bucket = xor(qbucket, 4) OR bucket = xor(qbucket, 8)
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """


@register(
    "ann_lsh_topk",
    _ANN_LSH_TOPK_SQL,
    doc="LSH-bucketed approximate top-k (random-hyperplane buckets, "
    "probe + Hamming-1 adjacency); deterministic given the md5 planes, so "
    "the oracle replays the full algorithm including bucket assignment.",
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    assert len(qvec) == _ANN_DIM, "oracle plane constants assume dim=64"
    return S.ann_topk(e, list(qvec), k=10, num_planes=_ANN_PLANES)


# Shared by ann_ivf_topk and its at-rest twin (same row-identity argument
# as _ANN_LSH_TOPK_SQL).
_ANN_IVF_TOPK_SQL = f"""
    WITH cents AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             embedding
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    probes AS (
      SELECT c.cid FROM cents c, q
      ORDER BY {_duck_cos("c.embedding", "q.qv")} DESC, c.cid LIMIT 3
    ),
    assigned AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cid AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_duck_cos("c.embedding", "e.embedding")} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    )
    SELECT a.vec_id, ROUND({_duck_cos("a.embedding", "q.qv")}, 6) AS cosine_sim,
           CAST(a.cell AS INT) AS cell
    FROM assigned a, q
    WHERE a.cell IN (SELECT cid FROM probes)
    ORDER BY cosine_sim DESC, a.vec_id
    LIMIT 10
    """


@register(
    "ann_ivf_topk",
    _ANN_IVF_TOPK_SQL,
    doc="IVF approximate top-k: coarse-quantize to centroid cells (seed = 8 "
    "lowest-id vectors), probe the 3 nearest cells; deterministic, so the "
    "oracle replays assignment + probe selection + scoring end-to-end.",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qvec = list(e.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    cents = S.sample_centroids(e, k=8)
    return S.ivf_topk(e, qvec, cents, k=10, n_probe=3)


# Same NULL-on-degenerate mirror as _SQL_COSINE_GUARDED_RAW, over an
# (a, b) pair of embedding rows. ROUND(NULL, 6) stays NULL in both engines.
_SQL_PAIR_COSINE_RAW = """
    (list_sum(list_transform(range(1, len(a.embedding) + 1),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      / NULLIF(sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
           i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))), 0))
"""

_SQL_PAIR_COSINE = f"""
    ROUND((CASE WHEN isnan({_SQL_PAIR_COSINE_RAW}) THEN NULL
           ELSE {_SQL_PAIR_COSINE_RAW} END), 6)
"""


@register(
    "embedding_near_dup",
    f"""
    SELECT id_a, id_b, cosine_sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_SQL_PAIR_COSINE} AS cosine_sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ) WHERE cosine_sim >= 0.4
    """,
    doc="Embedding-cosine near-duplicate pairs (exact all-pairs baseline).",
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.near_dup_pairs(e, threshold=0.4)


@register(
    "embedding_near_dup_lsh",
    # Same determinism argument as ann_lsh_topk: candidates = pairs sharing
    # the md5-plane bucket, verified cosine >= 0.4 on the rounded value —
    # the oracle replays both stages exactly.
    f"""
    WITH b AS (
      SELECT vec_id, embedding, {_duck_bucket("embedding")} AS bucket
      FROM embeddings
    ),
    p AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             ROUND({_duck_cos("a.embedding", "c.embedding")}, 6) AS cosine_sim
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    )
    SELECT id_a, id_b, cosine_sim FROM p WHERE cosine_sim >= 0.4
    """,
    doc="Embedding near-dup via ONE random-hyperplane plane-set, pinned at "
    "p=4 as the ORACLE-PARITY configuration (corpus-independent md5-plane "
    "constants, oracle replays bucket join + verify). NOT the scale path: "
    "a fixed plane count makes candidates ~n²/2^(p+1) — measured 2× rows "
    "→ 5.6× wall (SCALE.md §29). The scale path is "
    "embedding_near_dup_lsh_banded (near_dup_pairs_lsh_banded: auto-sized "
    "planes keep candidates linear, OR'd bands keep recall).",
)
def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    assert dim == _ANN_DIM, "oracle plane constants assume dim=64"
    return S.near_dup_pairs_lsh(e, dim=dim, threshold=0.4, num_planes=_ANN_PLANES)


_BANDS, _BAND_PLANES, _BAND_SEED_STEP = 4, 4, 7919


def _banded_oracle_sql() -> str:
    """Oracle for the banded LSH near-dup: per band, pairs sharing that
    band's md5-plane bucket; UNION dedups across bands (mirrors the
    operator's dropDuplicates); vectors joined back once for the exact
    verify. Fixed (bands=4, planes_per_band=4) so the plane constants are
    corpus-independent; the auto-sizing path is exercised by pytest and
    the SCALE.md §29 slope runs instead."""
    band_ctes, band_pairs = [], []
    for band in range(_BANDS):
        seed = 42 + _BAND_SEED_STEP * band
        band_ctes.append(
            f"b{band} AS (SELECT vec_id, "
            f"{_duck_bucket('embedding', seed=seed, planes=_BAND_PLANES)} AS bucket "
            "FROM embeddings)"
        )
        band_pairs.append(
            f"SELECT a.vec_id AS id_a, c.vec_id AS id_b "
            f"FROM b{band} a JOIN b{band} c "
            "ON a.bucket = c.bucket AND a.vec_id < c.vec_id"
        )
    return f"""
    WITH {", ".join(band_ctes)},
    cand AS ({" UNION ".join(band_pairs)})
    SELECT cand.id_a, cand.id_b,
           ROUND({_duck_cos("ea.embedding", "eb.embedding")}, 6) AS cosine_sim
    FROM cand
    JOIN embeddings ea ON ea.vec_id = cand.id_a
    JOIN embeddings eb ON eb.vec_id = cand.id_b
    WHERE ROUND({_duck_cos("ea.embedding", "eb.embedding")}, 6) >= 0.4
    """


@register(
    "embedding_near_dup_lsh_banded",
    _banded_oracle_sql(),
    doc="Banded sign-random-projection near-dup pairs (the corpus-scale "
    "LSH variant: independent plane-sets OR'd for recall, per-band codes "
    "sized so candidates stay linear in n — SCALE.md §29); deterministic "
    "given the md5 planes, oracle replays all 4 band joins + the "
    "cross-band dedup + the exact-cosine verify.",
)
def q_embedding_near_dup_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    assert dim == _ANN_DIM, "oracle plane constants assume dim=64"
    return S.near_dup_pairs_lsh_banded(
        e, dim=dim, threshold=0.4, bands=_BANDS, planes_per_band=_BAND_PLANES
    )


def _knn_banded_oracle_sql() -> str:
    """Oracle for the banded-LSH kNN join: per band, (query, neighbor)
    pairs sharing that band's md5-plane bucket (left side = the 20 query
    vectors, right side = the corpus); UNION dedups across bands
    (mirrors the operator's dropDuplicates); vectors join back once and
    the per-query ROW_NUMBER ranks the ROUNDED cosine with id tiebreak —
    the same total order as the operator. Fixed (bands=4,
    planes_per_band=4) so the plane constants are corpus-independent;
    the auto-sizing path is exercised by pytest and the SCALE.md slope
    runs instead."""
    band_ctes, band_pairs = [], []
    for band in range(_BANDS):
        seed = _ANN_SEED + _BAND_SEED_STEP * band
        band_ctes.append(
            f"kb{band} AS (SELECT vec_id, "
            f"{_duck_bucket('embedding', seed=seed, planes=_BAND_PLANES)} AS bucket "
            "FROM embeddings)"
        )
        band_pairs.append(
            f"SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id "
            f"FROM kb{band} l JOIN kb{band} r ON l.bucket = r.bucket "
            "AND l.vec_id < 20 AND r.vec_id != l.vec_id"
        )
    return f"""
    WITH {", ".join(band_ctes)},
    cand AS ({" UNION ".join(band_pairs)}),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             ROUND({_duck_cos("ea.embedding", "eb.embedding")}, 6) AS cosine_sim
      FROM cand
      JOIN embeddings ea ON ea.vec_id = cand.query_id
      JOIN embeddings eb ON eb.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cosine_sim DESC, neighbor_id
             ) AS rank
      FROM scored
    ) WHERE rank <= 3
    """


@register(
    "knn_join_lsh_banded",
    _knn_banded_oracle_sql(),
    doc="Banded-LSH approximate k-NN join (top-3 neighbors for 20 query "
    "vectors) — the corpus-scale variant of knn_join_sample: per-band "
    "bucket equi-joins generate candidates carrying only id pairs, the "
    "cross-band dedup merges them, vectors join back once for exact "
    "scoring, and the per-query ranking window is bounded at ~bands x "
    "target_bucket_rows candidates at ANY corpus size. Deterministic "
    "given the md5 planes; the oracle replays all 4 band joins, the "
    "dedup, the exact cosine, and the ranking.",
)
def q_knn_join_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    assert dim == _ANN_DIM, "oracle plane constants assume dim=64"
    left = e.filter(F.col("vec_id") < 20)
    return S.knn_join_lsh_banded(
        left, e, k=3, dim=dim, bands=_BANDS, planes_per_band=_BAND_PLANES
    )


# --------------------------------------------------------------------------
# At-rest ANN serving paths as first-class entries (r11): each writes its
# layout to a throwaway dir (the build is part of the query — the driver's
# correctness gate covers write + sidecar + pruned probe end-to-end) and
# probes it. Row-identical to the on-the-fly twins by construction
# (pytest-pinned), so the twins' oracles verify them. The BENCH rows for
# these names time the SERVING probe only (layout built untimed in group
# setup, bench.run_at_rest_group) — the lifecycle split a real deployment
# has: build once, probe forever.
# --------------------------------------------------------------------------


def _throwaway_layout_dir(prefix: str) -> str:
    import tempfile

    return tempfile.mkdtemp(prefix=prefix) + "/layout"


@register(
    "ann_lsh_topk_at_rest",
    _ANN_LSH_TOPK_SQL,
    doc="ann_lsh_topk served from a write_ann_bucketed layout: the corpus "
    "parquet-partitioned by bucket id, probes pruned at the file index "
    "(PartitionFilters); parameters resolve from the layout's sidecar. "
    "Row-identical to ann_lsh_topk, hash-verified by its oracle.",
)
def q_ann_lsh_topk_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qvec = list(e.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    assert len(qvec) == _ANN_DIM, "oracle plane constants assume dim=64"
    path = _throwaway_layout_dir("q_ann_lsh_at_rest_")
    S.write_ann_bucketed(
        e, path, dim=_ANN_DIM, num_planes=_ANN_PLANES, seed=_ANN_SEED
    )
    return S.ann_topk_at_rest(spark, path, qvec, k=10)


@register(
    "ann_ivf_topk_at_rest",
    _ANN_IVF_TOPK_SQL,
    doc="ann_ivf_topk served from a write_ivf_partitioned layout: probe "
    "cells prune parquet partitions; the quantizer (and vec_col) resolve "
    "from the sidecar. Row-identical to ann_ivf_topk, hash-verified by "
    "its oracle.",
)
def q_ann_ivf_topk_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qvec = list(e.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    cents = S.sample_centroids(e, k=8)
    path = _throwaway_layout_dir("q_ann_ivf_at_rest_")
    S.write_ivf_partitioned(e, path, cents)
    return S.ivf_topk_at_rest(spark, path, qvec, k=10, n_probe=3)


@register(
    "knn_join_banded_at_rest",
    _knn_banded_oracle_sql(),
    doc="knn_join_lsh_banded served from a write_ann_banded layout (one "
    "replica per band, partitioned by (band, bucket)): the query set's "
    "band codes become a single OR-of-(band, bucket) partition predicate, "
    "so the corpus side is ONE pruned scan instead of bands full "
    "re-evaluations. Row-identical to knn_join_lsh_banded, hash-verified "
    "by its oracle.",
)
def q_knn_join_banded_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    assert dim == _ANN_DIM, "oracle plane constants assume dim=64"
    path = _throwaway_layout_dir("q_knn_banded_at_rest_")
    S.write_ann_banded(
        e.select("vec_id", "embedding"),
        path,
        dim=dim,
        bands=_BANDS,
        planes_per_band=_BAND_PLANES,
        seed=_ANN_SEED,
    )
    left = e.filter(F.col("vec_id") < 20)
    return S.knn_join_lsh_banded_at_rest(spark, left, path, k=3)


# --------------------------------------------------------------------------
# Product quantization (operators/pq.py): ADC over code arrays + rerank.
# The registry entries use SEEDED codebooks (subvector slices of the k
# lowest-id vectors — train_pq(sample_rows=k, iters=0), the PQ analogue of
# sample_centroids' role for IVF) so the DuckDB oracle can replay encode +
# ADC + rerank end-to-end; production paths train with Lloyd refinement
# (train_pq(iters>0)), which only changes the codebook VALUES, not the
# algorithm under test. Measured on this corpus: ADC-only recall@10 0.38,
# rerank@100 recall 0.92 at 16 int codes vs 64 floats per row.
# --------------------------------------------------------------------------

_PQ_M, _PQ_K, _PQ_SUB, _PQ_SHORTLIST = 8, 16, 8, 100


def _duck_pq_sub_l2(a: str, b: str, s: str) -> str:
    """Squared L2 between subspace ``s`` slices (8 dims) of two list
    columns — (x-y)*(x-y) summed left-to-right, the same order as the
    operator's zip_with/aggregate fold."""
    diff = (
        f"(CAST({a}[CAST({s} * {_PQ_SUB} + i AS INT)] AS DOUBLE) - "
        f"CAST({b}[CAST({s} * {_PQ_SUB} + i AS INT)] AS DOUBLE))"
    )
    return (
        f"list_sum(list_transform(range(1, {_PQ_SUB} + 1), "
        f"i -> {diff} * {diff}))"
    )


def _duck_pq_full_l2(a: str, b: str) -> str:
    diff = f"(CAST({a}[CAST(i AS INT)] AS DOUBLE) - CAST({b}[CAST(i AS INT)] AS DOUBLE))"
    return (
        f"list_sum(list_transform(range(1, {_ANN_DIM} + 1), "
        f"i -> {diff} * {diff}))"
    )


# shared CTE prefix: seeded codebooks, per-(row, subspace) code assignment
# (first-match argmin == ROW_NUMBER with cid tiebreak), ADC score as an
# s-ordered list_sum (the operator folds subspaces left-to-right)
_PQ_SCORED_CTE = f"""
    WITH cents AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             embedding
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})
    ),
    subs AS (SELECT CAST(unnest(range(0, {_PQ_M})) AS INT) AS s),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    assign AS (
      SELECT vec_id, s, cid,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id, s
               ORDER BY {_duck_pq_sub_l2("e.embedding", "c.embedding", "s")} ASC,
                        cid ASC
             ) AS rn
      FROM embeddings e CROSS JOIN subs CROSS JOIN cents c
    ),
    scored AS (
      SELECT a.vec_id,
             ROUND(list_sum(
               list({_duck_pq_sub_l2("q.qv", "c.embedding", "a.s")}
                    ORDER BY a.s)), 6) AS adc_dist
      FROM assign a JOIN cents c ON c.cid = a.cid, q
      WHERE a.rn = 1
      GROUP BY a.vec_id
    )
"""


def _pq_seed_books(e: DataFrame) -> list:
    from etl_data_spark.operators import pq as PQ

    return PQ.train_pq(
        e, m=_PQ_M, k=_PQ_K, sample_rows=_PQ_K, iters=0
    )


@register(
    "ann_pq_adc_topk",
    _PQ_SCORED_CTE
    + """
    SELECT vec_id, adc_dist FROM scored
    ORDER BY adc_dist, vec_id
    LIMIT 10
    """,
    doc="Product-quantized ANN (Jegou et al. TPAMI'11): per-subspace "
    "argmin encode against seeded codebooks, then asymmetric-distance "
    "top-k evaluated as literal LUT lookups over the (id, code) columns "
    "only — the corpus scan never reads a vector. The oracle replays "
    "encode + ADC end-to-end.",
)
def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assert len(e.first()["embedding"]) == _ANN_DIM
    books = _pq_seed_books(e)
    qvec = list(e.filter(F.col("vec_id") == 0).first()["embedding"])
    codes = PQ.pq_encode(e, books).select("vec_id", "pq_code")
    return PQ.pq_topk(codes, qvec, books, k=10)


@register(
    "ann_pq_rerank_topk",
    _PQ_SCORED_CTE
    + f"""
    , short AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS rn
        FROM scored
      ) WHERE rn <= {_PQ_SHORTLIST}
    )
    SELECT e.vec_id,
           ROUND({_duck_pq_full_l2("e.embedding", "q.qv")}, 6) AS l2_dist
    FROM embeddings e JOIN short USING (vec_id), q
    ORDER BY l2_dist, e.vec_id
    LIMIT 10
    """,
    doc="PQ with exact rerank (the FAISS refine recipe): ADC shortlists "
    "100 candidates from the code-only scan, then only those rows' "
    "vectors are fetched (broadcast of the shortlist ids) and scored "
    "exactly — measured recall@10 0.92 on this corpus vs 0.38 ADC-only, "
    "while the corpus-sized read stays code-sized. Oracle replays "
    "encode + ADC + shortlist + exact rerank.",
)
def q_ann_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assert len(e.first()["embedding"]) == _ANN_DIM
    books = _pq_seed_books(e)
    qvec = list(e.filter(F.col("vec_id") == 0).first()["embedding"])
    codes = PQ.pq_encode(e, books).select("vec_id", "pq_code")
    return PQ.pq_topk_rerank(
        codes, e, qvec, books, k=10, shortlist=_PQ_SHORTLIST
    )


# shared CTE: seeded coarse assignment (the sample_centroids trick — the
# oracle replays ivf_assign's cosine-argmax with lowest-cid ties) + the
# within-cell semantic pair space. SemDeDup's whole trick is that the pair
# space IS the cell equi-join, so the oracle mirrors exactly that.
_SEMDEDUP_PAIRS_CTE = """
    WITH cents AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             embedding
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
    ),
    assigned AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cid AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos_ce} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    sem_pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND({cos_ab}, 6) AS cosine_sim
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
    )
"""


def _semdedup_cte() -> str:
    return _SEMDEDUP_PAIRS_CTE.format(
        cos_ce=_duck_cos("c.embedding", "e.embedding"),
        cos_ab=_duck_cos("a.embedding", "b.embedding"),
    )


_SEMDEDUP_T = 0.4  # the corpus' near-dup band (exhaustive max cosine ~0.51)


@register(
    "semantic_dedup_pairs",
    _semdedup_cte()
    + f"""
    SELECT id_a, id_b, cosine_sim FROM sem_pairs
    WHERE cosine_sim >= {_SEMDEDUP_T}
    """,
    doc="Semantic-duplicate pairs, SemDeDup-style (Abbas et al. "
    "arXiv:2303.09540; r12, VERDICT r11 missing #3): coarse-cluster the "
    "embeddings (seeded ivf_assign so the oracle replays assignment), "
    "then exact cosine ONLY within a cell — the cell equi-join bounds "
    "the pair space like LSH bands do (15.5k co-celled pairs vs 125k "
    "all-pairs on this corpus), the cheap corpus-wide semantic dedup "
    "pass standard in LLM data curation.",
)
def q_semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = S.sample_centroids(e, k=8)
    return S.semantic_dedup_pairs(e, cents, threshold=_SEMDEDUP_T)


@register(
    "semantic_dedup_survivors",
    _semdedup_cte().replace("WITH cents", "WITH RECURSIVE cents")
    + f"""
    , base AS (
      SELECT id_a, id_b FROM sem_pairs WHERE cosine_sim >= {_SEMDEDUP_T}
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM base
      UNION
      SELECT id_b, id_a FROM base
    ),
    reach(s, d) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ),
    losers AS (
      SELECT s AS vec_id FROM reach GROUP BY s
      HAVING LEAST(MIN(d), s) <> s
    )
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT vec_id FROM losers)
    """,
    doc="End-to-end semantic dedup: SemDeDup pairs -> connected "
    "components (star contraction) -> keep the min-id member per "
    "semantic cluster; the composition a curation pipeline runs after "
    "exact and shingle dedup (paraphrase-level duplicates the lexical "
    "lenses miss). Oracle = recursive transitive closure over the "
    "within-cell pair truth.",
)
def q_semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cents = S.sample_centroids(
        e.select("vec_id", "embedding"), k=8
    )
    return S.semantic_dedup(
        e, cents, threshold=_SEMDEDUP_T
    ).select("vec_id", "label")


_SQ8_SAMPLE, _SQ8_SHORTLIST = 256, 100


@register(
    "ann_sq8_rerank_topk",
    # full replay: per-dim bounds from the 256 lowest-id vectors,
    # saturating uint8 encode, dequantized-L2 shortlist, exact rerank.
    # Squares are written (x)*(x), never POW(x,2) (libm pow is not
    # guaranteed bit-equal to the multiply Spark evaluates); sums are
    # ordered list folds, never GROUP BY SUM (fold order is part of the
    # float contract).
    f"""
    WITH samp AS (
      SELECT embedding FROM embeddings ORDER BY vec_id LIMIT {_SQ8_SAMPLE}
    ),
    bounds AS (
      SELECT CAST(i AS INT) AS dim,
             MIN(CAST(embedding[CAST(i AS INT)] AS DOUBLE)) AS lo,
             MAX(CAST(embedding[CAST(i AS INT)] AS DOUBLE)) AS hi
      FROM samp, range(1, {_ANN_DIM} + 1) r(i)
      GROUP BY i
    ),
    blist AS (
      SELECT list(lo ORDER BY dim) AS los,
             list(CASE WHEN hi > lo THEN (hi - lo) / 255.0 ELSE 0.0 END
                  ORDER BY dim) AS steps,
             list(CASE WHEN hi > lo THEN 255.0 / (hi - lo) ELSE 0.0 END
                  ORDER BY dim) AS invs
      FROM bounds
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    codes AS (
      SELECT e.vec_id,
             list_transform(range(1, {_ANN_DIM} + 1), i ->
               LEAST(GREATEST(CAST(ROUND(
                 (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                  - b.los[CAST(i AS INT)]) * b.invs[CAST(i AS INT)], 0)
                 AS INT), 0), 255)) AS code
      FROM embeddings e, blist b
    ),
    sqd AS (
      SELECT c.vec_id,
             ROUND(list_sum(list_transform(
               list_transform(range(1, {_ANN_DIM} + 1), i ->
                 (CAST(q.qv[CAST(i AS INT)] AS DOUBLE)
                  - b.los[CAST(i AS INT)])
                 - c.code[CAST(i AS INT)] * b.steps[CAST(i AS INT)]),
               x -> x * x)), 6) AS sq_dist
      FROM codes c, blist b, q
    ),
    short AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY sq_dist ASC, vec_id ASC) AS rn
        FROM sqd
      ) WHERE rn <= {_SQ8_SHORTLIST}
    )
    SELECT e.vec_id,
           ROUND({_duck_pq_full_l2("e.embedding", "q.qv")}, 6) AS l2_dist
    FROM embeddings e JOIN short USING (vec_id), q
    ORDER BY l2_dist, e.vec_id
    LIMIT 10
    """,
    doc="Scalar-quantized ANN with exact rerank (FAISS SQ8): per-dim "
    f"[min,max] bounds from the {_SQ8_SAMPLE} lowest-id vectors, "
    "saturating uint8 encode (narrow Column-only map, bounds as plan "
    "literals), dequantized-L2 shortlist over the (id, code) columns "
    "only (1/4 the float bytes), exact rerank of the "
    f"{_SQ8_SHORTLIST}-candidate shortlist. The other point on the "
    "compression spectrum the PQ family spans: 4x compression at "
    "near-exact shortlist fidelity vs PQ's 32x with rerank-recovered "
    "recall. Oracle replays bounds + encode + shortlist + rerank.",
)
def q_ann_sq8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assert len(e.first()["embedding"]) == _ANN_DIM
    bounds = PQ.train_sq8(e, sample_rows=_SQ8_SAMPLE)
    qvec = list(e.filter(F.col("vec_id") == 0).first()["embedding"])
    codes = PQ.sq8_encode(e, bounds).select("vec_id", "sq_code")
    return PQ.sq8_topk_rerank(
        codes, e, qvec, bounds, k=10, shortlist=_SQ8_SHORTLIST
    )


@register(
    "semantic_dedup_at_rest",
    # identical ground truth to semantic_dedup_pairs (fresh copy of the
    # same expression — the twin's registration site stays untouched):
    # the at-rest probe reads the SAME cells the on-the-fly path assigns,
    # so the exhaustive within-cell truth verifies both.
    _semdedup_cte()
    + f"""
    SELECT id_a, id_b, cosine_sim FROM sem_pairs
    WHERE cosine_sim >= {_SEMDEDUP_T}
    """,
    doc="SemDeDup pairs served from a write_ivf_partitioned layout: the "
    "cells ARE the parquet partitions, so the pair space is a per-cell "
    "self-join of stored rows — assignment never recomputes, and the "
    "ANN layout the retrain/compact lifecycle already maintains doubles "
    "as the semantic-dedup index. Row-identical to "
    "semantic_dedup_pairs, hash-verified by the same oracle.",
)
def q_semantic_dedup_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = S.sample_centroids(e, k=8)
    path = _throwaway_layout_dir("q_semdedup_at_rest_")
    S.write_ivf_partitioned(e, path, cents)
    return S.semantic_dedup_pairs_at_rest(spark, path, threshold=_SEMDEDUP_T)


@register(
    "ann_ivfpq_rerank_at_rest",
    f"""
    WITH cents AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             embedding
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    probes AS (
      SELECT c.cid FROM cents c, q
      ORDER BY {_duck_cos("c.embedding", "q.qv")} DESC, c.cid LIMIT 3
    ),
    assigned AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cid AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_duck_cos("c.embedding", "e.embedding")} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probed AS (
      SELECT vec_id, embedding, cell FROM assigned
      WHERE cell IN (SELECT cid FROM probes)
    ),
    pqcents AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             embedding
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})
    ),
    subs AS (SELECT CAST(unnest(range(0, {_PQ_M})) AS INT) AS s),
    -- r12: RESIDUAL encoding (Jegou §IV) — codes quantize x - centroid(cell)
    resid AS (
      SELECT p.vec_id, p.cell,
             list_transform(range(1, {_ANN_DIM} + 1), i ->
               CAST(p.embedding[CAST(i AS INT)] AS DOUBLE) -
               CAST(cc.embedding[CAST(i AS INT)] AS DOUBLE)) AS rv
      FROM probed p JOIN cents cc ON cc.cid = p.cell
    ),
    -- ... and each probed cell's ADC LUT derives from query - centroid(cell)
    qresid AS (
      SELECT c.cid AS cell,
             list_transform(range(1, {_ANN_DIM} + 1), i ->
               CAST(q.qv[CAST(i AS INT)] AS DOUBLE) -
               CAST(c.embedding[CAST(i AS INT)] AS DOUBLE)) AS qrv
      FROM cents c, q WHERE c.cid IN (SELECT cid FROM probes)
    ),
    pq_assign AS (
      SELECT vec_id, s, cid,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id, s
               ORDER BY {_duck_pq_sub_l2("e.rv", "c.embedding", "s")} ASC,
                        cid ASC
             ) AS rn
      FROM resid e CROSS JOIN subs CROSS JOIN pqcents c
    ),
    pq_scored AS (
      SELECT a.vec_id,
             ROUND(list_sum(
               list({_duck_pq_sub_l2("qr.qrv", "c.embedding", "a.s")}
                    ORDER BY a.s)), 6) AS adc_dist
      FROM pq_assign a
      JOIN pqcents c ON c.cid = a.cid
      JOIN resid r2 ON r2.vec_id = a.vec_id
      JOIN qresid qr ON qr.cell = r2.cell
      WHERE a.rn = 1
      GROUP BY a.vec_id
    ),
    short AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS rn
        FROM pq_scored
      ) WHERE rn <= 50
    )
    SELECT p.vec_id,
           ROUND({_duck_pq_full_l2("p.embedding", "q.qv")}, 6) AS l2_dist
    FROM probed p JOIN short USING (vec_id), q
    ORDER BY l2_dist, p.vec_id
    LIMIT 10
    """,
    doc="The composed vector index at rest (FAISS IndexIVFPQ + refine): "
    "IVF probe cells prune parquet PARTITIONS, the ADC pass reads only "
    "the (id, code) COLUMNS of the probed rows, and the 50-candidate "
    "shortlist exact-reranks against the vectors stored in the same "
    "pruned scan. r12: codes quantize the RESIDUAL x - centroid(cell) "
    "(Jegou et al. SIV — the canonical IndexIVFPQ construction; "
    "measured ADC-only recall@10 rises at equal m/k, SCALE.md r12 "
    "addendum), with each probed cell's LUT derived from query - "
    "centroid(cell). The oracle replays coarse assignment, probe "
    "selection, residual PQ encode, per-cell ADC, shortlist, and "
    "rerank end-to-end.",
)
def q_ann_ivfpq_rerank_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assert len(e.first()["embedding"]) == _ANN_DIM
    qvec = list(e.filter(F.col("vec_id") == 0).first()["embedding"])
    path = _throwaway_layout_dir("q_ivfpq_at_rest_")
    PQ.write_ivf_pq(
        e,
        path,
        centroids=S.sample_centroids(e, k=8),
        codebooks=_pq_seed_books(e),
    )
    return PQ.ivfpq_topk_at_rest(spark, path, qvec, k=10, n_probe=3, shortlist=50)


# --------------------------------------------------------------------------
# Temporal: as-of join, sessionization, tumbling windows
# --------------------------------------------------------------------------


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table with round-agnostic ts
    handling (ns rounds read ts as long and convert; us rounds cast)."""
    from pyspark.sql import types as T

    from etl_data_spark.queries import events_ts_unit

    ts_is_ns = events_ts_unit(sf_dir) == "ns"
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField(
                "ts", T.LongType() if ts_is_ns else T.TimestampNTZType(), True
            ),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )
    if ts_is_ns:
        # needed for the lifetime of the stream (micro-batch reads resolve
        # files lazily); only flip the global flag when the data demands it
        # so us-encoded rounds don't leak schema-inference state
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the file-stream source requires a directory; expose the single parquet
    # file through a temp dir symlink (a real deployment streams a directory
    # or kafka topic — the plan downstream is identical)
    import os
    import tempfile

    stream_dir = tempfile.mkdtemp(prefix="events_stream_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(stream_dir, "events.parquet"),
    )
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(stream_dir)
        .withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000"))
            if ts_is_ns
            else F.col("ts").cast("timestamp"),
        )
    )


@register(
    "streaming_sessionize",
    # Upgraded from rows-only (r1-r2): append-mode emits a session only
    # when a LATER event closes it, so the finite replay's output is the
    # batch sessionization MINUS each user's final (still-open-at-EOF)
    # session — which IS SQL-expressible. Same gaps-and-islands core as
    # session_stats' oracle, minus the per-user max session_seq.
    """
    WITH tagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                          > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM tagged
    ),
    rolled AS (
      SELECT user_id, session_seq,
             MIN(ts) AS session_start, MAX(ts) AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sessions GROUP BY user_id, session_seq
    )
    SELECT user_id, session_start, session_end, n_events
    FROM (SELECT *, MAX(session_seq) OVER (PARTITION BY user_id) AS mx
          FROM rolled)
    WHERE session_seq < mx
    """,
    doc="applyInPandasWithState sessionization over a finite event stream, "
    "hash-verified: closed sessions equal the batch gaps-and-islands "
    "result minus each user's still-open final session.",
)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    from etl_data_spark.streaming.stateful import streaming_sessionize

    out = streaming_sessionize(
        _events_stream(spark, sf_dir),
        gap_minutes=30,
        timeout=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("q_streaming_sessions")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table("q_streaming_sessions")


@register(
    "streaming_window_counts",
    # SAME oracle as the batch twin window_agg_5min: the finite replay
    # arrives as one micro-batch (single file), so the watermark never
    # drops a row and the complete-mode state at stream end equals the
    # batch aggregation exactly — a hash-verified Structured Streaming
    # entry, demonstrating batch/stream unification of the operator.
    """
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Watermarked tumbling-window streaming aggregation driven to "
    "completion; result equals the batch window_agg_5min (same oracle).",
)
def q_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.streaming.pipeline import windowed_counts

    out = windowed_counts(
        _events_stream(spark, sf_dir), window="5 minutes", watermark="10 minutes"
    )
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("q_streaming_window_counts")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table("q_streaming_window_counts")


@register(
    "streaming_dedup_keys",
    # the finite replay's end state equals batch DISTINCT exactly: append
    # mode emits each key the first time it is seen and never again
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="Watermarked streaming dropDuplicates over (user_id, event_type): "
    "each key is emitted exactly once across all micro-batches; only the "
    "key columns are projected, so the output is deterministic even "
    "though WHICH duplicate row survives is not. Hash-verified against "
    "batch DISTINCT. State is one entry per distinct key (irreducible "
    "for exact dedup); for unbounded streams with a late-dup bound, "
    "dropDuplicatesWithinWatermark bounds state by time instead.",
)
def q_streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _events_stream(spark, sf_dir)
    out = (
        s.withWatermark("ts", "10 minutes")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("q_streaming_dedup_keys")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table("q_streaming_dedup_keys")


@register(
    "streaming_stream_join",
    # batch twin: the same time-range join as plain SQL. The finite replay
    # is one micro-batch, so the inner join's emitted set equals the batch
    # result exactly (watermarks only bound state, never drop matches here)
    """
    SELECT p.user_id AS p_user, p.event_id AS purchase_id,
           c.event_id AS click_id, p.ts AS purchase_ts, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL '30 minutes'
    """,
    doc="Watermarked stream-stream join (purchases x preceding same-user "
    "clicks within 30 min), driven to completion and hash-verified "
    "against the batch range join. Both sides carry watermarks + a "
    "time-range predicate so buffered state is bounded by gap + "
    "watermark horizon — the unbounded-stream requirement.",
)
def q_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.streaming.pipeline import stream_stream_join

    s = _events_stream(spark, sf_dir)
    clicks = s.filter(F.col("event_type") == "click")
    purchases = s.filter(F.col("event_type") == "purchase")
    out = stream_stream_join(clicks, purchases, max_gap_minutes=30)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("q_streaming_stream_join")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table("q_streaming_stream_join")


@register(
    "streaming_dq_counts",
    # batch twin: complete-mode state at stream end = the same tumbling
    # grouping computed in plain SQL
    """
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           CAST(COUNT(*) FILTER (WHERE value < 0) AS BIGINT)
             AS n_negative_value,
           CAST(COUNT(*) FILTER (WHERE user_id IS NULL) AS BIGINT)
             AS n_null_user,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM events GROUP BY 1
    """,
    doc="Continuous data-quality counters (the reference's DQ checks as a "
    "stream): per-5-minute violation counts with a watermark, driven to "
    "completion and hash-verified against the batch grouping. The "
    "reference runs DQ as a post-load batch function "
    "(fn_dq_checks_load.sql); this is the always-on form.",
)
def q_streaming_dq_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.streaming.pipeline import streaming_dq_counts

    out = streaming_dq_counts(_events_stream(spark, sf_dir))
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("q_streaming_dq_counts")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table("q_streaming_dq_counts")


@register(
    "streaming_static_enrich",
    """
    SELECT e.event_id, e.user_id, c.c_mktsegment
    FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
    """,
    doc="Stream-static enrichment: each event joined to the broadcast "
    "customer dimension per micro-batch (no cross-batch join state; dim "
    "updates picked up automatically). Stateless append — hash-verified "
    "against the batch left join.",
)
def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.queries import load_table
    from etl_data_spark.streaming.pipeline import stream_static_enrich

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = stream_static_enrich(
        _events_stream(spark, sf_dir), dim, on="user_id"
    ).select("event_id", "user_id", "c_mktsegment")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("q_streaming_static_enrich")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table("q_streaming_static_enrich")


@register(
    "resample_ffill_grid",
    # gap-filled grid mirrored via generate_series + ASOF join semantics
    """
    WITH bounds AS (
      SELECT user_id,
             time_bucket(INTERVAL '5 minutes', MIN(ts)) AS t0,
             MAX(ts) AS t1
      FROM events GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(t0, t1, INTERVAL '5 minutes')) AS grid_ts
      FROM bounds
    ),
    last_obs AS (
      SELECT user_id, time_bucket(INTERVAL '5 minutes', ts) AS b, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, time_bucket(INTERVAL '5 minutes', ts)
                                ORDER BY ts DESC) AS rn
      FROM events
    ),
    bucket_vals AS (SELECT user_id, b, value FROM last_obs WHERE rn = 1)
    SELECT g.user_id, g.grid_ts,
           CAST(v.value AS DOUBLE) AS value,
           (bv.b IS NULL) AS filled
    FROM grid g
    ASOF LEFT JOIN bucket_vals v
      ON g.user_id = v.user_id AND v.b <= g.grid_ts
    LEFT JOIN bucket_vals bv ON bv.user_id = g.user_id AND bv.b = g.grid_ts
    """,
    doc="applyInPandas per-key resample-to-grid with forward fill; oracle "
    "mirrors it as generate_series + ASOF join.",
)
def q_resample_ffill_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.timeseries import resample_ffill

    e = load_table(spark, sf_dir, "events")
    return resample_ffill(e, freq_minutes=5)


@register(
    "asof_join_purchase_click",
    """
    SELECT l.event_id, l.user_id, l.ts, r.event_id AS event_id_right
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
      ON l.user_id = r.user_id AND r.ts <= l.ts
    """,
    doc="As-of join: latest preceding click per purchase (union+window, one shuffle).",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    return TP.asof_join(
        purchases, clicks, on="ts", by="user_id", right_cols=["event_id"]
    )


@register(
    "session_stats",
    """
    WITH tagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM tagged
    )
    SELECT user_id,
           concat(CAST(user_id AS VARCHAR), '#', CAST(session_seq AS VARCHAR)) AS session_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    doc="Sessionization (30-min gap) + per-session rollup; batch twin of session_window.",
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    return TP.session_stats(e, ts_col="ts", key_col="user_id", gap_minutes=30)


@register(
    "session_window_native",
    # same sessionization ground truth as session_stats, projected to the
    # native session_window output shape
    """
    WITH tagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM tagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    doc="Built-in session_window aggregation (gap-merged event-time "
    "sessions); oracle is the lag+cumsum sessionization — proving the "
    "native operator and the hand-rolled one agree.",
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "window_agg_5min",
    """
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 5-minute window aggregation (batch form of the streaming query).",
)
def q_window_agg_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
        )
    )


# --------------------------------------------------------------------------
# Embedding PCA: one-pass Gram matrix (operators/pca.py)
# --------------------------------------------------------------------------


@register(
    "embedding_gram_matrix",
    """
    WITH x AS (
      SELECT vec_id, CAST(t.i AS INT) AS i,
             CAST(CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE)
                  AS DECIMAL(18,9)) AS x
      FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
    )
    SELECT a.i AS i, b.i AS j,
           CAST(ROUND(SUM(a.x * b.x), 9) AS DOUBLE) AS gram
    FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
    """,
    doc="Upper-triangle Gram matrix X'X of the embedding table — the "
    "one-pass sufficient statistic for distributed PCA "
    "(operators/pca.py): d^2 driver-side doubles summarize N vectors, "
    "so component extraction never rescans the data. This entry is the "
    "exact decimal construction (posexplode + id self-join, "
    "fold-order-independent, hence hash-verifiable); the production "
    "BLAS partial-Gram mapInPandas path and the full project step are "
    "pinned equal to it in tests/test_operators.py.",
)
def q_embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.pca import gram_matrix

    return gram_matrix(load_table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# Passage-level overlap: shared winnow-fingerprint pairs
# --------------------------------------------------------------------------

_PASSAGE_MAX_DF = 50  # drop fingerprints shared by more docs (boilerplate)
_PASSAGE_MIN_SHARED = 3


@register(
    "passage_overlap",
    f"""
    WITH f AS ({_SQL_WINNOW}),
    keep AS (
      SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= {_PASSAGE_MAX_DF}
    ),
    ff AS (SELECT f.doc_id, f.fp FROM f JOIN keep USING (fp))
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM ff a JOIN ff b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_PASSAGE_MIN_SHARED}
    """,
    doc="Passage-level overlap detection: document pairs sharing >= 3 "
    "distinct winnowing fingerprints — the cross-document contamination "
    "screen full-text dedup misses (a copied paragraph inside otherwise "
    "different documents). Inverted-index join on the fingerprint (never "
    "all-pairs), with a document-frequency cap that drops boilerplate "
    "fingerprints before the join — the same hot-key guard the n-gram "
    "Jaccard family uses, which bounds per-fingerprint fan-out at scale. "
    "Winnowing guarantees any shared token run >= k+w-1 yields a shared "
    "fingerprint, so recall over long passages is structural, not "
    "probabilistic.",
)
def q_passage_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    f = pin(TX.with_winnow_fingerprints(
        d, "doc_id", "text", k=_WINNOW_K, w=_WINNOW_W
    ))
    keep = f.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _PASSAGE_MAX_DF
    )
    ff = f.join(keep.select("fp"), "fp")
    a = ff.select(F.col("doc_id").alias("d1"), "fp")
    b = ff.select(F.col("doc_id").alias("d2"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= _PASSAGE_MIN_SHARED)
    )


@register(
    "setsim_join_prefix",
    _SQL_PAIR_JACCARD.format(shingles=_SQL_SHINGLES, threshold=0.4),
    doc="Exact Jaccard >= 0.4 pairs via PPJoin-style PREFIX filtering "
    "(operators/dedup.py::setsim_prefix_pairs): only each doc's "
    "n - ceil(t*n) + 1 rarest shingles (global document-frequency "
    "order) enter the inverted index, so hot boilerplate shingles never "
    "generate candidates — the candidate-pruned exact alternative to "
    "full inverted-index Jaccard, verified per pair with one "
    "array_intersect/array_union. Oracle = exhaustive all-pairs truth, "
    "which the prefix-filter lemma guarantees the pruned plan equals.",
)
def q_setsim_join_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.setsim_prefix_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.4)


# --------------------------------------------------------------------------
# RAG-style overlapping document chunking
# --------------------------------------------------------------------------

_CHUNK_SIZE, _CHUNK_OVERLAP = 32, 8
_CHUNK_STEP = _CHUNK_SIZE - _CHUNK_OVERLAP


@register(
    "doc_chunking",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id, toks,
             unnest(range(1, len(toks) + 1, {_CHUNK_STEP})) AS s
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST((s - 1) / {_CHUNK_STEP} AS INT) AS chunk_id,
           array_to_string(toks[s:s + {_CHUNK_SIZE - 1}], ' ') AS chunk_text,
           CAST(len(toks[s:s + {_CHUNK_SIZE - 1}]) AS INT) AS n_tokens
    FROM c
    """,
    doc=f"Overlapping token-window chunker (size {_CHUNK_SIZE}, overlap "
    f"{_CHUNK_OVERLAP}) — the retrieval-corpus preparation step between "
    "cleaning and embedding. Pure Column expressions: sequence() of "
    "chunk starts + transform/slice + posexplode, all JVM-side (no "
    "Python, no UDTF needed), and embarrassingly parallel — each doc "
    "expands independently, so the operator pipelines into the scan "
    "stage at 100 TB with zero shuffles.",
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    # let-bind the token array via transform-over-single-element so the
    # interpreted split/filter expression is evaluated once per row
    chunks = F.explode(
        F.transform(
            F.array(toks),
            lambda tk: F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(tk), F.lit(1)), F.lit(_CHUNK_STEP)
                ),
                lambda s: F.struct(
                    ((s - 1) / _CHUNK_STEP).cast("int").alias("chunk_id"),
                    F.array_join(F.slice(tk, s, _CHUNK_SIZE), " ").alias(
                        "chunk_text"
                    ),
                    F.size(F.slice(tk, s, _CHUNK_SIZE)).alias("n_tokens"),
                ),
            ),
        )
    )
    # empty docs surface as a single n_tokens=0 chunk (slice of an empty
    # array); filtering on the OUTPUT column drops them without a second
    # evaluation of the interpreted split/filter expression (a size(toks)
    # pre-filter would re-evaluate it per row — the §11 discipline)
    return (
        d.select("doc_id", chunks.alias("cs"))
        .select("doc_id", F.explode("cs").alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.n_tokens").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )


_LATE_DELAY_MIN = 59  # watermark delay; deliberately off the 5-min grid
_LATE_BATCHES = 3


@register(
    "streaming_late_data_drop",
    # Oracle = a SQL simulation of Structured Streaming's watermark
    # protocol over a DETERMINISTIC 3-micro-batch replay (batch key =
    # event_id % 3, with the globally-latest event pinned to batch 0 so
    # the watermark trajectory is unambiguous). Empirically pinned
    # semantics of this Spark version (see test_streaming.py):
    # the watermark EFFECTIVE in batch k derives from data through batch
    # k-2 (the progress log shows the updated value one batch before it
    # filters input), rows are dropped when their window END is at or
    # below that watermark, and append mode emits exactly the windows
    # whose end is at or below the FINAL watermark when the replay ends.
    f"""
    WITH gm AS (SELECT MAX(ts) AS gmax FROM events),
    b AS (
      SELECT e.*,
             CASE WHEN e.ts = gm.gmax THEN 0
                  ELSE CAST(e.event_id % {_LATE_BATCHES} AS INT) END AS bk
      FROM events e CROSS JOIN gm
    ),
    bm AS (SELECT bk, MAX(ts) AS bmax FROM b GROUP BY bk),
    wmt AS (
      SELECT bk,
             MAX(bmax) OVER (ORDER BY bk
               ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
               - INTERVAL {_LATE_DELAY_MIN} MINUTE AS wm_eff
      FROM bm
    ),
    kept AS (
      SELECT b.event_type,
             time_bucket(INTERVAL '5 minutes', b.ts) AS window_start
      FROM b JOIN wmt USING (bk)
      WHERE wmt.wm_eff IS NULL
         OR time_bucket(INTERVAL '5 minutes', b.ts) + INTERVAL 5 MINUTE
            > wmt.wm_eff
    )
    SELECT window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM kept CROSS JOIN gm
    WHERE window_start + INTERVAL 5 MINUTE
          <= gm.gmax - INTERVAL {_LATE_DELAY_MIN} MINUTE
    GROUP BY 1, 2
    """,
    doc="Watermark LATE-DATA DROP semantics, hash-verified: the events "
    "table replays as 3 deterministic micro-batches (maxFilesPerTrigger"
    "=1, mtime-ordered files, batch = event_id mod 3 with the latest "
    "event pinned to batch 0), so batches 1-2 contain genuinely late "
    "rows once the watermark advances. The oracle simulates the exact "
    "protocol: per-batch watermark (two-batch update lag, pinned by "
    "test), window-end drop predicate, and append-mode final emission. "
    "Every other streaming entry arranges for zero drops; this one "
    "proves the drop path itself matches a closed-form spec.",
)
def q_streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    gmax = e.agg(F.max("ts")).first()[0]
    bk = F.when(F.col("ts") == F.lit(gmax), F.lit(0)).otherwise(
        (F.col("event_id") % _LATE_BATCHES).cast("int")
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:10]
    base = f"/tmp/etl_late_replay_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(f"{base}/stream")
    for k in range(_LATE_BATCHES):
        tmp = f"{base}/w{k}"
        e.filter(bk == k).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = f"{base}/stream/b{k}.parquet"
        shutil.copy(f"{tmp}/{part}", dst)
        # FileStreamSource orders by modification time: pin it explicitly
        os.utime(dst, (1_000_000 + k, 1_000_000 + k))
    schema = spark.read.parquet(f"{base}/stream").schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{base}/stream")
    )
    agg = (
        s.withWatermark("ts", f"{_LATE_DELAY_MIN} minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    name = f"q_streaming_late_{tag}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


# --------------------------------------------------------------------------
# MMR diversified re-ranking (round 3 continuation)
# --------------------------------------------------------------------------

_MMR_C, _MMR_K = 16, 5
_MMR_LAM, _MMR_ONE_MINUS = 0.7, 0.3  # written as literals in BOTH engines


def _mmr_sql() -> str:
    """Greedy MMR unrolled into chained CTEs (the pagerank-oracle trick):
    sel_t picks the argmax of lam*rel - (1-lam)*max_sim_to_selected over
    the remaining candidates, one CTE per rank. All scores are rounded
    to 9dp before comparison so argmax ties resolve identically in both
    engines (then vec_id breaks exact ties)."""
    cos_q = _duck_cos("e.embedding", "q.qv")
    cos_ab = _duck_cos("a.embedding", "b.embedding")
    sql = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.embedding, ROUND({cos_q}, 9) AS rel
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != 0
      ORDER BY rel DESC, e.vec_id LIMIT {_MMR_C}
    ),
    simm AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib, ROUND({cos_ab}, 9) AS sim
      FROM cand a JOIN cand b ON a.vec_id != b.vec_id
    ),
    sel1 AS (
      SELECT vec_id, rel, rel AS mmr, 1 AS mmr_rank
      FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    ),
    all1 AS (SELECT * FROM sel1)"""
    for t in range(2, _MMR_K + 1):
        sql += f""",
    sel{t} AS (
      SELECT c.vec_id, c.rel,
             ROUND({_MMR_LAM}e0 * c.rel - {_MMR_ONE_MINUS}e0 *
               (SELECT MAX(s.sim) FROM simm s
                JOIN all{t - 1} p ON s.ib = p.vec_id
                WHERE s.ia = c.vec_id), 9) AS mmr,
             {t} AS mmr_rank
      FROM cand c
      WHERE c.vec_id NOT IN (SELECT vec_id FROM all{t - 1})
      ORDER BY mmr DESC, c.vec_id LIMIT 1
    ),
    all{t} AS (SELECT * FROM all{t - 1} UNION ALL SELECT * FROM sel{t})"""
    sql += f"""
    SELECT mmr_rank, vec_id,
           ROUND(rel, 6) + 0.0 AS relevance,
           ROUND(mmr, 6) + 0.0 AS mmr_score
    FROM all{_MMR_K} ORDER BY mmr_rank
    """
    return sql


@register(
    "mmr_diverse_topk",
    _mmr_sql(),
    doc=f"Maximal-marginal-relevance re-ranking: from the top-{_MMR_C} "
    "cosine candidates for query vec 0, greedily select "
    f"{_MMR_K} results maximizing lam*relevance - (1-lam)*max-"
    "similarity-to-already-selected (lam=0.7) — the standard retrieval "
    "diversification step between ANN candidate generation and LLM "
    "context packing. The greedy recursion is 5 chained tiny-frame "
    "steps (anti-join remaining, max-sim aggregate, "
    "TakeOrderedAndProject argmax); all frames after candidate "
    "selection are candidate-sized, so the loop costs nothing at any "
    "corpus scale — the corpus-sized work is exactly one brute-force "
    "scan (swap in the LSH/IVF path for candidates at 100 TB).",
)
def q_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.similarity import cosine

    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    q = F.expr(_sx.dbl_array(qvec))
    # localCheckpoint, not persist: the greedy loop builds 5 chained
    # plans over these frames — with lazy caching each step re-plans
    # (and can re-run) the corpus-sized candidate scan, measured 4.6s;
    # eager checkpoints pin the 16-row frames once, 1.1s
    cand = (
        e.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "embedding",
            F.round(cosine(F.col("embedding"), q), 9).alias("rel"),
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(_MMR_C)
    )
    cand = truncate_lineage(cand)
    a = cand.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = cand.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    simm = (
        a.crossJoin(b)
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            F.round(cosine(F.col("va"), F.col("vb")), 9).alias("sim"),
        )
    )
    simm = truncate_lineage(simm)
    selected = (
        cand.orderBy(F.desc("rel"), "vec_id")
        .limit(1)
        .select(
            "vec_id",
            "rel",
            F.col("rel").alias("mmr"),
            F.lit(1).alias("mmr_rank"),
        )
    )
    for t in range(2, _MMR_K + 1):
        rem = cand.join(
            selected.select("vec_id"), "vec_id", "left_anti"
        )
        ms = (
            simm.join(
                selected.select(F.col("vec_id").alias("ib")), "ib"
            )
            .groupBy("ia")
            .agg(F.max("sim").alias("maxsim"))
        )
        pick = (
            rem.join(ms, rem["vec_id"] == ms["ia"])
            .select(
                "vec_id",
                "rel",
                F.round(
                    F.lit(_MMR_LAM) * F.col("rel")
                    - F.lit(_MMR_ONE_MINUS) * F.col("maxsim"),
                    9,
                ).alias("mmr"),
            )
            .orderBy(F.desc("mmr"), "vec_id")
            .limit(1)
            .withColumn("mmr_rank", F.lit(t))
        )
        selected = truncate_lineage(selected.unionByName(pick))
    return selected.select(
        "mmr_rank",
        "vec_id",
        (F.round(F.col("rel"), 6) + F.lit(0.0)).alias("relevance"),
        (F.round(F.col("mmr"), 6) + F.lit(0.0)).alias("mmr_score"),
    ).orderBy("mmr_rank")


@register(
    "dedup_incremental_pairs",
    # Ground-truth oracle: the exhaustive pair list restricted to pairs
    # touching the delta batch. LSH miss probability at threshold 0.8
    # (H=64, b=16, r=4) is < 1e-14 per qualifying pair, so the
    # delta-scoped candidate join + exact verify must equal it.
    "SELECT * FROM ("
    + _SQL_PAIR_JACCARD.format(shingles=_SQL_SHINGLES, threshold=0.8)
    + f") WHERE id_a >= {_DELTA_FROM} OR id_b >= {_DELTA_FROM}",
    doc="Incremental (delta-batch) near-dup detection: only pairs "
    f"involving newly-ingested docs (doc_id >= {_DELTA_FROM}) are "
    "candidates — the broadcast delta-banded join against the corpus "
    "band table, the pattern that makes continuous dedup affordable "
    "at 100 TB (per-ingest cost scales with the batch, not the "
    "corpus; base signatures would be a persisted table in "
    "production). Output equals the exhaustive pair truth restricted "
    "to the delta.",
)
def q_dedup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs_incremental(
        d,
        delta_pred=F.col("doc_id") >= _DELTA_FROM,
        shingle_n=3,
        num_hashes=64,
        bands=16,
        threshold=0.8,
    )


@register(
    "dedup_incremental_at_rest",
    # Same ground truth as dedup_incremental_pairs (identical expression,
    # built fresh so the twin's registration site stays untouched): the
    # at-rest probe is row-identical to the on-the-fly path by
    # construction (pytest-pinned), so the exhaustive delta-restricted
    # pair list verifies it too.
    "SELECT * FROM ("
    + _SQL_PAIR_JACCARD.format(shingles=_SQL_SHINGLES, threshold=0.8)
    + f") WHERE id_a >= {_DELTA_FROM} OR id_b >= {_DELTA_FROM}",
    doc="Incremental near-dup detection served from a write_minhash_bands "
    "layout (r12, VERDICT r11 #1): the base corpus' band table and "
    "shingle sets are PERSISTED (sidecar-described, band_idx-partitioned), "
    f"so the batch (doc_id >= {_DELTA_FROM}) is the only thing shingled "
    "and signed — per-ingest cost tracks |delta| + one narrow band-table "
    "scan, never corpus text bytes, closing the on-the-fly twin's "
    "documented recompute-the-corpus-per-batch gap. The query builds the "
    "layout in a throwaway dir (write + sidecar + probe covered "
    "end-to-end); the BENCH row times the probe only.",
)
def q_dedup_incremental_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    path = _throwaway_layout_dir("q_dedup_bands_at_rest_")
    D.write_minhash_bands(
        d.filter(F.col("doc_id") < _DELTA_FROM),
        path,
        shingle_n=3,
        num_hashes=64,
        bands=16,
    )
    return D.dedup_incremental_at_rest(
        d.filter(F.col("doc_id") >= _DELTA_FROM), path, threshold=0.8
    )


@register(
    "embedding_drift",
    f"""
    WITH tagged AS (
      SELECT vec_id, embedding,
             vec_id % 2 = 0 AS cohort_a
      FROM embeddings
    ),
    dims AS (
      SELECT cohort_a, i AS dim,
             SUM(CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE), 7)
                 AS DECIMAL(20,7))) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM tagged, range(1, {_ANN_DIM} + 1) r(i)
      GROUP BY cohort_a, i
    ),
    cent AS (
      SELECT dim,
             MAX(CASE WHEN cohort_a THEN CAST(s AS DOUBLE) / n END) AS ca,
             MAX(CASE WHEN NOT cohort_a THEN CAST(s AS DOUBLE) / n END) AS cb
      FROM dims GROUP BY dim
    )
    SELECT ROUND(SUM(ca * cb) / (SQRT(SUM(ca * ca)) * SQRT(SUM(cb * cb))),
                 6) + 0.0 AS centroid_cosine,
           ROUND(SQRT(SUM((ca - cb) * (ca - cb))), 6) + 0.0
             AS centroid_l2_dist
    FROM cent
    """,
    doc="Embedding-distribution drift between two cohorts (even vs odd "
    "vec_id): cosine and L2 distance between the cohort centroids — "
    "the cheap embedding-health probe run after any encoder or "
    "pipeline change (centroid shift = systematic drift even when "
    "per-vector changes look small). Per-dimension sums are "
    "7dp-quantized decimals (fold-order-exact); the 64-dim centroid "
    "frame is where all the float math happens. Shape: one "
    "posexplode-style scan reduced to (cohort, dim) — 128 rows at any "
    "corpus size.",
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    tagged = e.select(
        (F.col("vec_id") % 2 == 0).alias("cohort_a"),
        F.posexplode("embedding").alias("pos", "val"),
    )
    dims = tagged.groupBy(
        "cohort_a", (F.col("pos") + 1).alias("dim")
    ).agg(
        F.sum(
            F.round(F.col("val").cast("double"), 7).cast("decimal(20,7)")
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    cent = dims.groupBy("dim").agg(
        F.max(
            F.when(
                F.col("cohort_a"), F.col("s").cast("double") / F.col("n")
            )
        ).alias("ca"),
        F.max(
            F.when(
                ~F.col("cohort_a"), F.col("s").cast("double") / F.col("n")
            )
        ).alias("cb"),
    )
    return cent.agg(
        (
            F.round(
                F.sum(F.col("ca") * F.col("cb"))
                / (
                    F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                    * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("centroid_cosine"),
        (
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("ca") - F.col("cb"))
                        * (F.col("ca") - F.col("cb"))
                    )
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("centroid_l2_dist"),
    )


@register(
    "lang_id_kappa",
    f"""
    WITH pred AS (
      SELECT lang AS truth, {_LANG_CASE} AS guess
      FROM (
        SELECT doc_id, lang,
               {", ".join(f"{_sql_lang_score(lang)} AS s_{lang}" for lang in _LANGS)}
        FROM documents
      )
    ),
    conf AS (
      SELECT truth, guess, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY truth, guess
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM conf),
    marg AS (
      SELECT COALESCE(r.truth, c.guess) AS cls,
             COALESCE(r.rn, 0) AS rn, COALESCE(c.cn, 0) AS cn
      FROM (SELECT truth, SUM(n) AS rn FROM conf GROUP BY truth) r
      FULL OUTER JOIN
           (SELECT guess, SUM(n) AS cn FROM conf GROUP BY guess) c
        ON c.guess = r.truth
    ),
    agg AS (
      SELECT
        (SELECT CAST(SUM(CASE WHEN truth = guess THEN n ELSE 0 END)
                AS BIGINT) FROM conf) AS n_agree,
        (SELECT CAST(SUM(rn * cn) AS BIGINT) FROM marg) AS chance_prod,
        (SELECT nn FROM tot) AS nn
    )
    SELECT nn AS n_docs,
           ROUND(CAST(n_agree AS DOUBLE) / nn, 6) + 0.0 AS accuracy,
           ROUND((CAST(n_agree AS DOUBLE) / nn
                  - CAST(chance_prod AS DOUBLE) / (CAST(nn AS DOUBLE) * nn))
                 / (1.0 - CAST(chance_prod AS DOUBLE)
                    / (CAST(nn AS DOUBLE) * nn)), 6) + 0.0 AS cohen_kappa
    FROM agg
    """,
    doc="Cohen's kappa of the stopword-marker language-ID heuristic "
    "against the labeled lang column — chance-corrected agreement, the "
    "honest readout for a classifier whose classes are imbalanced "
    "(accuracy alone flatters the majority class). The engine "
    "evaluates ITS OWN lang_id operator here: confusion counts are one "
    "partial-agg groupBy on a 25-cell key; marginals and the kappa "
    "formula run on that tiny frame with exact integer counts. On the "
    "synthetic corpus the lang label is independent of the text, and "
    "kappa ~= 0 says so while raw accuracy (~0.35) would not — which "
    "is precisely the metric's job.",
)
def q_lang_id_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("truth"),
        TX.language_id("text").alias("guess"),
    )
    conf = pin(pred.groupBy("truth", "guess").agg(
        F.count(F.lit(1)).alias("n")
    ))
    nn = conf.agg(F.sum("n").alias("nn"))
    n_agree = conf.filter(F.col("truth") == F.col("guess")).agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_agree")
    )
    rmarg = conf.groupBy("truth").agg(F.sum("n").alias("rn"))
    cmarg = conf.groupBy("guess").agg(F.sum("n").alias("cn"))
    marg = rmarg.join(
        cmarg, rmarg["truth"] == cmarg["guess"], "full_outer"
    ).select(
        F.coalesce(F.col("rn"), F.lit(0)).alias("rn"),
        F.coalesce(F.col("cn"), F.lit(0)).alias("cn"),
    )
    chance = marg.agg(
        F.sum(F.col("rn") * F.col("cn")).alias("chance_prod")
    )
    j = (
        F.broadcast(nn)
        .crossJoin(F.broadcast(n_agree))
        .crossJoin(F.broadcast(chance))
    )
    po = F.col("n_agree").cast("double") / F.col("nn")
    pe = F.col("chance_prod").cast("double") / (
        F.col("nn").cast("double") * F.col("nn")
    )
    return j.select(
        F.col("nn").alias("n_docs"),
        (F.round(po, 6) + F.lit(0.0)).alias("accuracy"),
        (F.round((po - pe) / (1.0 - pe), 6) + F.lit(0.0)).alias(
            "cohen_kappa"
        ),
    )


_GEOMED_ITERS = 5


def _geomed_sql(iters: int = _GEOMED_ITERS) -> str:
    """Weiszfeld unrolled: c0 = per-dim mean; each step reweights by
    1/dist(x_i, c). Per-term products are 9dp-quantized decimals so the
    corpus-sized sums are fold-order-exact; c is re-rounded to 9dp each
    step, so both engines walk the identical trajectory."""
    dims = _ANN_DIM
    dist_expr = (
        f"GREATEST(SQRT(list_sum(list_transform(range(1, {dims} + 1), "
        "i -> (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - carr[CAST(i AS INT)]) "
        "* (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - carr[CAST(i AS INT)])))), "
        "1e-12)"
    )
    sql = f"""
    WITH c0 AS (
      SELECT i AS dim,
             ROUND(CAST(SUM(CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE), 7)
                   AS DECIMAL(20,7))) AS DOUBLE) / COUNT(*), 9) AS val
      FROM embeddings, range(1, {dims} + 1) r(i)
      GROUP BY i
    )"""
    for t in range(1, iters + 1):
        sql += f""",
    d{t} AS (
      SELECT e.vec_id, {dist_expr} AS dist
      FROM embeddings e,
           (SELECT list(val ORDER BY dim) AS carr FROM c{t - 1})
    ),
    w{t} AS (
      SELECT CAST(SUM(CAST(ROUND(1.0 / dist, 9) AS DECIMAL(20,9)))
                  AS DOUBLE) AS wsum
      FROM d{t}
    ),
    c{t} AS (
      SELECT i AS dim,
             ROUND(CAST(SUM(CAST(ROUND((1.0 / d.dist)
                   * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE), 9)
                   AS DECIMAL(20,9))) AS DOUBLE)
                   / (SELECT wsum FROM w{t}), 9) AS val
      FROM embeddings e
      JOIN d{t} d USING (vec_id), range(1, {dims} + 1) r(i)
      GROUP BY i
    )"""
    sql += f"""
    SELECT dim, ROUND(val, 6) + 0.0 AS coord
    FROM c{iters} ORDER BY dim
    """
    return sql


@register(
    "geometric_median",
    _geomed_sql(),
    doc="Geometric median of the embedding corpus by 5 unrolled "
    "Weiszfeld iterations — the robust centroid (a few corrupt or "
    "adversarial vectors cannot drag it the way they drag the mean; "
    "the right aggregate for building reference embeddings from noisy "
    "corpora). Determinism: per-row distances are sequential 64-dim "
    "array folds against the PREVIOUS centroid (re-rounded to 9dp "
    "each step), and every corpus-sized sum is of 9dp-quantized "
    "decimal terms — fold-order-exact, so both engines walk the "
    "identical trajectory. Scale shape per step: one scan computing "
    "distances (array fold, no shuffle), one posexplode partial-agg "
    "to the 64-dim frame; the centroid rides as a 64-double literal "
    "(driver-side, the documented k-row collect class).",
)
def q_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).persist()
    try:
        return _weiszfeld(e)
    finally:
        # the result is a driver-literal frame — fully decoupled, so the
        # scratch embedding cache is released before return
        # (self-containment contract, caching.py)
        e.unpersist()


def _weiszfeld(e: DataFrame) -> DataFrame:
    c0_rows = (
        e.select(F.posexplode("embedding").alias("pos", "val"))
        .groupBy((F.col("pos") + 1).alias("dim"))
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("val").cast("double"), 7).cast(
                        "decimal(20,7)"
                    )
                ).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("val"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("dim")
        .collect()
    )
    # Every vector must cover every dim: zip_with pads a short vector
    # with nulls, its distance degenerates to the 1e-12 floor and its
    # weight to 1e12, which overflows the decimal sums under ANSI and
    # drags the median onto it without. Equal widths give every dim the
    # same count, checked on the rows already collected here.
    widths = {r["n"] for r in c0_rows}
    if len(widths) > 1:
        raise ValueError(
            "geometric median needs equal-width embeddings; per-dim vector "
            f"counts range {min(widths)}..{max(widths)} over "
            f"{len(c0_rows)} dims"
        )
    c = [r["val"] for r in c0_rows]
    for _t in range(_GEOMED_ITERS):
        carr = F.expr(_sx.dbl_array(c))
        sq = F.zip_with(
            F.col("embedding"),
            carr,
            lambda x, cc: (x.cast("double") - cc) * (x.cast("double") - cc),
        )
        dist = F.greatest(
            F.sqrt(
                F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)
            ),
            F.lit(1e-12),
        )
        dd = e.select("vec_id", "embedding", dist.alias("dist"))
        # r14 (guide §1.2 — one action per iteration; VERDICT r13 #8
        # method): wsum and the per-dim weighted sums came from TWO
        # actions, each re-evaluating the interpreted distance fold over
        # every vector. Every vector contributes exactly one row to every
        # dim group (fixed-width embeddings), so the per-group sum of the
        # per-vector weight IS the global wsum — same decimal addends,
        # and decimal addition is exact, so the cast-to-double result is
        # bit-identical to the separate aggregation. One action per
        # iteration, distance fold evaluated once. Measured: 4.54s ->
        # 4.20s at sf0.1, output identical.
        nxt = (
            dd.select(
                "dist", F.posexplode("embedding").alias("pos", "val")
            )
            .groupBy((F.col("pos") + 1).alias("dim"))
            .agg(
                F.sum(
                    F.round(
                        (F.lit(1.0) / F.col("dist"))
                        * F.col("val").cast("double"),
                        9,
                    ).cast("decimal(20,9)")
                )
                .cast("double")
                .alias("wv"),
                F.sum(
                    F.round(F.lit(1.0) / F.col("dist"), 9).cast(
                        "decimal(20,9)"
                    )
                )
                .cast("double")
                .alias("wsum"),
            )
            .select(
                "dim", F.round(F.col("wv") / F.col("wsum"), 9).alias("val")
            )
            .orderBy("dim")
            .collect()
        )
        c = [r["val"] for r in nxt]
    out = [(i + 1, round(v, 6) + 0.0) for i, v in enumerate(c)]
    return e.sparkSession.createDataFrame(
        out, "dim bigint, coord double"
    ).orderBy("dim")


@register(
    "dedup_cluster_sizes",
    # composes the dedup_clusters transitive-closure oracle: size
    # distribution of near-dup components (docs in no pair form no
    # cluster row, so sizes start at 2)
    f"""
    WITH RECURSIVE base AS MATERIALIZED ({_SQL_PAIR_JACCARD.format(shingles=_SQL_SHINGLES, threshold=0.8)}),
    edges AS MATERIALIZED (
      SELECT id_a AS s, id_b AS d FROM base
      UNION
      SELECT id_b, id_a FROM base
    ),
    reach(s, d) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ),
    comp AS (
      SELECT s AS doc_id, LEAST(MIN(d), s) AS cluster_id
      FROM reach GROUP BY s
    ),
    sizes AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY cluster_id
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
    doc="Near-dup cluster-size distribution: how many duplicate "
    "components of each size the corpus contains, and the doc mass "
    "they hold — the dedup savings report (docs removable = n_docs - "
    "n_clusters summed over rows). Composes the connected-components "
    "operator with two more partial-agg reductions; the oracle extends "
    "the recursive-closure truth the same way.",
)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", "text", shingle_n=3, num_hashes=64, bands=16,
        threshold=0.8,
    )
    comp = D.connected_components(pairs)
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


_THRESH_CURVE = [0.5, 0.6, 0.7, 0.8, 0.9]


@register(
    "dedup_threshold_curve",
    f"""
    WITH pairs AS (
      {_SQL_PAIR_JACCARD.format(shingles=_SQL_SHINGLES, threshold=min(_THRESH_CURVE))}
    )
    SELECT CAST(t.threshold AS DOUBLE) AS threshold,
           CAST(COUNT(p.id_a) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT p.id_a) + COUNT(DISTINCT p.id_b) AS BIGINT)
             AS n_doc_slots
    FROM (SELECT unnest({_THRESH_CURVE}) AS threshold) t
    LEFT JOIN pairs p ON p.jaccard >= t.threshold
    GROUP BY t.threshold ORDER BY t.threshold
    """,
    doc="Dedup threshold-sensitivity curve: near-dup pair counts (and "
    "involved doc slots) at Jaccard thresholds 0.5-0.9 from ONE "
    "shingle/pair computation — the calibration readout for choosing "
    "the production threshold (too low merges distinct docs, too high "
    "misses templated near-dups; the knee of this curve is the "
    "evidence). Candidate generation is the inverted-index join "
    "computed once; thresholds are applied as post-filters on the "
    "scored pair list.",
)
def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14 (guide §1.2/§2.3 — don't compute what you throw away; VERDICT
    # r13 #8): the r13 form scored pairs at threshold 1e-9, crossJoined
    # them T times against the threshold list, and ran TWO countDistincts
    # per threshold (Expand: 3x the already-T-times-duplicated pair rows).
    # Every threshold is >= min(_THRESH_CURVE), so (a) pairs below the
    # smallest threshold can never contribute to any count — score at
    # threshold=min instead (the pair computation is identical, the pin +
    # downstream aggregations shrink to the qualifying pairs); (b)
    # n_pairs(t) is ONE conditional sum per threshold in a single
    # map-side-aggregated pass (no crossJoin duplication); (c) a doc id
    # counts at t iff its best pair >= t, so the distinct counts reduce
    # to per-id max-jaccard frames aggregated once per side. Measured:
    # 3.93s -> 2.94s at sf0.1, output identical (exceptAll + oracle at
    # all three SFs). n_doc_slots coalesces to 0 when no pair reaches a
    # threshold, matching the oracle, whose LEFT JOIN keeps a zero-count
    # row for every threshold.
    d = load_table(spark, sf_dir, "documents")
    pairs = pin(D.ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=min(_THRESH_CURVE)
    ))
    np_row = pairs.agg(*[
        F.sum((F.col("jaccard") >= F.lit(t)).cast("long")).alias(f"np{i}")
        for i, t in enumerate(_THRESH_CURVE)
    ])
    ma = pairs.groupBy("id_a").agg(F.max("jaccard").alias("mj"))
    mb = pairs.groupBy("id_b").agg(F.max("jaccard").alias("mj"))
    da_row = ma.agg(*[
        F.sum((F.col("mj") >= F.lit(t)).cast("long")).alias(f"da{i}")
        for i, t in enumerate(_THRESH_CURVE)
    ])
    db_row = mb.agg(*[
        F.sum((F.col("mj") >= F.lit(t)).cast("long")).alias(f"db{i}")
        for i, t in enumerate(_THRESH_CURVE)
    ])
    rows = F.array(*[
        F.struct(
            F.lit(t).alias("threshold"),
            F.coalesce(F.col(f"np{i}"), F.lit(0)).cast("long").alias("n_pairs"),
            (
                F.coalesce(F.col(f"da{i}"), F.lit(0))
                + F.coalesce(F.col(f"db{i}"), F.lit(0))
            ).cast("long").alias("n_doc_slots"),
        )
        for i, t in enumerate(_THRESH_CURVE)
    ])
    return (
        np_row.crossJoin(da_row).crossJoin(db_row)
        .select(F.explode(rows).alias("r"))
        .select("r.threshold", "r.n_pairs", "r.n_doc_slots")
        .orderBy("threshold")
    )


@register(
    "audience_overlap",
    """
    WITH aud AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM aud GROUP BY event_type
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM aud a JOIN aud b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, i.n_both, sa.n AS n_a, sb.n AS n_b,
           ROUND(CAST(i.n_both AS DOUBLE)
                 / (sa.n + sb.n - i.n_both), 6) + 0.0 AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    ORDER BY type_a, type_b
    """,
    doc="Audience-overlap matrix: pairwise Jaccard of the user sets "
    "behind each event type — the segment-intersection readout "
    "(audience planning, cannibalization checks). The user-level "
    "intersection is a user-keyed self-join of the DISTINCT "
    "(type, user) frame — co-partitioned on user_id, fan-out bounded "
    "by types-per-user (<= 5), never a cross join; sizes ride as a "
    "broadcast dim. Integer counts; one division at emit.",
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    aud = pin(e.select("event_type", "user_id").distinct())
    sizes = aud.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = aud.select(F.col("event_type").alias("type_a"), "user_id")
    b = aud.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            (
                F.round(
                    F.col("n_both").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                    6,
                )
                + F.lit(0.0)
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "source_overlap_pairs",
    f"""
    WITH pairs AS (
      {_SQL_PAIR_JACCARD.format(shingles=_SQL_SHINGLES, threshold=0.5)}
    ),
    tagged AS (
      SELECT p.jaccard,
             LEAST(da.source, db.source) AS source_a,
             GREATEST(da.source, db.source) AS source_b
      FROM pairs p
      JOIN documents da ON da.doc_id = p.id_a
      JOIN documents db ON db.doc_id = p.id_b
    )
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(CAST(ROUND(jaccard, 6) AS DECIMAL(10,6)))
                 AS DOUBLE) / COUNT(*), 6) + 0.0 AS avg_jaccard
    FROM tagged GROUP BY source_a, source_b
    ORDER BY n_pairs DESC, source_a, source_b LIMIT 20
    """,
    doc="Cross-source duplication matrix: near-dup pairs (3-gram "
    "Jaccard >= 0.5) rolled up by unordered source pair — the "
    "mirror-site/content-farm detector (two sources sharing many "
    "near-dups are republishing each other; within-source pairs are "
    "templating). Pair generation is the inverted-index join computed "
    "once; source tags join in by doc key and the rollup is a "
    "partial agg on source pairs. Decimal-summed jaccard means.",
)
def q_source_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=0.5
    )
    meta = d.select("doc_id", "source")
    da = meta.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")
    )
    db = meta.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")
    )
    # per-document metadata is corpus-sized — no forced broadcast (the
    # size-based planner decides; see operators/dedup.py merge-hint note)
    tagged = (
        pairs.join(da, "id_a")
        .join(db, "id_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            "jaccard",
        )
    )
    return (
        tagged.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (
                F.round(
                    F.sum(
                        F.round(F.col("jaccard"), 6).cast("decimal(10,6)")
                    ).cast("double")
                    / F.count(F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("avg_jaccard"),
        )
        .orderBy(F.desc("n_pairs"), "source_a", "source_b")
        .limit(20)
    )


@register(
    "knn_mrr",
    f"""
    WITH j AS (
      SELECT a.vec_id AS q, b.vec_id AS cand,
             ROUND({_SQL_PAIR_COSINE}, 9) AS sim
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {{QLIM}}
    ),
    qset AS (
      SELECT q FROM j WHERE sim >= 0.4 GROUP BY q
    ),
    ranked AS (
      SELECT j.q, j.cand, j.sim,
             ROW_NUMBER() OVER (PARTITION BY j.q
                                ORDER BY j.sim DESC, j.cand) AS rnk
      FROM j JOIN qset USING (q)
    ),
    firsts AS (
      SELECT q, MIN(rnk) AS first_rel_rank
      FROM ranked WHERE sim >= 0.4 GROUP BY q
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(CAST(SUM(CAST(ROUND(1.0 / first_rel_rank, 9)
                 AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) + 0.0
             AS mrr
    FROM firsts
    """.replace("{QLIM}", "200"),
    doc="Mean reciprocal rank of exact cosine kNN against the "
    "near-duplicate ground truth, over a BOUNDED query set (vec_id < "
    "200 with a >= 0.4-cosine partner): each query's partners are the "
    "relevant set and MRR averages 1/rank of the first partner in the "
    "full ranking (9dp-rounded scores, id tiebreak). One query-by-"
    "corpus scoring join feeds relevance tagging AND ranking — the "
    "per-query fan-out is corpus-sized but the query side is fixed, "
    "so cost scales linearly with the corpus, not quadratically "
    "(first cut used the all-pairs truth and took 176s at sf0.1; "
    "this form runs in ~3s with identical MRR semantics). MRR = 1.0 "
    "certifies the ranking machinery puts planted near-dups first.",
)
def q_knn_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from etl_data_spark.operators.similarity import cosine

    e = load_table(spark, sf_dir, "embeddings")
    qa = e.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("q"), F.col("embedding").alias("qv")
    )
    b = e.select(
        F.col("vec_id").alias("cand"), F.col("embedding").alias("cv")
    )
    # stream the CORPUS side (repartitioned: the parquet arrives as one
    # input split) against the broadcast bounded query side, so the
    # scoring parallelizes over executors
    j = (
        pin(b.repartition(32)
        .crossJoin(F.broadcast(qa))
        .filter(F.col("cand") != F.col("q"))
        .select(
            "q",
            "cand",
            F.round(cosine(F.col("qv"), F.col("cv")), 9).alias("sim"),
        ))
    )
    qset = j.filter(F.col("sim") >= 0.4).select("q").distinct()
    ranked = j.join(F.broadcast(qset), "q").withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("q").orderBy(F.desc("sim"), "cand")
        ),
    )
    firsts = (
        ranked.filter(F.col("sim") >= 0.4)
        .groupBy("q")
        .agg(F.min("rnk").alias("first_rel_rank"))
    )
    return firsts.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (
            F.round(
                F.sum(
                    F.round(F.lit(1.0) / F.col("first_rel_rank"), 9).cast(
                        "decimal(18,9)"
                    )
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            )
            + F.lit(0.0)
        ).alias("mrr"),
    )


@register(
    "char_entropy",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CASE WHEN length(text) = 0 THEN 0.0
           ELSE ROUND(-list_sum(list_transform(
                  list_distinct(string_split(text, '')),
                  c -> ((length(text) - length(replace(text, c, '')))
                        / (1.0e0 * length(text)))
                       * LN((length(text)
                             - length(replace(text, c, '')))
                            / (1.0e0 * length(text))))), 6) + 0.0
           END AS char_entropy_nats
    FROM documents
    """,
    doc="Per-document character-level Shannon entropy — the cheap "
    "compression proxy: templated/repetitive documents sit well below "
    "natural text's ~4 nats and machine gibberish sits above it, so "
    "thresholding this column is a quality gate no tokenizer is "
    "needed for. Computed entirely inside one projection: per distinct "
    "character (bounded by the alphabet), occurrence counts come from "
    "length-difference arithmetic — no character explode, no shuffle; "
    "the per-doc fold over <=100 alphabet entries is sequential and "
    "identical in both engines.",
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # let-bind text length and the distinct-char array (SCALE.md §17:
    # outer computed expressions referenced per lambda element must be
    # bound once)
    expr = """
    CASE WHEN length(text) = 0 THEN 0.0D
    ELSE ROUND(-aggregate(
           transform(
             array_distinct(split(text, '')),
             c -> ((length(text) - length(replace(text, c, '')))
                   / (1.0D * length(text)))
                  * LN((length(text) - length(replace(text, c, '')))
                       / (1.0D * length(text)))),
           0.0D, (acc, x) -> acc + x), 6) + 0.0D
    END
    """
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.expr(expr).alias("char_entropy_nats"),
    )


# --------------------------------------------------------------------------
# Exact substring-level dedup (Lee et al. 2022) — r13
# --------------------------------------------------------------------------

_SPAN_N = 5

_SQL_SPAN_GRAMS = f"""
    w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
      WHERE len(string_split_regex(trim(text), '\\s+')) >= {_SPAN_N}
    ),
    g AS (
      SELECT doc_id, CAST(i AS INT) AS p,
             array_to_string(
               ws[CAST(i AS INT):CAST(i + {_SPAN_N - 1} AS INT)], ' '
             ) AS gram
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - {_SPAN_N} + 2)) AS i
            FROM w)
    )
"""


@register(
    "duplicate_spans",
    f"""
    WITH {_SQL_SPAN_GRAMS},
    dup AS (
      SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (SELECT g.doc_id, g.p FROM g JOIN dup USING (gram)),
    runs AS (
      SELECT doc_id, p,
             SUM(CASE WHEN p - lag_p > {_SPAN_N} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p) AS island
      FROM (SELECT doc_id, p,
                   lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS lag_p
            FROM hits)
    )
    SELECT doc_id,
           CAST(MIN(p) AS INT) AS span_start,
           CAST(MAX(p) + {_SPAN_N - 1} AS INT) AS span_end,
           CAST(MAX(p) - MIN(p) + {_SPAN_N} AS INT) AS n_tokens
    FROM runs GROUP BY doc_id, island
    HAVING MAX(p) - MIN(p) + {_SPAN_N} >= {_SPAN_N}
    """,
    doc="Cross-document repeated token SPANS (Lee et al. 2022 "
    "ExactSubstr): boilerplate/templated passages duplicated INSIDE "
    "otherwise-distinct documents — the substring-level dedup lens that "
    "document-level exact/MinHash/semantic dedup all miss. Suffix "
    "arrays don't distribute; the Spark-native formulation anchors on "
    "word 5-grams (a repeated run of L>=5 tokens is L-4 consecutive "
    "duplicated gram starts), groups by gram, and coalesces each doc's "
    "duplicated starts into maximal runs via gaps-and-islands. Two "
    "gram-keyed shuffles + one doc-partitioned window; no all-pairs "
    "stage, no driver collect.",
)
def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.duplicate_spans(d, n=_SPAN_N).select(
        "doc_id",
        F.col("span_start").cast("int"),
        F.col("span_end").cast("int"),
        F.col("n_tokens").cast("int"),
    )


@register(
    "remove_duplicate_spans",
    f"""
    WITH {_SQL_SPAN_GRAMS},
    stats AS (
      SELECT gram, min(doc_id) AS canon
      FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ),
    removable AS (
      SELECT g.doc_id, g.p FROM g JOIN stats USING (gram)
      WHERE g.doc_id != stats.canon
    ),
    runs AS (
      SELECT doc_id, p,
             SUM(CASE WHEN p - lag_p > {_SPAN_N} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p) AS island
      FROM (SELECT doc_id, p,
                   lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS lag_p
            FROM removable)
    ),
    spans AS (
      SELECT doc_id, MIN(p) AS s, MAX(p) + {_SPAN_N - 1} AS e
      FROM runs GROUP BY doc_id, island
      HAVING MAX(p) + {_SPAN_N - 1} - MIN(p) + 1 >= {_SPAN_N}
    ),
    covered AS (
      SELECT DISTINCT doc_id, CAST(u AS INT) AS p
      FROM (SELECT doc_id, unnest(range(s, e + 1)) AS u FROM spans)
    ),
    toks AS (
      SELECT doc_id, CAST(i AS INT) AS p, ws[CAST(i AS INT)] AS tok
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
            FROM documents) tws,
           unnest(range(1, len(ws) + 1)) AS t(i)
    ),
    rebuilt AS (
      SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.p) AS txt
      FROM toks t LEFT JOIN covered c
        ON t.doc_id = c.doc_id AND t.p = c.p
      WHERE c.p IS NULL
      GROUP BY t.doc_id
    )
    SELECT d.doc_id, COALESCE(r.txt, '') AS text_deduped
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    """,
    doc="The ExactSubstr CUT (Lee et al. 2022): rewrite the corpus with "
    "cross-document duplicated spans removed, keeping each duplicated "
    "gram's content ONLY in its canonical (min-doc-id) document — "
    "content is never globally lost. Non-canonical duplicated gram "
    "starts coalesce into runs (same gaps-and-islands as "
    "duplicate_spans), runs expand to covered token positions, and "
    "each document re-emits from its surviving tokens. Same scale "
    "shape plus one span-bounded position explode.",
)
def q_remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.remove_duplicate_spans(d, n=_SPAN_N).select(
        "doc_id", "text_deduped"
    )


# --------------------------------------------------------------------------
# OPQ: rotated product quantization (operators/pq.py, r13). The registry
# entry uses the FIXED seed rotation (opq_seed_rotation — a pure function
# of the dimension, two Givens layers crossing subspace boundaries) so the
# DuckDB oracle can replay rotate + encode + ADC + exact rerank end-to-end
# with the matrix as a literal; the TRAINED rotation (train_opq /
# train_opq_residual, SVD-Procrustes) only changes the matrix VALUES and
# is covered by pytest + the SCALE.md recall table.
# --------------------------------------------------------------------------


def _opq_R() -> list:
    from etl_data_spark.operators.pq import opq_seed_rotation

    return opq_seed_rotation(_ANN_DIM)


def _duck_rot_list(R: list) -> str:
    rows = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in row) + "]" for row in R
    )
    return "[" + rows + "]"


def _duck_opq_sub_l2(a: str, b: str, s: str) -> str:
    """Subspace squared L2 over two DOUBLE lists (the rotated space) —
    same fold order as _duck_pq_sub_l2."""
    diff = (
        f"({a}[CAST({s} * {_PQ_SUB} + i AS INT)] - "
        f"{b}[CAST({s} * {_PQ_SUB} + i AS INT)])"
    )
    return (
        f"list_sum(list_transform(range(1, {_PQ_SUB} + 1), "
        f"i -> {diff} * {diff}))"
    )


def _opq_scored_cte() -> str:
    return f"""
    WITH rmat AS (SELECT {_duck_rot_list(_opq_R())} AS m),
    rot AS (
      SELECT vec_id,
             list_transform(range(1, {_ANN_DIM} + 1), j ->
               list_sum(list_transform(range(1, {_ANN_DIM} + 1), i ->
                 CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                 * m[CAST(i AS INT)][CAST(j AS INT)]))) AS rv
      FROM embeddings, rmat
    ),
    cents AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, rv
      FROM (SELECT * FROM rot ORDER BY vec_id LIMIT {_PQ_K})
    ),
    subs AS (SELECT CAST(unnest(range(0, {_PQ_M})) AS INT) AS s),
    q AS (SELECT rv AS qv FROM rot WHERE vec_id = 0),
    assign AS (
      SELECT vec_id, s, cid,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id, s
               ORDER BY {_duck_opq_sub_l2("e.rv", "c.rv", "s")} ASC,
                        cid ASC
             ) AS rn
      FROM rot e CROSS JOIN subs CROSS JOIN cents c
    ),
    scored AS (
      SELECT a.vec_id,
             ROUND(list_sum(
               list({_duck_opq_sub_l2("q.qv", "c.rv", "a.s")}
                    ORDER BY a.s)), 6) AS adc_dist
      FROM assign a JOIN cents c ON c.cid = a.cid, q
      WHERE a.rn = 1
      GROUP BY a.vec_id
    )
"""


@register(
    "ann_opq_rerank_topk",
    _opq_scored_cte()
    + f"""
    , short AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS rn
        FROM scored
      ) WHERE rn <= {_PQ_SHORTLIST}
    ),
    qorig AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({_duck_pq_full_l2("e.embedding", "qorig.qv")}, 6) AS l2_dist
    FROM embeddings e JOIN short USING (vec_id), qorig
    ORDER BY l2_dist, e.vec_id
    LIMIT 10
    """,
    doc="OPQ (Ge et al., CVPR'13): an orthogonal rotation applied before "
    "product quantization balances variance across subspaces, lifting "
    "recall at equal m/k; codes live in the rotated space, the query "
    "rotates DRIVER-side (d x d matvec — the corpus scan's plan is "
    "byte-identical to unrotated PQ, still code-columns-only), and "
    "exact rerank is untouched because L2 is rotation-invariant. Entry "
    "uses the fixed seed rotation + seeded codebooks so the oracle "
    "replays rotate + encode + ADC + rerank end-to-end; the SVD-trained "
    "rotation is pytest-covered with recall measured in SCALE.md.",
)
def q_ann_opq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from etl_data_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    R = _opq_R()
    # r14 (guide §1.2 — driver costs): the r13 form ran FOUR driver
    # actions in fn() and the trainer sample collected through the
    # executor-side interpreted rotation fold over the whole frame. Now
    # the dim assert rides the query-vector fetch, and the trainer sample
    # collects RAW vectors and rotates driver-side with _rotate_vec_py —
    # bit-identical to the executor fold by that function's contract
    # (same i-ascending fold order), so the codebooks and every
    # downstream byte are unchanged. fn-side: 2 actions instead of 4,
    # no full-frame rotation evaluation before the timed plan.
    qvec = list(e.filter(F.col("vec_id") == 0).first()["embedding"])
    assert len(qvec) == _ANN_DIM
    sample = (
        e.orderBy("vec_id").limit(_PQ_K).select("embedding").collect()
    )
    mat = np.asarray(
        [PQ._rotate_vec_py(list(r[0]), R) for r in sample],
        dtype=np.float64,
    )
    books = PQ._fit_codebooks(mat, _PQ_M, _PQ_K, 0)
    rotated = PQ.rotate_vectors(e, R, "embedding", "_rv")
    q_rot = PQ._rotate_vec_py(qvec, R)
    codes = PQ.pq_encode(rotated, books, "_rv").select("vec_id", "pq_code")
    short = PQ.pq_topk(
        codes, q_rot, books, k=_PQ_SHORTLIST
    ).select("vec_id")
    qlit = F.expr(_sx.dbl_array(qvec))
    return (
        e.join(F.broadcast(short), "vec_id")
        .select(
            "vec_id",
            F.round(PQ._sq_l2(F.col("embedding"), qlit), 6).alias("l2_dist"),
        )
        .orderBy(F.asc("l2_dist"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "duplicate_spans_incremental_at_rest",
    # oracle = the global duplicate_spans replay over corpus ∪ delta,
    # restricted to DELTA documents: delta ids are disjoint from the
    # corpus', so the at-rest path's stored-count + batch-count merge is
    # exactly the global distinct-document count
    f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
      WHERE len(string_split_regex(trim(text), '\\s+')) >= 5
    ),
    g AS (
      SELECT doc_id, CAST(i AS INT) AS p,
             array_to_string(ws[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')
               AS gram
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 5 + 2)) AS i
            FROM w)
    ),
    dup AS (
      SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (
      SELECT g.doc_id, g.p FROM g JOIN dup USING (gram)
      WHERE g.doc_id >= {_DELTA_FROM}
    ),
    runs AS (
      SELECT doc_id, p,
             SUM(CASE WHEN p - lag_p > 5 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p) AS island
      FROM (SELECT doc_id, p,
                   lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS lag_p
            FROM hits)
    )
    SELECT doc_id,
           CAST(MIN(p) AS INT) AS span_start,
           CAST(MAX(p) + 4 AS INT) AS span_end,
           CAST(MAX(p) - MIN(p) + 5 AS INT) AS n_tokens
    FROM runs GROUP BY doc_id, island
    HAVING MAX(p) - MIN(p) + 5 >= 5
    """,
    doc="Incremental ExactSubstr against the at-rest GRAM INDEX "
    "(write_gram_index — per-gram distinct-doc counts partitioned by a "
    "gram-hash bucket): the batch is grammed (the only gramming work), "
    "its gram buckets become a PartitionFilter on the stored index, and "
    "a batch position is duplicated when batch + stored document counts "
    "reach 2 — row-identical to duplicate_spans over corpus ∪ delta "
    "restricted to delta docs (the oracle's replay). Per-batch cost "
    "tracks the batch + probed buckets, never corpus text — the "
    "substring-dedup twin of dedup_incremental_at_rest.",
)
def q_duplicate_spans_incremental_at_rest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    path = _throwaway_layout_dir("q_gram_index_")
    D.write_gram_index(d.filter(F.col("doc_id") < _DELTA_FROM), path, n=5)
    spans = D.duplicate_spans_incremental_at_rest(
        d.filter(F.col("doc_id") >= _DELTA_FROM), path
    )
    return spans.select(
        "doc_id",
        F.col("span_start").cast("int"),
        F.col("span_end").cast("int"),
        F.col("n_tokens").cast("int"),
    )
