"""Training-corpus curation queries: PII redaction, repetition filtering,
deterministic splits, sequence packing, length deciles, n-gram stats, and
cross-split decontamination.

Every query has an exact DuckDB oracle. The synthetic documents contain no
real PII, so the PII query injects deterministic contact strings derived
from ``doc_id`` identically on both engines before redacting — the
redaction semantics are what is being checked, not the generator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_data_spark.operators import corpus as C
from etl_data_spark.operators import dedup as D
from etl_data_spark.operators import text as TX
from etl_data_spark.operators.text import BPE_PATTERN
from etl_data_spark.queries import load_table, register
from etl_data_spark.queries_llm import _SQL_PAIR_JACCARD, _SQL_QUALITY, _SQL_SHINGLES

from etl_data_spark.caching import pin

# Whitespace token count, identical to text.py::token_count.
_DUCK_NTOK = """
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END
"""

# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

_EMAIL_RE, _PHONE_RE, _IP_RE = [p for _, p, _ in C.PII_PATTERNS]

# doc_id-derived injections, byte-identical on both engines.
_DUCK_PII_TEXT = """
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.' || CAST(doc_id * 7 % 256 AS VARCHAR)
            ELSE '' END
"""


def _with_pii_text(d: DataFrame) -> DataFrame:
    doc_id = F.col("doc_id")
    return d.withColumn(
        "t",
        F.concat(
            F.col("text"),
            F.when(
                doc_id % 3 == 0,
                F.concat(
                    F.lit(" reach user"),
                    doc_id.cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(""),
            F.when(
                doc_id % 5 == 0,
                F.concat(
                    F.lit(" call 415-555-"),
                    F.lpad((doc_id % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
            F.when(
                doc_id % 7 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (doc_id % 256).cast("string"),
                    F.lit("."),
                    (doc_id * 7 % 256).cast("string"),
                ),
            ).otherwise(""),
        ),
    )


@register(
    "pii_redact",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(t, '{_IP_RE}')) AS BIGINT) AS n_ip,
           regexp_replace(regexp_replace(regexp_replace(
               t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                  '{_PHONE_RE}', '<PHONE>', 'g'),
                  '{_IP_RE}', '<IP>', 'g') AS redacted
    FROM (SELECT doc_id, {_DUCK_PII_TEXT} AS t FROM documents)
    """,
    doc="Regex PII detection + typed-placeholder redaction (email/phone/IP), "
    "all codegen'd regexp ops — no UDF in the row path.",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _with_pii_text(load_table(spark, sf_dir, "documents"))
    counts = C.pii_counts("t")
    return d.select(
        "doc_id",
        counts["email"].cast("long").alias("n_email"),
        counts["phone"].cast("long").alias("n_phone"),
        counts["ip"].cast("long").alias("n_ip"),
        C.redact_pii("t").alias("redacted"),
    )


# --------------------------------------------------------------------------
# Repetition filter (Gopher-style)
# --------------------------------------------------------------------------

_DUCK_NGRAMS = {
    1: "tk",
    2: "list_transform(range(1, greatest(len(tk) - 1, 0) + 1), "
    "i -> tk[i] || ' ' || tk[i+1])",
    3: "list_transform(range(1, greatest(len(tk) - 2, 0) + 1), "
    "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])",
}


def _duck_dup_frac(g: str) -> str:
    return (
        f"CASE WHEN len({g}) = 0 THEN 0.0 ELSE "
        f"ROUND(1 - CAST(len(list_distinct({g})) AS DOUBLE) / len({g}), 6) END"
    )


@register(
    "repetition_filter",
    f"""
    SELECT doc_id, dup_token_frac, dup_bigram_frac, dup_trigram_frac,
           (dup_token_frac <= 0.60 AND dup_trigram_frac <= 0.30) AS keep
    FROM (
      SELECT doc_id,
             {_duck_dup_frac("g1")} AS dup_token_frac,
             {_duck_dup_frac("g2")} AS dup_bigram_frac,
             {_duck_dup_frac("g3")} AS dup_trigram_frac
      FROM (
        SELECT doc_id, {_DUCK_NGRAMS[1]} AS g1, {_DUCK_NGRAMS[2]} AS g2,
               {_DUCK_NGRAMS[3]} AS g3
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
              FROM documents)
      )
    )
    """,
    doc="Duplicate n-gram fractions (Gopher repetition rules, "
    "arXiv:2112.11446 A1.1) + keep/drop gate; pure Column scan.",
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    flags = C.repetition_flags("text")
    return d.select(
        "doc_id",
        flags["dup_token_frac"].alias("dup_token_frac"),
        flags["dup_bigram_frac"].alias("dup_bigram_frac"),
        flags["dup_trigram_frac"].alias("dup_trigram_frac"),
        flags["keep"].alias("keep"),
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test split
# --------------------------------------------------------------------------


def _duck_bucket(col: str, salt: str = "") -> str:
    """DuckDB mirror of hash_bucket: positional parse of the first 11 md5
    hex digits (DuckDB's md5_number_* are little-endian, unusable), mod
    SPLIT_BUCKETS. Exact int64 arithmetic — 16^11 < 2^44."""
    s = f"CAST({col} AS VARCHAR)" + (f" || '{salt}'" if salt else "")
    return f"""
    CAST(list_sum(list_transform(range(1, 12),
        i -> (strpos('0123456789abcdef', substr(md5({s}), i, 1)) - 1)
             * CAST(power(16, 11 - i) AS BIGINT))) AS BIGINT) % {C.SPLIT_BUCKETS}
    """


_DUCK_SPLIT_CASE = (
    "CASE "
    + " ".join(
        f"WHEN bucket >= {lo} AND bucket < {hi} THEN '{name}'"
        for name, lo, hi in C.SPLIT_RANGES
    )
    + " END"
)


@register(
    "train_split",
    f"""
    SELECT doc_id, bucket, {_DUCK_SPLIT_CASE} AS split
    FROM (SELECT doc_id, {_duck_bucket("doc_id")} AS bucket FROM documents)
    """,
    doc="Deterministic hash-based train/val/test assignment: membership is a "
    "pure function of doc_id — stable under repartitioning and appends.",
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return C.with_split(d, "doc_id").select("doc_id", "bucket", "split")


# --------------------------------------------------------------------------
# Sequence packing
# --------------------------------------------------------------------------

_PACK_BUDGET = 512


@register(
    "sequence_pack",
    f"""
    SELECT source, doc_id, n_tokens,
           CAST(floor(off / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id,
           off % {_PACK_BUDGET} AS pack_offset
    FROM (
      SELECT source, doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS off
      FROM (
        SELECT source, doc_id,
               CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT)
                   AS n_tokens
        FROM documents
      )
    )
    """,
    doc="Concat-and-chunk sequence packing into fixed token budgets; the "
    "running offset is a per-shard window (partitioned by source) — no "
    "global sort at any scale.",
)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = C.pack_sequences(d, "source", "doc_id", "text", budget=_PACK_BUDGET)
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long"))


# --------------------------------------------------------------------------
# Length deciles
# --------------------------------------------------------------------------


@register(
    "length_deciles",
    """
    SELECT lang, decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(n_tokens) AS min_tokens,
           MAX(n_tokens) AS max_tokens,
           ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS avg_tokens
    FROM (
      SELECT lang, n_tokens,
             ntile(10) OVER (PARTITION BY lang ORDER BY n_tokens, doc_id)
                 AS decile
      FROM (
        SELECT lang, doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END
                   AS n_tokens
        FROM documents
      )
    )
    GROUP BY lang, decile
    """,
    doc="Per-language token-length deciles (NTILE over a unique order key -> "
    "deterministic tiles) aggregated to distribution stats.",
)
def q_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return C.length_decile_stats(d, "lang")


# --------------------------------------------------------------------------
# Quality-stratified sampling & domain mixing
# --------------------------------------------------------------------------

_DUCK_QBUCKET = (
    "CASE WHEN quality >= 0.7 THEN 'high' "
    "WHEN quality >= 0.4 THEN 'medium' ELSE 'low' END"
)

_DUCK_SAMPLE_KEEP = (
    "CASE "
    + " ".join(
        f"WHEN quality_bucket = '{name}' AND b < {rate} THEN TRUE"
        for name, rate in C.QUALITY_SAMPLE_RATES.items()
    )
    + " ELSE FALSE END"
)


@register(
    "quality_sample",
    f"""
    SELECT doc_id, quality_bucket, {_DUCK_SAMPLE_KEEP} AS keep
    FROM (
      SELECT q.doc_id, {_DUCK_QBUCKET} AS quality_bucket,
             {_duck_bucket("q.doc_id", ":qs")} AS b
      FROM ({_SQL_QUALITY}) q
    )
    """,
    doc="Deterministic quality-stratified sampling: per-bucket keep rates "
    "(high 100%, medium 50%, low 10%) decided by a salted id hash — "
    "reproducible, repartition-stable, independent of the split hash.",
)
def q_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.quality_bucket("text").alias("quality_bucket"),
        C.quality_sample_flag("doc_id", "text").alias("keep"),
    )


@register(
    "corpus_mix",
    f"""
    SELECT source, n_docs, domain_tokens,
           ROUND(least(1.0, (CAST(total_tokens AS DOUBLE) / n_domains)
                            / domain_tokens), 6) AS sample_rate
    FROM (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS domain_tokens
      FROM (SELECT source, {_DUCK_NTOK} AS nt FROM documents)
      GROUP BY source
    ) p
    CROSS JOIN (
      SELECT CAST(SUM(nt) AS BIGINT) AS total_tokens,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_domains
      FROM (SELECT source, {_DUCK_NTOK} AS nt FROM documents)
    ) g
    """,
    doc="Domain-mixing rates that equalize token budgets across sources: "
    "one-row global aggregate broadcast against per-domain rows.",
)
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return C.mixing_rates(d, "source", "text")


@register(
    "corpus_report",
    f"""
    WITH q AS ({_SQL_QUALITY}),
    r AS (
      SELECT doc_id, source, lang, n_tok,
             {_duck_dup_frac("g1")} AS d1,
             {_duck_dup_frac("g3")} AS d3
      FROM (
        SELECT doc_id, source, lang, {_DUCK_NTOK} AS n_tok,
               {_DUCK_NGRAMS[1]} AS g1, {_DUCK_NGRAMS[3]} AS g3
        FROM (SELECT doc_id, source, lang, text,
                     string_split_regex(trim(text), '\\s+') AS tk
              FROM documents)
      )
    )
    SELECT r.source, r.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(q.quality AS DECIMAL(10,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_quality,
           CAST(SUM(CASE WHEN d1 <= 0.60 AND d3 <= 0.30 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keep
    FROM r JOIN q ON r.doc_id = q.doc_id
    GROUP BY r.source, r.lang
    """,
    doc="Per (source, lang) corpus report card: volume, decimal-exact "
    "average quality, and repetition-gate survival counts.",
)
def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return C.corpus_report(d)


# --------------------------------------------------------------------------
# Corpus n-gram statistics
# --------------------------------------------------------------------------


@register(
    "ngram_topk",
    f"""
    SELECT ngram, COUNT(*) AS n_occurrences
    FROM (
      SELECT unnest({_DUCK_NGRAMS[2]}) AS ngram
      FROM (SELECT string_split_regex(trim(text), '\\s+') AS tk FROM documents)
    )
    GROUP BY ngram
    ORDER BY n_occurrences DESC, ngram
    LIMIT 20
    """,
    doc="Corpus-wide top-20 bigrams: explode -> partial-aggregating groupBy "
    "-> TakeOrderedAndProject (ties broken lexicographically).",
)
def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return C.top_ngrams(d, "text", n=2, k=20)


# --------------------------------------------------------------------------
# Cross-split decontamination
# --------------------------------------------------------------------------


@register(
    "split_leakage",
    f"""
    WITH pairs AS ({_SQL_PAIR_JACCARD.format(shingles=_SQL_SHINGLES, threshold=0.5)}),
    tagged AS (
      SELECT id_a, id_b, jaccard,
             {_duck_bucket("id_a")} AS bucket_a,
             {_duck_bucket("id_b")} AS bucket_b
      FROM pairs
    ),
    split_pairs AS (
      SELECT id_a, id_b, jaccard,
             (bucket_a < 900) AS a_train,
             CASE WHEN bucket_b >= 900 AND bucket_b < 950 THEN 'val'
                  WHEN bucket_b >= 950 THEN 'test' ELSE 'train' END AS split_b,
             CASE WHEN bucket_a >= 900 AND bucket_a < 950 THEN 'val'
                  WHEN bucket_a >= 950 THEN 'test' ELSE 'train' END AS split_a
      FROM tagged
    )
    SELECT CASE WHEN a_train THEN id_a ELSE id_b END AS train_id,
           CASE WHEN a_train THEN id_b ELSE id_a END AS eval_id,
           CASE WHEN a_train THEN split_b ELSE split_a END AS eval_split,
           jaccard
    FROM split_pairs
    WHERE a_train <> (split_b = 'train')
    """,
    doc="Decontamination report: near-dup pairs (3-gram Jaccard >= 0.5) that "
    "cross the train/eval boundary. Candidate generation is the inverted-"
    "index join (never all-pairs); split tags are pure id expressions — "
    "no extra join or shuffle.",
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.5)
    split_a = C.split_name(C.split_bucket("id_a"))
    split_b = C.split_name(C.split_bucket("id_b"))
    a_train = split_a == "train"
    return (
        pairs.withColumn("a_train", a_train)
        .withColumn("split_a", split_a)
        .withColumn("split_b", split_b)
        .where(F.col("a_train") != (F.col("split_b") == "train"))
        .select(
            F.when(F.col("a_train"), F.col("id_a")).otherwise(F.col("id_b")).alias("train_id"),
            F.when(F.col("a_train"), F.col("id_b")).otherwise(F.col("id_a")).alias("eval_id"),
            F.when(F.col("a_train"), F.col("split_b")).otherwise(F.col("split_a")).alias("eval_split"),
            "jaccard",
        )
    )


@register(
    "decontaminate_ngram",
    f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
      FROM documents
    ),
    g AS (SELECT doc_id, unnest({_DUCK_NGRAMS[3]}) AS gram FROM tok),
    b AS (SELECT doc_id, gram, {_duck_bucket("doc_id")} AS bucket FROM g)
    SELECT b.doc_id AS train_id, COUNT(*) AS n_contaminated_grams
    FROM b
    JOIN (SELECT DISTINCT gram FROM b WHERE bucket >= 950) e USING (gram)
    WHERE b.bucket < 900
    GROUP BY train_id
    ORDER BY train_id
    """,
    doc="Benchmark decontamination (exact n-gram containment, GPT-3 "
    "appendix-C style): train-split documents sharing any exact trigram "
    "with the held-out test split, with per-doc contaminated-gram "
    "occurrence counts. Eval-side distinct grams broadcast; the corpus "
    "side is a narrow explode + broadcast join, never a text shuffle — "
    "the exact-substring complement of split_leakage's Jaccard lens.",
)
def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = C.split_bucket("doc_id")
    train = d.filter(bucket < 900)
    test = d.filter(bucket >= 950)
    return (
        C.decontaminate_ngram(train, test, n=3)
        .select(F.col("doc_id").alias("train_id"), "n_contaminated_grams")
        .orderBy("train_id")
    )


# --------------------------------------------------------------------------
# End-to-end curation pipeline (round 3)
# --------------------------------------------------------------------------

_CURATE_QUALITY_MIN = 0.5

# The pair-generation SQL is written against the documents view; the
# composed pipeline dedups only the language/quality-eligible subset, so
# point it at the `eligible` CTE instead (single FROM occurrence, the
# shingle fragment itself contains no FROM).
_CURATE_PAIRS = _SQL_PAIR_JACCARD.format(
    shingles=_SQL_SHINGLES, threshold=0.8
).replace("FROM documents", "FROM eligible")


@register(
    "corpus_curate_end2end",
    f"""
    WITH RECURSIVE q AS ({_SQL_QUALITY}),
    eligible AS (
      SELECT d.doc_id, d.text, q.quality
      FROM documents d JOIN q USING (doc_id)
      WHERE d.lang = 'en' AND q.quality >= {_CURATE_QUALITY_MIN}
    ),
    base AS ({_CURATE_PAIRS}),
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
      SELECT s AS doc_id FROM reach GROUP BY s
      HAVING LEAST(MIN(d), s) <> s
    )
    SELECT e.doc_id, e.quality, {_DUCK_SPLIT_CASE} AS split
    FROM (SELECT doc_id, quality, {_duck_bucket("doc_id")} AS bucket
          FROM eligible) e
    WHERE e.doc_id NOT IN (SELECT doc_id FROM losers)
    """,
    doc="Composed curation pipeline: language gate -> quality gate "
    "(>= 0.5) -> MinHash-LSH dedup among the eligible set -> "
    "deterministic train/val/test split. One registry entry proving the "
    "stages compose into the daily corpus-production job; every stage is "
    "also individually oracle-verified. Scale shape: cheap codegen'd "
    "gates run FIRST so the expensive dedup only sees eligible docs.",
)
def q_corpus_curate_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    eligible = d.select(
        "doc_id", "text", TX.quality_score("text").alias("quality")
    ).filter(
        (F.col("quality") >= _CURATE_QUALITY_MIN) & (d["lang"] == "en")
    )
    pairs = D.minhash_lsh_pairs(
        eligible, "doc_id", "text", shingle_n=3, num_hashes=64, bands=16,
        threshold=0.8,
    )
    clusters = D.connected_components(pairs)
    survivors = D.dedup_survivors(eligible, clusters, "doc_id")
    return C.with_split(survivors, "doc_id").select("doc_id", "quality", "split")


# --------------------------------------------------------------------------
# Corpus lexical statistics (round 3 continuation): collocations, the
# BPE pair-count step, Zipf's-law fit. All three reduce the corpus to
# its VOCABULARY / n-gram domain with one partial-agg explode+groupBy —
# the only shuffles carry (token, count) pairs, never documents.
# --------------------------------------------------------------------------

_DUCK_TOKENS = """
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
    FROM documents WHERE length(trim(text)) > 0
"""


@register(
    "collocation_pmi",
    f"""
    WITH uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM ({_DUCK_TOKENS}) GROUP BY w
    ),
    bi AS (
      SELECT ngram, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM (
        SELECT unnest({_DUCK_NGRAMS[2]}) AS ngram
        FROM (SELECT string_split_regex(trim(text), '\\s+') AS tk
              FROM documents)
      ) GROUP BY ngram
    ),
    tot AS (
      SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS nu,
             (SELECT CAST(SUM(c_ab) AS BIGINT) FROM bi) AS nb
    )
    SELECT b.ngram AS bigram, b.c_ab, ua.c AS c_a, ub.c AS c_b,
           ROUND(LN((CAST(b.c_ab AS DOUBLE) * tot.nu * tot.nu)
                    / (CAST(tot.nb AS DOUBLE) * ua.c * ub.c)), 6) + 0.0
             AS pmi
    FROM bi b
    JOIN uni ua ON ua.w = string_split(b.ngram, ' ')[1]
    JOIN uni ub ON ub.w = string_split(b.ngram, ' ')[2]
    CROSS JOIN tot
    WHERE b.c_ab >= 5
    ORDER BY pmi DESC, bigram LIMIT 30
    """,
    doc="Top-30 collocations by pointwise mutual information, min support "
    "5: PMI = ln(c_ab*Nu^2 / (Nb*c_a*c_b)). The log argument is an "
    "exact integer ratio evaluated with identical parenthesization in "
    "both engines, so the double is bit-identical before the one LN. "
    "Scale: two explode+partial-agg reductions to the bigram/vocab "
    "domains, then vocabulary-keyed equi-joins (bigram -> its two word "
    "counts) and a broadcast scalar for the totals; documents are never "
    "shuffled.",
)
def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    nonempty = d.filter(F.length(F.trim("text")) > 0)
    # uni feeds three consumers (ua, ub, nu) and bi_all two (bi, nb):
    # persist both aggregates or every branch re-runs its explode over
    # the corpus (SCALE.md branch-recompute rule; measured 5.8s -> ~2s
    # at sf0.1)
    uni = (
        pin(nonempty.select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c")))
    )
    from etl_data_spark.operators.corpus import _ngram_array

    bi_all = (
        pin(d.select(F.explode(_ngram_array("text", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_ab")))
    )
    bi = bi_all.filter(F.col("c_ab") >= 5)
    nu = uni.agg(F.sum("c").alias("nu"))
    # nb must count ALL bigram occurrences (pre-support-filter)
    nb = bi_all.agg(F.sum("c_ab").alias("nb"))
    totals = F.broadcast(nu.crossJoin(nb))
    ua = uni.select(F.col("w").alias("wa"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("wb"), F.col("c").alias("c_b"))
    parts = F.split("bigram", " ")
    out = (
        bi.withColumn("wa", parts.getItem(0))
        .withColumn("wb", parts.getItem(1))
        .join(ua, "wa")
        .join(ub, "wb")
        .crossJoin(totals)
        .select(
            "bigram",
            "c_ab",
            "c_a",
            "c_b",
            (
                F.round(
                    F.log(
                        (
                            F.col("c_ab").cast("double")
                            * F.col("nu")
                            * F.col("nu")
                        )
                        / (
                            F.col("nb").cast("double")
                            * F.col("c_a")
                            * F.col("c_b")
                        )
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("pmi"),
        )
    )
    return out.orderBy(F.desc("pmi"), "bigram").limit(30)


@register(
    "bpe_pair_merge_counts",
    f"""
    WITH vocab AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM ({_DUCK_TOKENS}) GROUP BY w
    )
    SELECT pair, CAST(SUM(n) AS BIGINT) AS n_occurrences
    FROM (
      SELECT unnest(list_transform(range(1, greatest(length(w) - 1, 0) + 1),
                    i -> substr(w, CAST(i AS INT), 2))) AS pair,
             n
      FROM vocab
    )
    GROUP BY pair
    ORDER BY n_occurrences DESC, pair LIMIT 20
    """,
    doc="The pair-count step of BPE vocabulary induction: adjacent "
    "character-pair frequencies over the corpus, weighted by word "
    "occurrence count — the argmax pair is the first BPE merge. The "
    "corpus first reduces to its vocabulary (explode+groupBy, the only "
    "fact-sized shuffle); pair explosion then runs over DISTINCT words "
    "(vocab-sized, orders of magnitude smaller than the token stream — "
    "exactly how production BPE trainers batch it).",
)
def q_bpe_pair_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.filter(F.length(F.trim("text")) > 0)
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # sequence(1, 0) DESCENDS in Spark ([1, 0]) rather than being empty,
    # so single-char words must be excluded explicitly
    pairs = vocab.select(
        F.explode(
            F.expr(
                "CASE WHEN length(w) >= 2 THEN"
                " transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
                " ELSE CAST(array() AS array<string>) END"
            )
        ).alias("pair"),
        "n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(20)
    )


_ZIPF_K = 1000


@register(
    "zipf_slope",
    f"""
    WITH vocab AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM ({_DUCK_TOKENS}) GROUP BY w
    ),
    top AS (
      SELECT w, n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rank
      FROM vocab QUALIFY rank <= {_ZIPF_K}
    ),
    pts AS (
      SELECT CAST(ROUND(LN(CAST(rank AS DOUBLE)), 12) AS DECIMAL(20,12)) AS x,
             CAST(ROUND(LN(CAST(n AS DOUBLE)), 12) AS DECIMAL(20,12)) AS y
      FROM top
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * x) AS DOUBLE) AS sx2,
             CAST(SUM(x * y) AS DOUBLE) AS sxy
      FROM pts
    )
    SELECT k AS n_points,
           ROUND((k * sxy - sx * sy) / (k * sx2 - sx * sx), 6) + 0.0
             AS zipf_slope,
           ROUND((sy - ((k * sxy - sx * sy) / (k * sx2 - sx * sx)) * sx) / k,
                 6) + 0.0 AS intercept
    FROM s
    """,
    doc="Zipf's-law exponent estimate: least-squares slope of ln(freq) vs "
    "ln(rank) over the top-1000 vocabulary (a healthy natural corpus "
    "fits ~-1; corpus corruption shows up as curvature/slope drift, so "
    "this is a one-number corpus-health probe). Ranks come from "
    "top-k-then-rank (TakeOrderedAndProject, no global window over the "
    "vocabulary); each ln is rounded to 12dp and summed as DECIMAL so "
    "the regression sums are fold-order-exact.",
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.filter(F.length(F.trim("text")) > 0)
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    topk = vocab.orderBy(F.desc("n"), "w").limit(_ZIPF_K)
    ranked = topk.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("n"), "w"))
    )
    pts = ranked.select(
        F.round(F.log(F.col("rank").cast("double")), 12)
        .cast("decimal(20,12)")
        .alias("x"),
        F.round(F.log(F.col("n").cast("double")), 12)
        .cast("decimal(20,12)")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sx2"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sx2") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("k").alias("n_points"),
        (F.round(slope, 6) + F.lit(0.0)).alias("zipf_slope"),
        (
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("k"), 6)
            + F.lit(0.0)
        ).alias("intercept"),
    )


_SHARD_BUDGET = 20_000  # chars per output shard


@register(
    "shard_token_budget",
    f"""
    WITH h AS (
      SELECT doc_id, n_chars,
             md5(CAST(doc_id AS VARCHAR)) AS hk
      FROM documents
    ),
    r AS (
      SELECT doc_id, n_chars,
             SUM(n_chars) OVER (ORDER BY hk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
      FROM h
    )
    SELECT CAST((running - n_chars) // {_SHARD_BUDGET} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS shard_chars
    FROM r GROUP BY 1 ORDER BY shard_id
    """,
    doc="Deterministic training-shard assignment under a size budget: "
    "documents are shuffled by md5(doc_id) (reproducible at any "
    "partition count — no RNG), then packed greedily so each shard "
    "starts at a fixed cumulative-size offset (shard = floor(offset/"
    f"{_SHARD_BUDGET})). The cumulative offset is operators/rank."
    "global_running_sum — range-partition on the hash key, fold within "
    "partitions, broadcast per-partition totals — NOT a single-task "
    "global window, so the packing scales to corpus size. Integer "
    "sizes make the running sum fold-order-exact.",
)
def q_shard_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.rank import global_running_sum

    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("hk"),
    )
    r = global_running_sum(
        h, order_cols=["hk", "doc_id"], val_col="n_chars", out_col="running"
    )
    return (
        r.groupBy(
            F.expr(f"(running - n_chars) div {_SHARD_BUDGET}").alias(
                "shard_id"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("shard_chars"),
        )
        .orderBy("shard_id")
    )


_NEG_K, _NEG_ANCHORS = 3, 50


@register(
    "contrastive_negatives",
    f"""
    WITH d AS (
      SELECT doc_id, lang, n_chars // 100 AS len_bucket,
             md5(text) AS text_md5
      FROM documents
    ),
    anchors AS (SELECT * FROM d WHERE doc_id < {_NEG_ANCHORS}),
    cand AS (
      SELECT a.doc_id AS anchor_id, c.doc_id AS neg_id,
             a.lang, a.len_bucket,
             ROW_NUMBER() OVER (
               PARTITION BY a.doc_id
               ORDER BY md5(CAST(a.doc_id AS VARCHAR) || ':'
                            || CAST(c.doc_id AS VARCHAR)), c.doc_id
             ) AS neg_rank
      FROM anchors a
      JOIN d c
        ON c.lang = a.lang AND c.len_bucket = a.len_bucket
       AND c.doc_id != a.doc_id
       AND c.text_md5 != a.text_md5
    )
    SELECT anchor_id, neg_id, neg_rank, lang, len_bucket
    FROM cand WHERE neg_rank <= {_NEG_K}
    """,
    doc="Hard-negative mining for contrastive training: for each anchor "
    "document, sample 3 negatives from the SAME (lang, length-bucket) "
    "block — harder than uniform negatives because they share surface "
    "statistics — excluding the anchor and its exact duplicates "
    "(text md5). Selection ranks by md5(anchor:candidate), a "
    "deterministic pseudo-random order reproducible at any partition "
    "count. Scale shape: a blocked equi-join on the block key (never "
    "all-pairs) + a per-anchor window over that anchor's own candidate "
    "block (bounded fan-in). Swap the block key for LSH bucket ids to "
    "raise hardness at 100 TB.",
)
def q_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        F.expr("n_chars div 100").alias("len_bucket"),
        F.md5("text").alias("text_md5"),
    )
    anchors = d.filter(F.col("doc_id") < _NEG_ANCHORS).select(
        F.col("doc_id").alias("anchor_id"),
        F.col("lang"),
        F.col("len_bucket"),
        F.col("text_md5").alias("a_md5"),
    )
    cand = anchors.join(
        d.select(
            F.col("doc_id").alias("neg_id"),
            F.col("lang"),
            F.col("len_bucket"),
            F.col("text_md5").alias("c_md5"),
        ),
        ["lang", "len_bucket"],
    ).filter(
        (F.col("neg_id") != F.col("anchor_id"))
        & (F.col("c_md5") != F.col("a_md5"))
    )
    rk = F.row_number().over(
        W.partitionBy("anchor_id").orderBy(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("anchor_id").cast("string"),
                    F.col("neg_id").cast("string"),
                )
            ),
            "neg_id",
        )
    )
    return (
        cand.withColumn("neg_rank", rk)
        .filter(F.col("neg_rank") <= _NEG_K)
        .select("anchor_id", "neg_id", "neg_rank", "lang", "len_bucket")
    )


@register(
    "source_kl_divergence",
    f"""
    WITH toks AS (
      SELECT source, w FROM (
        SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents WHERE length(trim(text)) > 0
      ) WHERE w <> ''
    ),
    sf AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
    stot AS (SELECT source, CAST(SUM(tf) AS BIGINT) AS n FROM sf GROUP BY 1),
    cf AS (SELECT w, CAST(SUM(tf) AS BIGINT) AS ctf FROM sf GROUP BY 1),
    ctot AS (SELECT CAST(SUM(ctf) AS BIGINT) AS cn FROM cf)
    SELECT s.source, st.n AS n_tokens,
           ROUND(CAST(SUM(CAST(ROUND(
             (s.tf / (1.0e0 * st.n))
             * LN((s.tf * 1.0e0 * ct.cn) / (1.0e0 * st.n * c.ctf)), 9)
             AS DECIMAL(18,9))) AS DOUBLE), 6) + 0.0 AS kl_bits_nat
    FROM sf s
    JOIN stot st USING (source)
    JOIN cf c USING (w)
    CROSS JOIN ctot ct
    GROUP BY s.source, st.n
    ORDER BY s.source
    """,
    doc="Per-source KL divergence of the word distribution vs the whole "
    "corpus — the text twin of the numeric PSI drift screen: a source "
    "whose unigram distribution diverges is a domain shift or a "
    "contamination signal. q(w) > 0 always holds because the corpus "
    "marginal includes every source's terms, so no smoothing is "
    "needed. Each term's p*ln(p/q) contribution is rounded to 9dp and "
    "summed as DECIMAL (fold-order-exact); the inner ratio is one "
    "identically-parenthesized double expression. Shape: two "
    "vocabulary-domain reductions and vocabulary-keyed joins; "
    "documents are scanned once.",
)
def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.filter(F.length(F.trim("text")) > 0)
        .select(
            "source",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    sf = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("tf"))
    # sf feeds three consumers (stot, cf, the final join): persist to
    # avoid re-tokenizing the corpus per branch (SCALE.md §11)
    sf = pin(sf)
    stot = sf.groupBy("source").agg(F.sum("tf").alias("n"))
    cf = sf.groupBy("w").agg(F.sum("tf").alias("ctf"))
    ctot = F.broadcast(cf.agg(F.sum("ctf").alias("cn")))
    term = F.round(
        (F.col("tf") / (1.0 * F.col("n")))
        * F.log(
            (F.col("tf") * 1.0 * F.col("cn"))
            / (1.0 * F.col("n") * F.col("ctf"))
        ),
        9,
    ).cast("decimal(18,9)")
    return (
        sf.join(F.broadcast(stot), "source")
        .join(cf, "w")
        .crossJoin(ctot)
        .groupBy("source", F.col("n").alias("n_tokens"))
        .agg(
            (F.round(F.sum(term).cast("double"), 6) + F.lit(0.0)).alias(
                "kl_bits_nat"
            )
        )
        .orderBy("source")
    )


_VOCAB_CURVE_KS = [10, 50, 100, 500, 1000]


@register(
    "vocab_coverage",
    f"""
    WITH toks AS (
      SELECT w FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents WHERE length(trim(text)) > 0
      ) WHERE w <> ''
    ),
    vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY w),
    ranked AS (
      SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, w) AS rnk
      FROM vocab
    ),
    tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS n FROM vocab),
    ks AS (SELECT unnest({_VOCAB_CURVE_KS}) AS k)
    SELECT ks.k AS vocab_size,
           CAST(SUM(CASE WHEN r.rnk <= ks.k THEN r.tf ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           ROUND(CAST(SUM(CASE WHEN r.rnk <= ks.k THEN r.tf ELSE 0 END)
                 AS DOUBLE) / MAX(tot.n), 6) + 0.0 AS coverage
    FROM ranked r CROSS JOIN tot CROSS JOIN ks
    GROUP BY ks.k ORDER BY ks.k
    """,
    doc="Vocabulary coverage curve: fraction of all token occurrences "
    "covered by the top-k vocabulary, at k in "
    f"{_VOCAB_CURVE_KS} — the tokenizer-sizing readout (how big must "
    "the vocab be before OOV mass is negligible). Ranking happens on "
    "the vocabulary domain (row_number over distinct words, not "
    "tokens); coverage sums are integer until one division.",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.filter(F.length(F.trim("text")) > 0)
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    vocab = pin(toks.groupBy("w").agg(F.count(F.lit(1)).alias("tf")))
    # only ranks <= max(K) ever contribute to coverage, so rank a
    # top-max(K) truncation (TakeOrderedAndProject — distributed, no
    # vocab-sized single-partition sort; the vocabulary domain scales
    # with the corpus under Heaps' law) and window the bounded frame
    top = vocab.orderBy(F.desc("tf"), "w").limit(max(_VOCAB_CURVE_KS))
    ranked = top.select(
        "tf", F.row_number().over(W.orderBy(F.desc("tf"), "w")).alias("rnk")
    )
    tot = F.broadcast(vocab.agg(F.sum("tf").alias("n")))
    ks = F.broadcast(
        d.sparkSession.createDataFrame(
            [(k,) for k in _VOCAB_CURVE_KS], "k int"
        )
    )
    return (
        ranked.crossJoin(tot)
        .crossJoin(ks)
        .groupBy(F.col("k").alias("vocab_size"))
        .agg(
            F.sum(
                F.when(F.col("rnk") <= F.col("k"), F.col("tf")).otherwise(
                    F.lit(0)
                )
            ).alias("covered_tokens"),
            (
                F.round(
                    F.sum(
                        F.when(
                            F.col("rnk") <= F.col("k"), F.col("tf")
                        ).otherwise(F.lit(0))
                    ).cast("double")
                    / F.max("n"),
                    6,
                )
                + F.lit(0.0)
            ).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


@register(
    "packing_efficiency",
    f"""
    WITH toks AS (
      SELECT source, doc_id,
             CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT source,
             CAST(floor(off / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id,
             n_tokens
      FROM (
        SELECT source, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS off
        FROM toks
      )
    ),
    bins AS (
      SELECT source, pack_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
      FROM packed GROUP BY source, pack_id
    ),
    last_bin AS (
      SELECT source, MAX(pack_id) AS last_id FROM bins GROUP BY source
    )
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(b.n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(b.bin_tokens) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(CASE WHEN b.pack_id < l.last_id
                     THEN b.bin_tokens ELSE 0 END) AS DOUBLE)
                 / NULLIF({_PACK_BUDGET} * SUM(CASE WHEN b.pack_id < l.last_id
                       THEN 1 ELSE 0 END), 0), 6) + 0.0
             AS full_bin_utilization
    FROM bins b JOIN last_bin l USING (source)
    GROUP BY b.source ORDER BY b.source
    """,
    doc="Packing-efficiency report for the sequence packer: bins per "
    "shard, docs, token mass, and mean utilization of every CLOSED bin "
    "(the trailing partial bin is excluded — underfull by "
    "construction). A doc whose span crosses a bin boundary is "
    "attributed to the bin its START offset falls in, so closed-bin "
    "utilization is >= 1.0 with the excess measuring boundary "
    "spill-in (observed ~1.0-1.09 at 512-token budget); a value "
    "BELOW 1.0 would mean the packer leaked tokens — the regression "
    "this report exists to catch. Same per-source window over token "
    "offsets as sequence_pack; everything after is bin-domain "
    "aggregation.",
)
def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    packed = C.pack_sequences(
        d, "source", "doc_id", "text", budget=_PACK_BUDGET
    )
    bins = packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).alias("bin_tokens"),
    )
    last = bins.groupBy("source").agg(F.max("pack_id").alias("last_id"))
    closed = F.col("pack_id") < F.col("last_id")
    return (
        bins.join(F.broadcast(last), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("bin_tokens").alias("total_tokens"),
            (
                F.round(
                    F.sum(
                        F.when(closed, F.col("bin_tokens")).otherwise(0)
                    ).cast("double")
                    / F.nullif(
                        F.lit(_PACK_BUDGET)
                        * F.sum(F.when(closed, 1).otherwise(0)),
                        F.lit(0),
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("full_bin_utilization"),
        )
        .orderBy("source")
    )


@register(
    "corpus_export_manifest",
    f"""
    WITH curated AS (
      SELECT * FROM ({{CURATE_SQL}}) c WHERE c.split = 'train'
    ),
    sized AS (
      SELECT cu.doc_id, cu.quality, d.n_chars,
             md5(CAST(cu.doc_id AS VARCHAR)) AS hk
      FROM curated cu JOIN documents d USING (doc_id)
    ),
    packed AS (
      SELECT doc_id, quality, n_chars,
             COALESCE(SUM(n_chars) OVER (ORDER BY hk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS off
      FROM sized
    )
    SELECT CAST(off // {_SHARD_BUDGET} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
           ROUND(CAST(SUM(CAST(quality AS DECIMAL(10,6))) AS DOUBLE)
                 / COUNT(*), 6) + 0.0 AS avg_quality
    FROM packed GROUP BY 1 ORDER BY shard_id
    """,
    doc="The composed training-data EXPORT: the full curation pipeline "
    "(lang gate -> quality gate -> near-dup survivor filter -> "
    "deterministic split) restricted to the train split, then packed "
    "into size-budgeted shards by the md5-shuffled running offset — "
    "per shard: docs, char mass, decimal-exact mean quality. This is "
    "the manifest a training job consumes. Oracle composition mirrors "
    "operator composition: the curation entry's own recursive-CTE "
    "oracle is embedded as a subquery, and the shard arithmetic is "
    "the same global_running_sum construction as shard_token_budget.",
)
def q_corpus_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.rank import global_running_sum
    from etl_data_spark.queries import REGISTRY

    curated = REGISTRY["corpus_curate_end2end"].fn(spark, sf_dir).filter(
        F.col("split") == "train"
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sized = curated.join(d, "doc_id").select(
        "doc_id",
        "quality",
        "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("hk"),
    )
    r = global_running_sum(
        sized, order_cols=["hk", "doc_id"], val_col="n_chars",
        out_col="running",
    )
    return (
        r.groupBy(
            F.expr(f"(running - n_chars) div {_SHARD_BUDGET}").alias(
                "shard_id"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("shard_chars"),
            (
                F.round(
                    F.sum(F.col("quality").cast("decimal(10,6)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("avg_quality"),
        )
        .orderBy("shard_id")
    )


# splice the curation oracle in AFTER registration (its SQL contains
# braces from list comprehensions that str.format would mangle)
from etl_data_spark.queries import REGISTRY as _REG  # noqa: E402

_REG["corpus_export_manifest"].oracle = _REG[
    "corpus_export_manifest"
].oracle.replace("{CURATE_SQL}", _REG["corpus_curate_end2end"].oracle)


_MIX_TEMP_BUDGET = 1_000_000  # tokens per training epoch


@register(
    "mixture_temperature_weights",
    f"""
    WITH m AS (
      SELECT source, CAST(SUM({_DUCK_NTOK}) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(tokens) AS BIGINT) AS nn,
             SUM(SQRT(CAST(tokens AS DOUBLE))) AS z
      FROM m
    )
    SELECT m.source, m.tokens,
           ROUND(CAST(m.tokens AS DOUBLE) / tot.nn, 6) + 0.0 AS raw_share,
           ROUND(SQRT(CAST(m.tokens AS DOUBLE)) / tot.z, 6) + 0.0
             AS temp_weight,
           ROUND(({_MIX_TEMP_BUDGET}.0 * SQRT(CAST(m.tokens AS DOUBLE))
                  / tot.z) / m.tokens, 6) + 0.0 AS expected_epochs
    FROM m CROSS JOIN tot ORDER BY m.source
    """,
    doc="Temperature-based corpus mixing (alpha = 0.5, i.e. sampling "
    "weight proportional to sqrt of token mass — the multilingual "
    "up/down-sampling rule from XLM-R-style training): per source, raw "
    "token share, the temperature-adjusted sampling weight, and how "
    "many epochs of that source a 1M-token training budget implies "
    "(small sources repeat, big sources subsample — the quantity this "
    "readout exists to surface). The normalizer z = sum of sqrt masses "
    "is a sum over the SOURCE domain (dozens of rows), so double "
    "summation order is the domain's deterministic agg; everything "
    "upstream is an integer token reduction.",
)
def q_mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    from etl_data_spark.operators.text import token_count

    m = d.groupBy("source").agg(
        F.sum(token_count("text").cast("long")).alias("tokens")
    )
    tot = F.broadcast(
        m.agg(
            F.sum("tokens").alias("nn"),
            F.sum(F.sqrt(F.col("tokens").cast("double"))).alias("z"),
        )
    )
    sq = F.sqrt(F.col("tokens").cast("double"))
    return (
        m.crossJoin(tot)
        .select(
            "source",
            "tokens",
            (
                F.round(F.col("tokens").cast("double") / F.col("nn"), 6)
                + F.lit(0.0)
            ).alias("raw_share"),
            (F.round(sq / F.col("z"), 6) + F.lit(0.0)).alias(
                "temp_weight"
            ),
            (
                F.round(
                    (F.lit(float(_MIX_TEMP_BUDGET)) * sq / F.col("z"))
                    / F.col("tokens"),
                    6,
                )
                + F.lit(0.0)
            ).alias("expected_epochs"),
        )
        .orderBy("source")
    )


_HEAPS_STEP = 50  # checkpoint every 50 docs in doc_id order


@register(
    "vocab_growth_curve",
    f"""
    WITH toks AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents WHERE length(trim(text)) > 0
      ) WHERE w <> ''
    ),
    firsts AS (
      SELECT w, MIN(doc_id) AS first_doc FROM toks GROUP BY w
    ),
    doc_tokens AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM toks GROUP BY doc_id
    ),
    cp AS (
      SELECT unnest(range({_HEAPS_STEP},
                          (SELECT MAX(doc_id) FROM documents) + 1,
                          {_HEAPS_STEP})) AS checkpoint
    )
    SELECT cp.checkpoint,
           (SELECT CAST(SUM(n_tok) AS BIGINT) FROM doc_tokens
            WHERE doc_id < cp.checkpoint) AS tokens_seen,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts
            WHERE first_doc < cp.checkpoint) AS vocab_size
    FROM cp ORDER BY cp.checkpoint
    """,
    doc="Heaps'-law vocabulary growth curve: distinct vocabulary vs "
    "tokens ingested at every 50-document checkpoint (doc_id order) — "
    "the companion to zipf_slope for corpus health (vocabulary that "
    "stops growing signals duplication; growth that never bends "
    "signals noise/gibberish). Cumulative distinct WITHOUT re-scanning "
    "per checkpoint: each word reduces to its FIRST-occurrence doc "
    "(one groupBy), and a checkpoint's vocab is a count over that "
    "first-occurrence domain — the same trick turns cumulative "
    "distinct users into a first-seen reduction at any scale.",
)
def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        pin(d.filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
        )
        .filter(F.col("w") != ""))
    )
    firsts = toks.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    doc_tokens = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok")
    )
    max_doc = d.agg(F.max("doc_id")).first()[0]
    cps = d.sparkSession.createDataFrame(
        [(c,) for c in range(_HEAPS_STEP, max_doc + 1, _HEAPS_STEP)],
        "checkpoint bigint",
    )
    tok_cp = (
        F.broadcast(cps)
        .join(doc_tokens, doc_tokens["doc_id"] < F.col("checkpoint"))
        .groupBy("checkpoint")
        .agg(F.sum("n_tok").alias("tokens_seen"))
    )
    voc_cp = (
        F.broadcast(cps)
        .join(firsts, firsts["first_doc"] < F.col("checkpoint"))
        .groupBy("checkpoint")
        .agg(F.count(F.lit(1)).alias("vocab_size"))
    )
    return (
        tok_cp.join(voc_cp, "checkpoint")
        .select("checkpoint", "tokens_seen", "vocab_size")
        .orderBy("checkpoint")
    )


@register(
    "keyness_terms",
    f"""
    WITH toks AS (
      SELECT lang, w FROM (
        SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents WHERE length(trim(text)) > 0
      ) WHERE w <> ''
    ),
    lt AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS a
      FROM toks GROUP BY lang, w
    ),
    wt AS (SELECT w, CAST(SUM(a) AS BIGINT) AS wtot FROM lt GROUP BY w),
    ltot AS (SELECT lang, CAST(SUM(a) AS BIGINT) AS ln_tot
             FROM lt GROUP BY lang),
    nn AS (SELECT CAST(SUM(a) AS BIGINT) AS n FROM lt),
    cells AS (
      SELECT lt.lang, lt.w, lt.a,
             wt.wtot - lt.a AS b,
             ltot.ln_tot - lt.a AS c,
             nn.n - wt.wtot - ltot.ln_tot + lt.a AS d,
             nn.n AS n, wt.wtot AS wtot, ltot.ln_tot AS ln_tot
      FROM lt JOIN wt USING (w) JOIN ltot USING (lang) CROSS JOIN nn
    ),
    scored AS (
      SELECT lang, w, a,
             ROUND(2.0e0 * (CASE WHEN a > 0 THEN a * LN(CAST(a AS DOUBLE)) ELSE 0.0e0 END + CASE WHEN b > 0 THEN b * LN(CAST(b AS DOUBLE)) ELSE 0.0e0 END
                   + CASE WHEN c > 0 THEN c * LN(CAST(c AS DOUBLE)) ELSE 0.0e0 END + CASE WHEN d > 0 THEN d * LN(CAST(d AS DOUBLE)) ELSE 0.0e0 END + CASE WHEN n > 0 THEN n * LN(CAST(n AS DOUBLE)) ELSE 0.0e0 END
                   - CASE WHEN (a + b) > 0 THEN (a + b) * LN(CAST((a + b) AS DOUBLE)) ELSE 0.0e0 END - CASE WHEN (a + c) > 0 THEN (a + c) * LN(CAST((a + c) AS DOUBLE)) ELSE 0.0e0 END
                   - CASE WHEN (b + d) > 0 THEN (b + d) * LN(CAST((b + d) AS DOUBLE)) ELSE 0.0e0 END - CASE WHEN (c + d) > 0 THEN (c + d) * LN(CAST((c + d) AS DOUBLE)) ELSE 0.0e0 END), 6) AS g2
      FROM cells
      WHERE (1.0e0 * a) * n > (1.0e0 * wtot) * ln_tot
    )
    SELECT lang, w AS term, a AS tf_in_lang, g2 + 0.0 AS g2
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY g2 DESC, w) AS rn
      FROM scored
    ) WHERE rn <= 3
    ORDER BY lang, g2 DESC, term
    """,
    doc="Keyness (Dunning log-likelihood G2): the 3 most characteristic "
    "OVERUSED terms of each language subcorpus vs the rest — the "
    "corpus-linguistics measure behind 'what distinguishes this "
    "slice'. G2 comes entirely from integer contingency counts "
    "(term-in-lang / term-elsewhere / other-tokens each side) with "
    "x*ln(x) evaluated once per cell at emit; candidate terms reduce "
    "to the (lang, term) domain, and the top-3 window partitions by "
    "language over that domain.",
)
def q_keyness_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.filter(F.length(F.trim("text")) > 0)
        .select(
            "lang", F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
    )
    lt = pin(toks.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("a")))
    wt = lt.groupBy("w").agg(F.sum("a").alias("wtot"))
    ltot = lt.groupBy("lang").agg(F.sum("a").alias("ln_tot"))
    nn = F.broadcast(lt.agg(F.sum("a").alias("n")))
    cells = (
        lt.join(wt, "w")
        .join(F.broadcast(ltot), "lang")
        .crossJoin(nn)
        .select(
            "lang",
            "w",
            "a",
            (F.col("wtot") - F.col("a")).alias("b"),
            (F.col("ln_tot") - F.col("a")).alias("c"),
            (
                F.col("n") - F.col("wtot") - F.col("ln_tot") + F.col("a")
            ).alias("d"),
            "n",
            "wtot",
            "ln_tot",
        )
    )

    def xlogx(col):
        return F.when(
            col > 0, col * F.log(col.cast("double"))
        ).otherwise(F.lit(0.0))

    g2 = F.round(
        2.0
        * (
            xlogx(F.col("a"))
            + xlogx(F.col("b"))
            + xlogx(F.col("c"))
            + xlogx(F.col("d"))
            + xlogx(F.col("n"))
            - xlogx(F.col("a") + F.col("b"))
            - xlogx(F.col("a") + F.col("c"))
            - xlogx(F.col("b") + F.col("d"))
            - xlogx(F.col("c") + F.col("d"))
        ),
        6,
    )
    overused = (1.0 * F.col("a")) * F.col("n") > (
        1.0 * F.col("wtot")
    ) * F.col("ln_tot")
    scored = cells.select(
        "lang", "w", "a", g2.alias("g2"), overused.alias("overused")
    ).filter("overused")
    rn = F.row_number().over(
        W.partitionBy("lang").orderBy(F.desc("g2"), "w")
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= 3)
        .select(
            "lang",
            F.col("w").alias("term"),
            F.col("a").alias("tf_in_lang"),
            (F.col("g2") + F.lit(0.0)).alias("g2"),
        )
        .orderBy("lang", F.desc("g2"), "term")
    )


# --------------------------------------------------------------------------
# Iterative BPE training (operators/bpe.py; r12, VERDICT r11 missing #4)
# --------------------------------------------------------------------------

_BPE_MERGES = 6


def _duck_bpe_ctes(n_merges: int) -> str:
    """Unrolled merge-loop CTE chain (the geometric_median trajectory
    trick): per iteration, pair counts from the current segmentation,
    a 1-row argmax (count DESC, pair lexicographic ASC), and a
    boundary-anchored ``replace`` re-segmentation — DuckDB's replace is
    left-to-right non-overlapping exactly like Spark's, so every
    iteration replays bit-identically (see operators/bpe.py for why the
    \\x1f\\x1f representation makes one replace exact greedy BPE)."""
    b = "chr(31) || chr(31)"
    ctes = [
        f"""vocab AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM ({_DUCK_TOKENS}) GROUP BY w
    ),
    seg_0 AS (
      SELECT w, n,
             {b} || array_to_string(
               list_transform(range(1, length(w) + 1),
                              i -> substr(w, CAST(i AS INT), 1)),
               {b}) || {b} AS seg
      FROM vocab
    )"""
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        ctes.append(
            f"""syms_{i} AS (
      SELECT n, string_split(seg, {b}) AS ss FROM seg_{p}
    ),
    pairs_{i} AS (
      SELECT ss[CAST(i AS INT)] AS l, ss[CAST(i + 1 AS INT)] AS r,
             CAST(SUM(n) AS BIGINT) AS cnt
      FROM (SELECT n, ss, unnest(range(2, greatest(len(ss) - 1, 2))) AS i
            FROM syms_{i})
      GROUP BY l, r
    ),
    best_{i} AS (
      SELECT l, r, cnt FROM pairs_{i}
      ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
    ),
    seg_{i} AS (
      SELECT s.w, s.n,
             replace(s.seg,
                     chr(31) || b.l || {b} || b.r || chr(31),
                     chr(31) || b.l || b.r || chr(31)) AS seg
      FROM seg_{p} s, best_{i} b
    )"""
        )
        ctes.append(
            f"""merge_{i} AS (
      SELECT {i} AS merge_rank, l AS "left", r AS "right",
             l || r AS merged, cnt AS n_occurrences
      FROM best_{i}
    )"""
        )
    return "WITH " + ",\n    ".join(ctes)


def _duck_bpe_unrolled(n_merges: int) -> str:
    """Merge-table oracle: the CTE chain's per-iteration argmax rows."""
    union = "\n      UNION ALL\n      ".join(
        f"SELECT * FROM merge_{i}" for i in range(1, n_merges + 1)
    )
    return (
        _duck_bpe_ctes(n_merges)
        + f"""
    SELECT CAST(merge_rank AS INT) AS merge_rank, "left", "right", merged,
           n_occurrences
    FROM ({union})
    ORDER BY merge_rank
    """
    )


@register(
    "bpe_train_merges",
    _duck_bpe_unrolled(_BPE_MERGES),
    doc=f"Iterative BPE tokenizer training (Sennrich et al. 2016): the "
    f"actual merge LOOP, {_BPE_MERGES} rounds of pair-count -> argmax -> "
    "greedy re-segmentation, not just the first merge's counts "
    "(bpe_pair_merge_counts). Pregel-shaped like pagerank: the corpus "
    "reduces once to its vocabulary, each round costs one vocab-sized "
    "aggregation + a 1-row collect + one narrow built-in replace (no "
    "UDF), lineage localCheckpoint-truncated per round. Oracle = the "
    "loop unrolled into per-iteration CTEs.",
)
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.bpe import train_bpe

    d = load_table(spark, sf_dir, "documents")
    return train_bpe(d, _BPE_MERGES)


@register(
    "bpe_segment_corpus",
    # the APPLY side's ground truth rides the SAME unrolled chain: seg_N
    # IS the vocabulary segmented by the first N merges, so the oracle
    # joins each document's words to it and explodes tokens in (word
    # position, within-word position) order.
    _duck_bpe_ctes(_BPE_MERGES)
    + f"""
    , tok AS (
      SELECT w,
             list_filter(string_split(seg, chr(31) || chr(31)),
                         x -> x != '') AS toks
      FROM seg_{_BPE_MERGES}
    ),
    doc_words AS (
      SELECT doc_id, u['w'] AS w, u['p'] AS wpos
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, len(ws) + 1),
                 i -> {{'w': ws[CAST(i AS INT)], 'p': i}})) AS u
        FROM (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM documents WHERE length(trim(text)) > 0
        )
      )
    ),
    doc_toks AS (
      SELECT doc_id, wpos, v['t'] AS token, v['p'] AS tpos
      FROM (
        SELECT d.doc_id, d.wpos,
               unnest(list_transform(
                 range(1, len(t.toks) + 1),
                 i -> {{'t': t.toks[CAST(i AS INT)], 'p': i}})) AS v
        FROM doc_words d JOIN tok t USING (w)
      )
    )
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY doc_id ORDER BY wpos, tpos) AS INT) AS pos,
           token
    FROM doc_toks
    """,
    doc=f"BPE tokenization of the corpus with the {_BPE_MERGES} trained "
    "merges — the APPLY side of the tokenizer (segment_with_merges), in "
    "the vocab-frame form: distinct words, merges applied iteratively "
    "on the vocab frame (lineage-truncated batches), then ONE broadcast "
    "join of (word -> tokens) back to the position-exploded corpus — "
    "the corpus-side plan is constant in vocabulary size, so a 32k-merge "
    "production tokenizer runs the same plan as this entry's 6 merges. "
    "No UDF. Oracle = the training chain's final segmentation joined "
    "back to each document's words (the same join formulation).",
)
def q_bpe_segment_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.bpe import segment_with_merges, train_bpe

    d = load_table(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in train_bpe(d, _BPE_MERGES).collect()
    ]
    seg = segment_with_merges(
        d.filter(F.length(F.trim("text")) > 0), merges, id_col="doc_id"
    )
    return seg.select(
        "doc_id", F.posexplode("bpe_tokens").alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "token")


# --------------------------------------------------------------------------
# DSIR importance weighting + weighted selection (data mixing) — r13
# --------------------------------------------------------------------------

_DSIR_BUCKETS = 1024
_DSIR_K = 50

# portable md5-prefix hash of an expression (the repo convention —
# operators/dedup.py module docstring); DuckDB twin of mixing._md5_32
_SQL_MD5_32_MIX = """
    CAST(list_sum(list_transform(range(1, 9),
        k -> (strpos('0123456789abcdef', substr(md5({key}), CAST(k AS INT), 1)) - 1)
             * CAST(power(16, 8 - k) AS BIGINT))) AS BIGINT)
"""

_SQL_DSIR_LR = f"""
    docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    grams AS (
      SELECT doc_id, gram FROM (
        SELECT doc_id, unnest(ws) AS gram FROM docs
        UNION ALL
        SELECT doc_id,
               ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] AS gram
        FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM docs)
      )
    ),
    bk AS (
      SELECT doc_id,
             CAST({_SQL_MD5_32_MIX.format(key="'dsir:' || gram")}
                  % {_DSIR_BUCKETS} AS INT) AS b
      FROM grams
    ),
    rc AS (SELECT b, count(*) AS cr FROM bk GROUP BY b),
    tc AS (SELECT b, count(*) AS ct FROM bk WHERE doc_id % 7 = 0 GROUP BY b),
    tot AS (
      SELECT (SELECT sum(cr) FROM rc) AS nr,
             (SELECT COALESCE(sum(ct), 0) FROM tc) AS nt
    ),
    lr AS (
      SELECT rc.b,
             CAST(round(ln(
               (CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                  * CAST(nr + {_DSIR_BUCKETS} AS DOUBLE))
               / (CAST(COALESCE(cr, 0) + 1 AS DOUBLE)
                  * CAST(nt + {_DSIR_BUCKETS} AS DOUBLE))
             ), 9) AS DECIMAL(20,9)) AS log_ratio
      FROM rc LEFT JOIN tc USING (b), tot
    ),
    w AS (
      SELECT bk.doc_id, sum(lr.log_ratio) AS log_weight
      FROM bk JOIN lr USING (b)
      GROUP BY bk.doc_id
    )
"""


@register(
    "dsir_importance",
    f"""
    WITH {_SQL_DSIR_LR}
    SELECT doc_id,
           round(CAST(log_weight AS DOUBLE), 6) AS log_weight
    FROM w
    """,
    doc="DSIR importance weights (Xie et al. 2023, NeurIPS): per-raw-doc "
    "log-likelihood ratio of a target corpus (doc_id % 7 = 0 slice) vs "
    "the raw corpus under Laplace-smoothed hashed-n-gram (unigram + "
    "bigram, 1024 buckets, portable md5 hashing) bag models — the "
    "selection/weighting stage between dedup and packing. Per-bucket "
    "log ratios are rounded once and carried as DECIMAL so the per-doc "
    "fold is order-independent; factors multiply as doubles (int64 "
    "products overflow at 100 TB counts). One token-stream explode, a "
    "map-combined 1024-bucket agg, a broadcast of the bucket model "
    "back onto the gram stream, one doc-keyed shuffle.",
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.mixing import dsir_importance

    d = load_table(spark, sf_dir, "documents")
    w = dsir_importance(d, n_buckets=_DSIR_BUCKETS,
                        target_pred=F.col("doc_id") % 7 == 0)
    return w.select(
        "doc_id",
        F.round(F.col("log_weight").cast("double"), 6).alias("log_weight"),
    )


@register(
    "dsir_select_topk",
    f"""
    WITH {_SQL_DSIR_LR}
    SELECT doc_id,
           round(CAST(log_weight AS DOUBLE), 6) AS log_weight,
           round(CAST(log_weight AS DOUBLE)
                 + (-ln(-ln(
                     ({_SQL_MD5_32_MIX.format(key="'dsir-gumbel:' || CAST(doc_id AS VARCHAR)")}
                      % 1000000000 + 0.5) / 1000000000.0))), 6)
             AS gumbel_key
    FROM w
    ORDER BY gumbel_key DESC, doc_id ASC
    LIMIT {_DSIR_K}
    """,
    doc="Weighted sampling WITHOUT replacement of the top-50 documents "
    "proportional to DSIR importance, via Gumbel-top-k (Efraimidis & "
    "Spirakis 2006): key = log w(d) + Gumbel(u(d)) with the uniform "
    "HASH-DERIVED from the doc id (generate.py discipline) — the "
    "sample is deterministic across engines, retries, and cluster "
    "layouts, which is what makes a 100 TB selection job resumable. "
    "Plan: the importance frame + TakeOrderedAndProject; no global "
    "sort, no RNG state.",
)
def q_dsir_select_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.mixing import dsir_select_topk

    d = load_table(spark, sf_dir, "documents")
    return dsir_select_topk(
        d, k=_DSIR_K, n_buckets=_DSIR_BUCKETS,
        target_pred=F.col("doc_id") % 7 == 0,
    )


_LM_LAM = 0.75


@register(
    "lm_perplexity",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    tdocs AS (SELECT * FROM docs WHERE doc_id % 7 = 0),
    tbig AS (
      SELECT w1, w2, count(*) AS c12 FROM (
        SELECT ws[CAST(i AS INT)] AS w1, ws[CAST(i + 1 AS INT)] AS w2
        FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM tdocs)
      ) GROUP BY w1, w2
    ),
    tuni AS (
      SELECT w, count(*) AS c FROM (
        SELECT unnest(ws) AS w FROM tdocs
      ) GROUP BY w
    ),
    tot AS (
      SELECT (SELECT sum(c) FROM tuni) AS n_tokens,
             (SELECT count(*) FROM tuni) AS v_types
    ),
    rbig AS (
      SELECT doc_id, ws[CAST(i AS INT)] AS w1, ws[CAST(i + 1 AS INT)] AS w2
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM docs)
    ),
    scored AS (
      SELECT r.doc_id,
             CAST(round(ln(
               (CASE WHEN b.c12 IS NOT NULL AND COALESCE(u1.c, 0) > 0
                     THEN {_LM_LAM} * (CAST(b.c12 AS DOUBLE)
                                       / CAST(u1.c AS DOUBLE))
                     ELSE 0.0 END)
               + {1.0 - _LM_LAM} * (CAST(COALESCE(u2.c, 0) + 1 AS DOUBLE)
                                    / CAST(n_tokens + v_types AS DOUBLE))
             ), 9) AS DECIMAL(20,9)) AS lp
      FROM rbig r
      LEFT JOIN tbig b ON r.w1 = b.w1 AND r.w2 = b.w2
      LEFT JOIN tuni u1 ON r.w1 = u1.w
      LEFT JOIN tuni u2 ON r.w2 = u2.w
      CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(-CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_nll,
           round(exp(round(-CAST(sum(lp) AS DOUBLE) / count(*), 6)), 4)
             AS ppl
    FROM scored GROUP BY doc_id
    """,
    doc="CCNet-style LM quality gate (Wenzek et al. 2020): per-document "
    "perplexity under a Jelinek-Mercer-interpolated bigram model fit on "
    "the target slice (doc_id % 7 = 0) — low perplexity = target-like "
    "text, and thresholding ppl is the selection gate between dedup and "
    "packing. Per-bigram log-probs are one ln of an identically-written "
    "double expression rounded once to 9 dp and summed as DECIMAL "
    "(order-independent); the model is two target count frames "
    "broadcast onto the raw bigram stream + one doc-keyed fold — no "
    "vocabulary collect, no UDF.",
)
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.mixing import lm_perplexity

    d = load_table(spark, sf_dir, "documents")
    return lm_perplexity(
        d, d.filter(F.col("doc_id") % 7 == 0), lam=_LM_LAM
    )


# --------------------------------------------------------------------------
# Unigram-LM (SentencePiece) Viterbi tokenization — r13
# --------------------------------------------------------------------------

_UNI_PIECE_LEN = 4   # seed pieces up to 4 chars; DP window matches
_UNI_MIN_COUNT = 5
_UNI_MAX_WORD = 16
_UNI_NEG = "-1.0e18"


@register(
    "unigram_segment_corpus",
    f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    occ AS (
      SELECT w FROM (SELECT unnest(ws) AS w FROM docs) WHERE length(w) > 0
    ),
    allspans AS (
      SELECT substr(w, CAST(j AS INT),
                    CAST(i AS INT) - CAST(j AS INT) + 1) AS sub
      FROM (
        SELECT w, i, unnest(range(greatest(1, i - {_UNI_PIECE_LEN - 1}),
                                  i + 1)) AS j
        FROM (SELECT w, unnest(range(1, length(w) + 1)) AS i FROM occ)
      )
    ),
    pcounts AS (SELECT sub AS piece, count(*) AS cnt FROM allspans GROUP BY sub),
    kept AS (
      SELECT piece, cnt FROM pcounts
      WHERE cnt >= {_UNI_MIN_COUNT} OR length(piece) = 1
    ),
    tot AS (SELECT sum(cnt) AS t FROM kept),
    pieces AS (
      SELECT piece,
             round(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)), 9) AS logp
      FROM kept, tot
    ),
    wlist AS (SELECT DISTINCT w FROM occ),
    spans AS (
      SELECT w, CAST(j AS INT) AS j, CAST(i AS INT) AS i,
             substr(w, CAST(j AS INT), CAST(i AS INT) - CAST(j AS INT) + 1) AS sub
      FROM (
        SELECT w, i, unnest(range(greatest(1, i - {_UNI_PIECE_LEN - 1}),
                                  i + 1)) AS j
        FROM (SELECT w, unnest(range(1, length(w) + 1)) AS i FROM wlist)
      )
    ),
    wspans AS (
      SELECT s.w,
             list({{'j': s.j, 'i': s.i, 'lp': p.logp}} ORDER BY s.i, s.j)
               AS sl
      FROM spans s JOIN pieces p ON s.sub = p.piece
      GROUP BY s.w
    ),
    dp AS (
      SELECT w, sl, 0 AS i,
             [CAST(0.0 AS DOUBLE)] AS best, [0] AS ptr
      FROM wspans
      UNION ALL
      SELECT w, sl, i + 1,
             list_append(best, COALESCE(best_score, {_UNI_NEG})),
             list_append(ptr, CAST(COALESCE(pick_j, 0) AS INT))
      FROM (
        SELECT w, sl, i, best, ptr,
               list_max(list_transform(cands, c -> c.score)) AS best_score,
               list_max(list_transform(
                 list_filter(cands, c -> c.score =
                   list_max(list_transform(cands, x -> x.score))),
                 c -> c.j)) AS pick_j
        FROM (
          SELECT w, sl, i, best, ptr,
                 list_filter(
                   list_transform(
                     list_filter(sl, s -> s.i = i + 1),
                     s -> {{'score': best[s.j] + s.lp, 'j': s.j}}),
                   c -> c.score > -5.0e17) AS cands
          FROM dp WHERE i < length(w)
        )
      )
    ),
    fin AS (SELECT w, ptr FROM dp WHERE i = length(w)),
    bt AS (
      SELECT w, ptr, length(w) AS pos, CAST([] AS VARCHAR[]) AS acc
      FROM fin
      UNION ALL
      SELECT w, ptr, ptr[pos + 1] - 1 AS pos,
             list_prepend(substr(w, ptr[pos + 1], pos - ptr[pos + 1] + 1),
                          acc)
      FROM bt WHERE pos > 0 AND ptr[pos + 1] > 0
    ),
    wtoks AS (SELECT w, acc AS toks FROM bt WHERE pos = 0),
    doc_words AS (
      SELECT doc_id, u['w'] AS w, u['p'] AS wpos
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, len(ws) + 1),
                 k -> {{'w': ws[CAST(k AS INT)], 'p': k}})) AS u
        FROM docs
      )
    ),
    doc_toks AS (
      SELECT d.doc_id, d.wpos, v['t'] AS token, v['p'] AS tpos
      FROM (
        SELECT dw.doc_id, dw.wpos,
               unnest(list_transform(
                 range(1, len(t.toks) + 1),
                 k -> {{'t': t.toks[CAST(k AS INT)], 'p': k}})) AS v
        FROM doc_words dw JOIN wtoks t USING (w)
      ) d
    )
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY doc_id ORDER BY wpos, tpos) AS INT) AS pos,
           token
    FROM doc_toks
    """,
    doc="Unigram-LM (SentencePiece, Kudo 2018) Viterbi tokenization — "
    "the engine's second tokenizer family beside BPE, in the same "
    "vocab-frame shape: distinct words explode their candidate spans "
    "once, join the (deterministically seeded) piece table for "
    "log-probs, run Viterbi DP as L bounded narrow Column steps "
    "(lineage-truncated; ties break to the shortest last piece), "
    "backtrack in L more bounded steps, then ONE broadcast join back "
    "to the position-exploded corpus. Log-probs round once to 9 dp and "
    "accumulate in DP order, so the oracle — a recursive-CTE replay of "
    "the identical DP — matches bit-for-bit. No UDF, no driver loop.",
)
def q_unigram_segment_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.unigram import (
        seed_pieces,
        unigram_segment_corpus,
    )

    d = load_table(spark, sf_dir, "documents")
    pieces = seed_pieces(
        d, max_piece_len=_UNI_PIECE_LEN, min_count=_UNI_MIN_COUNT
    )
    seg = unigram_segment_corpus(
        d.filter(F.length(F.trim("text")) > 0),
        pieces,
        id_col="doc_id",
        max_piece_len=_UNI_PIECE_LEN,
        max_word_len=_UNI_MAX_WORD,
    )
    return seg.select(
        "doc_id", F.posexplode("unigram_tokens").alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "token")
