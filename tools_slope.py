#!/usr/bin/env python3
"""Slope sweeps: an incremental or windowed path must cost O(delta) or
O(window), not O(table).

Families:

- ``dedup``: at-rest incremental MinHash dedup. The base corpus is the
  sf0.1 documents replicated 1x / 4x / 16x (doc ids offset per replica,
  texts 10x'd so signing cost is visible over fixed job overhead), the
  delta a fixed 200-doc batch. With the band table persisted
  (``write_minhash_bands``), the probe (``dedup_incremental_at_rest``)
  must stay about flat while the on-the-fly
  ``minhash_lsh_pairs_incremental``, which re-shingles and re-signs the
  whole corpus per batch, grows linearly.
- ``semantic``: the same sweep for the semantic ingest gate. The base is
  the sf0.1 embeddings replicated 1x / 4x / 16x (vec ids offset, a small
  per-replica scale so replicas do not collapse into one duplicate
  cluster) folded into a ``write_ivf_partitioned`` layout, the delta a
  fixed 200-vector batch. ``semantic_dedup_incremental_at_rest`` must
  cost O(delta + probed cells), while on-the-fly ``semantic_dedup_pairs``
  over base + delta retrains the cells and re-assigns the whole corpus.
- ``reload``: ``overwrite_by_window`` on synthetic month-partitioned
  tables. Reloading one month must stay about flat as the table grows
  (6 / 12 / 24 months), and grow with the window at a fixed table size
  (1 / 3 / 6 of 12 months).

Every figure is the median wall time of ``reps`` runs. The layout builds
of ``dedup`` and ``semantic`` are not timed: they are the once-per-corpus
cost the layout amortizes. Each family prints markdown tables ready to
paste into SCALE.md.

Usage:
    python3 tools_slope.py dedup [reps]
    python3 tools_slope.py semantic [reps]
    python3 tools_slope.py reload [rows_per_month] [reps]
"""

from __future__ import annotations

import datetime as dt
import statistics
import sys
import tempfile
import time

from tools_scale_slope import SRC

FACTORS = (1, 4, 16)
DELTA_ROWS = 200
THRESHOLD = 0.9  # semantic dedup cosine threshold
DOC_DELTA_FROM = 50_000_000
VEC_DELTA_FROM = 500_000_000


def _median_s(fn, reps: int, before=None) -> float:
    """Median wall seconds of ``reps`` calls of ``fn``; ``before`` runs
    untimed ahead of each call."""
    runs = []
    for _ in range(reps):
        if before is not None:
            before()
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def _table(header: list[str], rows: list[list[str]]) -> None:
    print("| " + " | ".join(header) + " |")
    print("|" + "---|" * len(header))
    for cells in rows:
        print("| " + " | ".join(cells) + " |")


def _replicated(df, factor: int, replica):
    """``factor`` copies of ``df``; ``replica(df, i)`` makes the i-th."""
    out = replica(df, 0)
    for i in range(1, factor):
        out = out.unionByName(replica(df, i))
    return out


def _replica_sweep(spark, corpus, delta, replica, fly, build, probe, reps):
    """[(factor, on-the-fly s, at-rest s)] over the corpus replicated
    1x / 4x / 16x.

    Each replicated base is written as parquet, so both paths read the
    same at-rest corpus rather than a lineage replay. ``fly(full)`` runs
    over base + delta, ``probe(delta, layout)`` against the layout
    ``build(base, layout)`` wrote. An untimed pass over the unreplicated
    corpus runs first: JIT, codegen and first-scan costs must not land on
    the first measured point (they inverted the slope in the first cut).
    """
    from etl_data_spark import release_all

    def drop_caches():
        # drop the operators' internal pins between reps, otherwise rep 2+
        # reads the cached shingle/signature frames and the median hides
        # exactly the signing cost under measurement
        release_all()
        spark.catalog.clearCache()

    def point(base, timer):
        with tempfile.TemporaryDirectory(
            prefix="slope_", ignore_cleanup_errors=True
        ) as root:
            base.write.mode("overwrite").parquet(root + "/corpus")
            stored = spark.read.parquet(root + "/corpus")
            full = stored.unionByName(delta)
            t_fly = timer(lambda: fly(full))
            build(stored, root + "/layout")
            t_rest = timer(lambda: probe(delta, root + "/layout"))
        return t_fly, t_rest

    point(corpus, lambda fn: fn())
    rows = []
    for factor in FACTORS:
        base = _replicated(corpus, factor, replica)
        t_fly, t_rest = point(
            base, lambda fn: _median_s(fn, reps, before=drop_caches)
        )
        rows.append((factor, t_fly, t_rest))
        print(
            f"  [{factor}x: on-the-fly {t_fly:.2f}s, at-rest {t_rest:.2f}s]",
            file=sys.stderr,
            flush=True,
        )
    return rows


def dedup_slope(spark, reps: int) -> None:
    from pyspark.sql import functions as F

    from etl_data_spark.operators import dedup as D
    from etl_data_spark.queries import load_table

    docs = load_table(spark, SRC, "documents").select("doc_id", "text")
    n_docs = docs.count()
    delta = docs.filter(F.col("doc_id") < DELTA_ROWS).select(
        (F.col("doc_id") + DOC_DELTA_FROM).alias("doc_id"), "text"
    )

    def replica(df, i):
        # texts perturbed per replica so replicas don't collapse into one
        # giant duplicate cluster
        return df.select(
            (F.col("doc_id") + i * 1_000_000).alias("doc_id"),
            F.concat(
                F.array_join(F.array_repeat(F.col("text"), 10), " "),
                F.lit(f" replica{i}"),
            ).alias("text"),
        )

    rows = _replica_sweep(
        spark,
        docs,
        delta,
        replica,
        fly=lambda full: D.minhash_lsh_pairs_incremental(
            full, delta_pred=F.col("doc_id") >= DOC_DELTA_FROM
        ).count(),
        build=D.write_minhash_bands,
        probe=lambda d, layout: D.dedup_incremental_at_rest(d, layout).count(),
        reps=reps,
    )
    _table(
        ["base docs", "on-the-fly incr (s)", "at-rest probe (s)"],
        [[f"{f * n_docs}", f"{tf:.2f}", f"{tr:.2f}"] for f, tf, tr in rows],
    )
    (_, f1, r1), (_, f_n, r_n) = rows[0], rows[-1]
    print(
        f"\ncorpus {FACTORS[-1]}x: on-the-fly {f_n / f1:.1f}x slower, "
        f"at-rest {r_n / r1:.1f}x"
    )


def semantic_slope(spark, reps: int) -> None:
    from pyspark.sql import functions as F

    from etl_data_spark.operators import similarity as S
    from etl_data_spark.queries import load_table

    vecs = load_table(spark, SRC, "embeddings").select("vec_id", "embedding")
    delta = vecs.filter(F.col("vec_id") < DELTA_ROWS).select(
        (F.col("vec_id") + VEC_DELTA_FROM).alias("vec_id"), "embedding"
    )

    def replica(df, i):
        scale = 1.0 + 0.001 * i  # keep replicas distinct but same cells
        return df.select(
            (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda x: x * F.lit(scale)).alias(
                "embedding"
            ),
        )

    rows = _replica_sweep(
        spark,
        vecs,
        delta,
        replica,
        fly=lambda full: S.semantic_dedup_pairs(full, threshold=THRESHOLD)
        .filter(
            (F.col("id_a") >= VEC_DELTA_FROM) | (F.col("id_b") >= VEC_DELTA_FROM)
        )
        .count(),
        build=S.write_ivf_partitioned,
        probe=lambda d, layout: S.semantic_dedup_incremental_at_rest(
            d, layout, THRESHOLD
        ).count(),
        reps=reps,
    )
    _, f1, r1 = rows[0]
    print()
    _table(
        ["corpus", "on-the-fly delta pairs", "at-rest probe"],
        [
            [f"{f}x", f"{tf:.2f}s ({tf / f1:.1f}x)", f"{tr:.2f}s ({tr / r1:.1f}x)"]
            for f, tf, tr in rows
        ],
    )


def _month_start(k: int) -> dt.date:
    return dt.date(2020 + k // 12, 1 + k % 12, 1)


def _months(spark, first: int, n: int, rows: int, seed_base: int):
    """Months ``first`` .. ``first + n - 1`` of synthetic data, ``rows``
    per month spread over the month's days."""
    from pyspark.sql import functions as F

    out = None
    for k in range(first, first + n):
        day = F.date_add(F.lit(_month_start(k)), (F.col("id") % 28).cast("int"))
        month = spark.range(rows).select(
            (F.col("id") + (seed_base + k) * 10_000_000).alias("k"),
            day.alias("effective_from"),
            day.alias("effective_to"),
            F.rand(seed=seed_base + k).alias("v"),
        )
        out = month if out is None else out.unionByName(month)
    return out


def reload_slope(spark, rows: int, reps: int) -> None:
    from etl_data_spark.io.writers import overwrite_by_window, write_partitioned

    def point(months: int, first: int, n: int) -> float:
        """Median seconds to reload months first .. first + n - 1 of a
        ``months``-month table."""
        with tempfile.TemporaryDirectory(
            prefix="reload_slope_", ignore_cleanup_errors=True
        ) as root:
            path = f"{root}/t"
            write_partitioned(_months(spark, 0, months, rows, 0), path)
            new = _months(spark, first, n, rows, 900)
            lo = _month_start(first)
            hi = _month_start(first + n) - dt.timedelta(days=1)
            return _median_s(
                lambda: overwrite_by_window(spark, new, path, lo, hi), reps
            )

    print(f"rows/month = {rows}, reps = {reps} (median reported)\n")
    _table(
        ["months in table", "window", "table rows", "reload sec"],
        [
            [f"{m}", "1 month", f"{m * rows:,}", f"{point(m, m // 2, 1):.2f}"]
            for m in (6, 12, 24)
        ],
    )
    print()
    _table(
        ["months in table", "window", "window rows", "reload sec"],
        [
            ["12", f"{w} month(s)", f"{w * rows:,}", f"{point(12, 3, w):.2f}"]
            for w in (1, 3, 6)
        ],
    )


FAMILIES = {  # family -> (sweep, default integer arguments)
    "dedup": (dedup_slope, [3]),
    "semantic": (semantic_slope, [3]),
    "reload": (reload_slope, [50_000, 3]),
}


def main(argv: list[str]) -> None:
    if not argv or argv[0] not in FAMILIES:
        raise SystemExit(f"usage: tools_slope.py {{{','.join(FAMILIES)}}} [args]")
    sweep, defaults = FAMILIES[argv[0]]
    args = [int(a) for a in argv[1:]] + defaults[len(argv) - 1 :]

    from etl_data_spark import get_spark

    spark = get_spark(app_name=f"{argv[0]}-slope")
    spark.sparkContext.setLogLevel("ERROR")
    sweep(spark, *args)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
