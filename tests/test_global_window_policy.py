"""Global-window policy pin (ROADMAP aim 3).

A window with an ORDER BY and no PARTITION BY (``Window.orderBy(...)``
without ``partitionBy``) moves EVERY input row into one task, which sorts
them alone: fine for a frame bounded by construction, an out-of-memory
task at scale for anything else. The repo keeps such windows on frames
that cannot grow with the data (a top-K ``limit``, the distinct values of
a bounded domain) or on ``rank.py``'s per-partition offset frames, and
computes data-sized ranks with ``rank.py``'s range-partitioned forms.

This test pins the audited set of global-window sites, keyed by
(file, enclosing function). A new un-partitioned ``Window.orderBy`` (also
through an ``import Window as W`` alias) fails the test until the site is
reviewed for boundedness and added to the allowlist below with its
bounding argument. Removing sites is always fine.
"""

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "etl_data_spark")

# (relative file, enclosing function) -> number of global-window sites,
# each reviewed as bounded by construction.
ALLOWED = {
    # both run over the per-partition offset frame (one row per input
    # partition), never over the data rows
    ("operators/rank.py", "global_running_sum"): 1,
    ("operators/rank.py", "global_row_number"): 1,
    # distinct market segments: a bounded domain (5 values)
    ("queries.py", "q_surrogate_keys"): 1,
    # top-K frames: each window runs over a LIMIT-ed frame
    ("queries_analytics.py", "q_ndcg_bm25"): 2,  # ranked and ideal, _NDCG_K
    ("queries_analytics.py", "q_rrf_hybrid_search"): 2,  # two _RRF_POOL lists
    ("queries_corpus.py", "q_vocab_coverage"): 1,  # max(_VOCAB_CURVE_KS) words
    ("queries_corpus.py", "q_zipf_slope"): 1,  # _ZIPF_K words
    # distinct (status, priority) combinations: a bounded flag domain
    ("queries_incr.py", "q_junk_dimension"): 1,
    # calendar and score domains: one row per day / week / duration /
    # distinct score after a groupBy, never raw rows
    ("queries_stats.py", "q_cusum_changepoint"): 2,  # per order day
    ("queries_stats.py", "q_gains_table"): 1,  # per day-offset score
    ("queries_stats.py", "q_pareto_front"): 1,  # per order day
    ("queries_stats.py", "q_pr_curve_points"): 1,  # per week score
    ("queries_stats.py", "q_seasonal_decompose"): 1,  # per event day
    ("queries_stats.py", "q_survival_km"): 2,  # per duration in days
    # the frequency-of-frequency domain (distinct per-key counts)
    ("queries_stats.py", "q_join_skew_report"): 1,
}


def _window_names(tree):
    """Names bound to pyspark's ``Window`` in a module, aliases included."""
    names = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom) and n.module in (
            "pyspark.sql",
            "pyspark.sql.window",
        ):
            names.update(a.asname or a.name for a in n.names if a.name == "Window")
    return names


def _global_window_sites():
    found = {}
    for root, _, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            tree = ast.parse(open(path).read())
            window = _window_names(tree)
            funcs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            # Window.orderBy(...).partitionBy(...) is partitioned after all
            partitioned = {
                id(n.value)
                for n in ast.walk(tree)
                if isinstance(n, ast.Attribute) and n.attr == "partitionBy"
            }
            for n in ast.walk(tree):
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "orderBy"
                    and isinstance(n.func.value, ast.Name)
                    and n.func.value.id in window
                    and id(n) not in partitioned
                ):
                    enclosing = [
                        name for a, b, name in funcs if a <= n.lineno <= b
                    ]
                    fn = enclosing[-1] if enclosing else "<module>"
                    found[(rel, fn)] = found.get((rel, fn), 0) + 1
    return found


def test_no_unreviewed_global_windows():
    found = _global_window_sites()
    new = {k: v for k, v in found.items() if v > ALLOWED.get(k, 0)}
    assert not new, (
        "New un-partitioned Window.orderBy site(s) not in the reviewed "
        f"allowlist: {sorted(new)} — a global window sorts every row in one "
        "task. Bound the frame by construction (limit, bounded domain) or "
        "use the range-partitioned forms in operators/rank.py, then add the "
        "site here with the bounding argument."
    )


def test_allowlist_has_no_stale_entries():
    found = _global_window_sites()
    stale = {k: v for k, v in ALLOWED.items() if found.get(k, 0) < v}
    assert not stale, (
        f"Allowlist entries no longer present (prune them): {sorted(stale)}"
    )
