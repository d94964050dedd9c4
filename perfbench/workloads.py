"""The workloads. Each drives the engine only through its public functions
and has one client running ops back to back (closed loop).

``build`` makes the seeded inputs (repeated; set-up reports the median),
``prepare`` does the rest of the set-up once. ``op`` returns an
``OpResult``; ``ok=False`` marks a wrong output. Untraced ops start cold:
a run can afford one op, the first of a fresh session, as a nightly job
runs it.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass

import duckdb
import numpy as np

import etl_data_spark.catalog  # noqa: F401  (registers every query)
import etl_data_spark.operators.corpus as corpus_mod
import etl_data_spark.operators.dedup as dedup_mod
import etl_data_spark.pipeline as pipeline_mod
from etl_data_spark.generate import generate_source
from etl_data_spark.queries import REGISTRY

import inputs


@dataclass
class OpResult:
    rows: int  # input rows (or documents) the op completed
    input_bytes: int  # on-disk bytes of the op's input
    ok: bool
    note: str = ""


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.input_rows = 0
        self.input_bytes = 0

    def build(self, out: str) -> None:
        pass

    def prepare(self) -> bool:
        """One-time set-up after the builds; False if an output check failed."""
        return True

    def op(self, i: int) -> OpResult:
        raise NotImplementedError

    def trace_targets(self) -> list:
        """(module, attribute, layer, materialize, input_layer) to wrap in
        traced ops; see ``spans.Tracer.patched``."""
        return []


class WarehouseBatch(Workload):
    """The nightly batch: ``run_pipeline`` (generate -> bronze -> silver ->
    star + dims/fact -> DQ -> mart) into a fresh warehouse directory. The
    op is the first batch of a fresh session, as a nightly spark-submit
    runs it, so its JVM and code-generation warm-up is part of the op."""

    name = "warehouse_batch"
    # the op sits at the engine's per-job latency floor: on 4 vCPUs a warm
    # op takes 12-13 s at both 2k and 20k rows
    rows = 20_000

    def build(self, out):
        # the op generates its source in-engine; the build does the same
        self.input_rows = generate_source(self.spark, rows=self.rows, seed=self.seed).count()

    def op(self, i):
        wh = os.path.join(self.work, f"warehouse{i}")
        r = pipeline_mod.run_pipeline(self.spark, rows=self.rows, seed=self.seed, warehouse=wh)
        statuses = [row["status"] for row in r.dq_results.collect()]
        report = r.ingest_report
        ok = (
            len(statuses) == 6
            and all(s == "passed" for s in statuses)
            and report.loaded + report.rejected == self.input_rows
            and r.silver_count == r.exported_count > 0
        )
        # input bytes: the source as landed in bronze
        self.input_bytes = inputs.file_bytes(os.path.join(wh, "bronze"))
        shutil.rmtree(wh, ignore_errors=True)
        return OpResult(self.input_rows, self.input_bytes, ok, f"dq={statuses} silver={r.silver_count}")

    def trace_targets(self):
        m = pipeline_mod
        return [
            (m, "generate_source", "generate", True, None),
            (m, "ingest_bronze", "ingest", True, None),
            (m, "cleanse", "cleanse", True, None),
            (m, "write_partitioned", "io.writers", False, None),
            (m, "build_star", "star", True, None),
            (m, "run_reference_dq", "dq", True, None),
            (m, "overwrite_by_window", "io.writers", False, None),
        ]


# registry query -> (tables it reads, layer its span is charged to)
QUERIES = {
    "star_join": (("orders", "customer", "nation", "region"), "queries"),
    "pricing_summary": (("lineitem",), "queries"),
    "tpch_q5_regional": (("customer", "orders", "lineitem", "supplier", "nation", "region"), "queries"),
    "daily_trend": (("events",), "queries"),
    "latest_per_customer": (("orders",), "queries"),
    "corpus_curate_end2end": (("documents",), "queries"),
    # the query is windowed_counts driven to completion by a Structured
    # Streaming run, so its whole call is the streaming layer's work
    "streaming_window_counts": (("events",), "streaming.pipeline"),
}


def _cell(v):
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else float(f"{v:.9g}")
    if hasattr(v, "isoformat"):
        return v.replace(tzinfo=None).isoformat() if hasattr(v, "tzinfo") else v.isoformat()
    return v


def _rows(cols, rows) -> list:
    """Order-insensitive canonical form: columns by name, floats to 9
    significant digits, rows sorted."""
    order = sorted(range(len(cols)), key=lambda k: cols[k])
    return sorted((tuple(_cell(r[k]) for k in order) for r in rows), key=repr)


class WarehouseQueries(Workload):
    """Analysts' registry read queries over seeded tables. One op is one
    pass over the query mix in a seeded order; each query's result is
    collected and must match its DuckDB oracle, computed during set-up."""

    name = "warehouse_queries"

    def build(self, out):
        self.sizes = inputs.write_tables(self.seed, out)
        self.sf_dir = out

    def prepare(self):
        rng = np.random.default_rng([self.seed, 3])
        self.order = [list(QUERIES)[k] for k in rng.permutation(len(QUERIES))]
        reads = [t for tables, _ in QUERIES.values() for t in tables]
        self.input_rows = sum(self.sizes[t][0] for t in reads)
        self.input_bytes = sum(self.sizes[t][1] for t in reads)
        con = duckdb.connect()
        for t in self.sizes:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        self.expect = {}
        for q in self.order:
            res = con.execute(REGISTRY[q].oracle)
            self.expect[q] = _rows([d[0] for d in res.description], res.fetchall())
        con.close()
        return all(self.expect.values())

    def op(self, i):
        wrong = []
        for q in self.order:
            with self.tracer.span(QUERIES[q][1], q):
                df = REGISTRY[q].fn(self.spark, self.sf_dir)
                got = _rows(df.columns, df.collect())
            if got != self.expect[q]:
                wrong.append(f"{q}: {len(got)} rows, oracle {len(self.expect[q])}")
        return OpResult(self.input_rows, self.input_bytes, not wrong, "; ".join(wrong) or "all match")

    def trace_targets(self):
        d = dedup_mod
        return [
            # the language and quality gate is a lazy filter feeding the
            # pairs step; it is materialized there as the text layer
            (d, "minhash_lsh_pairs", "operators.dedup.pairs", True, "operators.text"),
            (d, "connected_components", "operators.dedup.components", True, None),
            (d, "dedup_survivors", "operators.corpus", True, None),
            (corpus_mod, "with_split", "operators.corpus", True, None),
        ]


WORKLOADS = {w.name: w for w in (WarehouseBatch, WarehouseQueries)}
