"""The at-rest layout contract: the one module that knows the sidecar format.

An at-rest layout is one or more plain parquet tables under a root
directory plus a JSON sidecar (``_ann_meta.json``). The sidecar records the
layout's ``kind``, its ``format_version`` and the parameters its rows were
assigned under (centroids, plane seeds, hash family, ...). Each kind
declares one :class:`LayoutSpec`: the tables it owns (sub-directory and
partition columns), where its sidecar lives, and the input columns it
reserves. Everything generic lives here:

- :func:`write` / :func:`append` write a family's assigned rows and stamp
  the sidecar; both refuse input frames that carry a reserved column;
- :func:`open` merges explicit parameters with the sidecar (the sidecar
  fills every ``None``; a contradicting explicit value raises) and rejects
  a wrong kind or a different ``format_version`` with one uniform error;
- :func:`compact` / :func:`stats` / :func:`skew_report` work on any kind,
  given its root or one of its table directories.

A family keeps only its row-assignment function and its probe. The
sidecar is underscore-prefixed, so Spark's file index treats it as hidden
metadata and scans never read it as data. It is written through the Hadoop
FileSystem API, so a layout may live on HDFS, S3 or local disk alike. A
sidecar without ``format_version`` (written before the key existed) reads
as version 1.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_data_spark.io.writers import (
    _count_parquet_files,
    _fs,
    _heal_rewrite,
    read_text,
    rewrite,
    write_text,
)

META_FILE = "_ann_meta.json"


@dataclass(frozen=True)
class Table:
    """One parquet table of a layout: its directory under the layout root
    (``""`` is the root itself), its partition columns, and optionally the
    spec whose bare sidecar is stamped into the table's own directory."""

    sub: str = ""
    part_cols: tuple[str, ...] = ()
    stamp: LayoutSpec | None = None


@dataclass(frozen=True)
class LayoutSpec:
    """One at-rest layout kind. ``writer`` names the function that creates
    it (quoted in errors); ``meta_sub`` is the directory, relative to the
    root, that holds the sidecar."""

    kind: str
    writer: str
    tables: tuple[Table, ...] = (Table(),)
    reserved: tuple[str, ...] = ()
    reserved_prefixes: tuple[str, ...] = ()
    meta_sub: str = ""
    format_version: int = 1


IVF = LayoutSpec(
    "ivf", "write_ivf_partitioned", (Table("", ("cell",)),), ("cell",)
)
LSH = LayoutSpec("lsh", "write_ann_bucketed", (Table("", ("bucket",)),))
LSH_BANDED = LayoutSpec(
    "lsh_banded",
    "write_ann_banded",
    (Table("", ("band", "bucket")),),
    ("band", "bucket"),
    ("_band_code_",),
)
IVF_PQ = LayoutSpec(
    "ivf_pq", "write_ivf_pq", (Table("", ("cell",)),), ("cell", "pq_code")
)
SQ8 = LayoutSpec("sq8", "write_sq8", reserved=("sq_code",))
MINHASH_SHINGLES = LayoutSpec("minhash_shingles", "write_minhash_bands")
MINHASH_BANDS = LayoutSpec(
    "minhash_bands",
    "write_minhash_bands",
    (
        Table("bands", ("band_idx",)),
        Table("shingles", stamp=MINHASH_SHINGLES),
    ),
    meta_sub="bands",
    # 2: int64 band keys from one vectorized signing pass (1: string keys)
    format_version=2,
)
GRAM_INDEX = LayoutSpec(
    "gram_index", "write_gram_index", (Table("grams", ("bucket",)),)
)

SPECS = {
    s.kind: s
    for s in (
        IVF, LSH, LSH_BANDED, IVF_PQ, SQ8, MINHASH_BANDS, MINHASH_SHINGLES,
        GRAM_INDEX,
    )
}


def _join(path: str, sub: str) -> str:
    return f"{path.rstrip('/')}/{sub}" if sub else path


# --- sidecar I/O -------------------------------------------------------------


def write_meta(spark, path: str, meta: dict) -> None:
    """Write ``meta`` as the sidecar of the directory ``path``."""
    write_text(spark, _join(path, META_FILE), json.dumps(meta, sort_keys=True))


def read_meta(spark, path: str) -> dict | None:
    """The sidecar of the directory ``path``; None when there is none."""
    text = read_text(spark, _join(path, META_FILE))
    return None if text is None else json.loads(text)


def _check(spec: LayoutSpec, meta: dict | None, path: str, op: str) -> None:
    """The uniform mismatch error: wrong kind, or a format_version this
    engine does not read (a missing key reads as version 1)."""
    kind = None if meta is None else meta.get("kind")
    version = None if meta is None else meta.get("format_version", 1)
    if kind != spec.kind or version != spec.format_version:
        raise ValueError(
            f"{op}: layout at {path!r} is kind={kind!r} "
            f"(format_version {version}), not {spec.kind!r} "
            f"(format_version {spec.format_version}) — write it with "
            f"{spec.writer} first."
        )


def _stamp(spark, spec: LayoutSpec, path: str, params: dict) -> None:
    write_meta(
        spark,
        _join(path, spec.meta_sub),
        {**params, "kind": spec.kind, "format_version": spec.format_version},
    )
    for t in spec.tables:
        if t.stamp is not None:
            _stamp(spark, t.stamp, _join(path, t.sub), {})


# --- write / append / open -----------------------------------------------------


def _guard(spec: LayoutSpec, df: DataFrame, op: str) -> None:
    """Fail fast when an input column collides with a column the layout
    assigns itself — the silent alternative overwrites user data."""
    clashes = [
        c
        for c in df.columns
        if c in spec.reserved or c.startswith(spec.reserved_prefixes)
    ]
    if clashes:
        names = list(spec.reserved) + [f"{p}*" for p in spec.reserved_prefixes]
        raise ValueError(
            f"{op}: input columns {clashes} collide with the layout's "
            f"reserved columns {names} — the writer would silently "
            "overwrite them. Rename them before writing."
        )


def _write_tables(spec, df, path, assign, mode, op) -> None:
    _guard(spec, df, op)
    frames = assign(df)
    if isinstance(frames, DataFrame):
        frames = (frames,)
    for t, frame in zip(spec.tables, frames, strict=True):
        frame.write.mode(mode).partitionBy(*t.part_cols).parquet(
            _join(path, t.sub)
        )


def write(spec: LayoutSpec, df: DataFrame, path: str, assign, params: dict) -> None:
    """Write a fresh layout: ``assign(df)`` yields one frame per table of
    ``spec`` (a bare frame for one table); each overwrites its directory,
    partitioned by the table's columns, and the sidecar records
    ``params``."""
    _write_tables(spec, df, path, assign, "overwrite", spec.writer)
    _stamp(df.sparkSession, spec, path, params)


def append(
    spec: LayoutSpec, df: DataFrame, path: str, assign, meta: dict, op: str
) -> None:
    """Dynamic-partition append of ``assign(df)`` — untouched partition
    directories are never rewritten. ``meta`` is what :func:`open`
    returned; for a pre-sidecar layout (no ``kind`` in it) the append
    stamps the sidecar, so the layout is self-describing from then on."""
    _write_tables(spec, df, path, assign, "append", op)
    if "kind" not in meta:
        _stamp(df.sparkSession, spec, path, meta)


def open(spark, spec: LayoutSpec, path: str, op: str, **explicit) -> dict:  # noqa: A001
    """The layout's parameters: the sidecar with ``explicit`` merged in.

    The sidecar fills every explicit ``None``; an explicit value that
    CONTRADICTS it raises, because the sidecar records what the
    directories physically are and probing or appending under other
    parameters is never right. A layout with no sidecar is accepted only
    when the caller has an explicit-parameter form (``explicit`` is
    non-empty) and passed every parameter — the pre-sidecar ``ivf`` /
    ``lsh`` layouts."""
    meta = read_meta(spark, _join(path, spec.meta_sub))
    if meta is None and explicit:
        missing = [k for k, v in explicit.items() if v is None]
        if missing:
            raise ValueError(
                f"{op}: layout at {path!r} has no {META_FILE} sidecar "
                f"(pre-sidecar layout?) and {missing} were not passed — "
                "supply them explicitly, matching the original write."
            )
        return dict(explicit)
    _check(spec, meta, path, op)
    for key, val in explicit.items():
        if val is not None and key in meta and val != meta[key]:
            raise ValueError(
                f"{op}: explicit {key}={val!r} contradicts the layout's "
                f"sidecar ({key}={meta[key]!r}) at {path!r} — a mismatched "
                f"{key} would silently probe/append the wrong partition "
                "directories. Drop the override (the sidecar is "
                "authoritative) or rewrite the layout."
            )
        if val is not None:
            meta[key] = val
    return meta


# --- generic lifecycle: locate, stats, compact ---------------------------------


def _locate(spark, path: str, op: str):
    """(spec, [(table dir, partition cols)]) for a layout root — all its
    tables — or for one table directory of a layout."""
    for sub in sorted({s.meta_sub for s in SPECS.values()}):
        meta = read_meta(spark, _join(path, sub))
        spec = SPECS.get(meta.get("kind")) if meta else None
        if spec is not None and spec.meta_sub == sub:
            _check(spec, meta, path, op)
            return spec, [(_join(path, t.sub), t.part_cols) for t in spec.tables]
    root, _, name = path.rstrip("/").rpartition("/")
    for spec in SPECS.values():
        for t in spec.tables:
            if t.sub and t.sub == name:
                meta = read_meta(spark, _join(root, spec.meta_sub))
                if meta is not None and meta.get("kind") == spec.kind:
                    _check(spec, meta, path, op)
                    return spec, [(path, t.part_cols)]
    raise ValueError(
        f"{op}: {path!r} has no recognizable {META_FILE} sidecar — not an "
        "at-rest layout (for month-partitioned tables use "
        "io.writers.compact_small_files)."
    )


def stats(spark, path: str) -> DataFrame:
    """Rows per partition of a layout's first table (cell, bucket,
    (band, bucket), band_idx, gram bucket; one row for an unpartitioned
    table). Metadata-cheap: the aggregate references only partition
    columns, whose values come from directory names, so the scan reads
    parquet FOOTERS, never data pages. Columns: the partition column(s)
    + ``n_rows``."""
    _, tables = _locate(spark, path, "layout_stats")
    return _table_stats(spark, *tables[0])


def _table_stats(spark, table: str, part_cols: tuple[str, ...]) -> DataFrame:
    try:
        scan = spark.read.parquet(table)
    except Exception:
        # a layout written from an empty frame has a sidecar but no
        # parquet files — zero partitions, not a crash
        schema = "".join(f"{c} int, " for c in part_cols) + "n_rows bigint"
        return spark.createDataFrame([], schema)
    out = scan.groupBy(*part_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    return out.orderBy(*part_cols) if part_cols else out


def skew_report(spark, path: str) -> dict:
    """Driver-side summary of :func:`stats` (bounded collect — one row per
    partition): partition count, row count, min/max/mean rows per
    partition and ``skew`` = max/mean. A healthy layout sits near skew
    1-3; drifted appends push it up, which is the retrain signal. An
    empty layout reports zeros and Nones instead of crashing."""
    spec, tables = _locate(spark, path, "layout_skew_report")
    rows = _table_stats(spark, *tables[0]).select("n_rows").collect()
    counts = [r["n_rows"] for r in rows]
    if not counts:
        return {
            "kind": spec.kind, "n_partitions": 0, "n_rows": 0,
            "min_rows": None, "max_rows": None, "mean_rows": None,
            "skew": None,
        }
    total = sum(counts)
    mean = total / len(counts)
    return {
        "kind": spec.kind,
        "n_partitions": len(counts),
        "n_rows": total,
        "min_rows": min(counts),
        "max_rows": max(counts),
        "mean_rows": mean,
        "skew": max(counts) / mean,
    }


def compact(spark, path: str, target_files_per_partition: int = 1) -> int:
    """Rewrite every table of a layout (or the one table directory given)
    into ``target_files_per_partition`` files per partition directory.
    Every ``append`` adds at least one file per touched partition, and
    after many appends a probed scan drowns in per-file overhead.
    Partition columns and values, row contents and every sidecar stay as
    they are, so pruning and probe results are unchanged: compaction moves
    bytes, never assignments (a SKEWED layout needs a retrain or a fresh
    write instead). Returns the number of data files after."""
    _heal_rewrite(spark, path, "compact")
    _, tables = _locate(spark, path, "compact_layout")
    fs, _ = _fs(spark, path)
    n = 0
    for table, part_cols in tables:
        rewrite(
            spark, table, "compact",
            partial(_compact_table, spark, table, part_cols,
                    target_files_per_partition),
        )
        n += _count_parquet_files(fs, spark, table)
    return n


def _compact_table(spark, table, part_cols, n_files, tmp) -> None:
    df = spark.read.parquet(table)
    if part_cols:
        df.repartition(n_files, *[F.col(c) for c in part_cols]).write.mode(
            "overwrite"
        ).partitionBy(*part_cols).parquet(tmp)
    else:
        df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    meta = read_meta(spark, table)
    if meta is not None:  # a sidecar inside the table rides the swap
        write_meta(spark, tmp, meta)
