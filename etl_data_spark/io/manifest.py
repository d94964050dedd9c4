"""Manifest-pointer tables: object-store-safe windowed reloads.

:mod:`etl_data_spark.io.writers` swaps month directories with Hadoop FS
renames — atomic on HDFS/local, but on S3A a "rename" is a non-atomic
copy + delete (the module docstring there concedes it). This module is
the cheap mitigation a plain-parquet table CAN offer on object storage:
data files are immutable and append-only under versioned directories,
each table state is an immutable JSON MANIFEST mapping every month
partition to the directory that holds it, and a tiny ``_current``
pointer object names the live manifest. Publishing a reload is then ONE
single-object PUT (atomic on S3: a concurrent reader gets the old or
the new pointer object, never a torn one), after all data and the new
manifest are fully written. Readers resolve the pointer FIRST, then
read only directories the resolved manifest names — so a reader racing
a reload sees the complete old table or the complete new table, never a
partially swapped one and never a missing month.

This is the month-granularity kernel of what Iceberg/Delta do at file
granularity; for production object-store tables use those formats — the
point here is that the O(window) reload economics of
``overwrite_by_window`` survive the object-store commit problem:

- a windowed reload writes ONLY the affected months' fresh directories
  (new version dir); untouched months keep their existing directories
  and simply carry over in the new manifest — zero data movement;
- nothing live is ever renamed or deleted in the commit path, so there
  is no window where a month is absent;
- superseded version dirs are reclaimed later by :func:`manifest_gc`,
  which keeps the last ``keep`` manifests' directories for in-flight
  readers.

Writer concurrency: SINGLE WRITER assumed, as in every manifest-pointer
design without a CAS primitive (Delta's S3 LogStore has the same
constraint) — but a violation fails loudly, not silently: manifests are
created with ``overwrite=False``, so two racing writers computing the
same next version collide on the manifest create and the loser raises
instead of overwriting the winner's "immutable" manifest and dropping
its months at the pointer flip.

Pointer honesty: on local FS / HDFS, an overwriting create of
``_current`` is not atomic (a reader could glimpse a truncated file).
Versions are immutable once complete, so :func:`_resolve_version`
treats a missing, torn or dangling pointer as "fall back to the
highest-numbered complete version" — old-or-new still holds; the
truly-atomic flip is exactly what S3 PUT provides, which is the
deployment this module targets (HDFS/local deployments can keep the
rename path). The streaming cluster table shares this resolver, and so
this fallback.

Reference parity: implements the same delete-then-insert window
semantics as the reference's ``fn_dm_data_stg_to_dm_load``
(sql/dm/s_sql_dm/function/fn_dm_data_stg_to_dm_load.sql:17-19), windows
and NULL-date behavior identical to ``overwrite_by_window``.
"""

from __future__ import annotations

import datetime as dt
import json
from functools import partial, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from etl_data_spark.io.writers import (
    MONTH_KEY,
    _NULL_PART,
    _delete,
    _fs,
    _month_of,
    cluster_by_month,
    read_text,
    window_replace_predicate,
    with_month_key,
    write_text,
)

_CURRENT = "_current"
_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"


# --------------------------------------------------------------------------
# Versioned pointer: immutable numbered versions, ``_current`` names one
# --------------------------------------------------------------------------


def _numbered(
    spark: SparkSession, directory: str, prefix: str, suffix: str = ""
) -> list[int]:
    """Sorted N of the children of ``directory`` named
    ``{prefix}N{suffix}``; [] when the directory does not exist."""
    fs, p = _fs(spark, directory)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        num = name[len(prefix) : len(name) - len(suffix)]
        if name.startswith(prefix) and name.endswith(suffix) and num.isdigit():
            out.append(int(num))
    return sorted(out)


def _resolve_version(
    spark: SparkSession, root: str, vdir: str, prefix: str, suffix: str, load
):
    """``load(path)`` of the ``vdir`` child the ``_current`` pointer under
    ``root`` names, or — when the pointer is missing/torn/dangling (a
    crashed pre-flip writer, a glimpsed local-FS truncation) — of the
    highest-numbered ``{prefix}NNNNNN{suffix}`` child that loads (``load``
    returns None or raises for an incomplete one). Complete versions are
    immutable, so either answer is old-or-new, never partial."""

    def candidates():
        # any pointer-read failure (missing, torn mid-PUT, checksum
        # mismatch on a checksummed FS) means "fall back", never "fail
        # the reader"
        try:
            name = (read_text(spark, f"{root}/{_CURRENT}") or "").strip()
        except Exception:
            name = ""
        if name:
            yield name
        # newest-first walk, skipping a torn top version (a writer crashed
        # mid-write, before the flip)
        for v in reversed(_numbered(spark, vdir, prefix, suffix)):
            yield f"{prefix}{v:06d}{suffix}"

    for name in candidates():
        try:
            got = load(f"{vdir}/{name}")
        except Exception:
            continue
        if got is not None:
            return got
    return None


def _publish_version(spark: SparkSession, root: str, name: str, write) -> None:
    """The single-object commit: ``write()`` materializes version
    ``name`` in full, THEN the ``_current`` pointer flips to it."""
    write()
    write_text(spark, f"{root}/{_CURRENT}", name)


def _manifest_name(version: int) -> str:
    return f"manifest-{version:06d}.json"


def _list_manifest_versions(spark: SparkSession, root: str) -> list[int]:
    return _numbered(spark, f"{root}/{_MANIFEST_DIR}", "manifest-", ".json")


def _load_manifest(spark: SparkSession, path: str) -> dict | None:
    text = read_text(spark, path)
    return json.loads(text) if text else None


def _resolve(spark: SparkSession, root: str) -> dict | None:
    """The live manifest (see :func:`_resolve_version`)."""
    return _resolve_version(
        spark, root, f"{root}/{_MANIFEST_DIR}", "manifest-", ".json",
        partial(_load_manifest, spark),
    )


def _publish(spark: SparkSession, root: str, months: dict[str, str]) -> int:
    """Write the next immutable manifest, then flip the pointer LAST.
    Returns the new version number."""
    versions = _list_manifest_versions(spark, root)
    version = (versions[-1] if versions else 0) + 1
    manifest = {"version": version, "months": months}
    name = _manifest_name(version)
    # overwrite=False: two overlapping writers (a retry racing a hung
    # job) both compute max+1 — the second create of the same "immutable"
    # manifest must fail LOUDLY, not silently drop the first writer's
    # months at the pointer flip (r12 ADVICE). The loser retries its
    # whole reload against the winner's published state.
    path = f"{root}/{_MANIFEST_DIR}/{name}"
    text = json.dumps(manifest, sort_keys=True)
    _publish_version(
        spark, root, name,
        lambda: write_text(spark, path, text, overwrite=False),
    )
    return version


def _month_key_str(month: int | None) -> str:
    return _NULL_PART if month is None else str(month)


def _month_of_key(key: str) -> int | None:
    return None if key == _NULL_PART else int(key)


def _write_version_dir(
    spark: SparkSession, keyed: DataFrame, root: str,
    date_col: str = "effective_from",
) -> tuple[str, list[str]]:
    """Write the month-partitioned batch under the next ``data/vNNNNNN``
    directory; return (relative dir, month keys actually written).

    The batch is month-clustered like the rename-path writers
    (:func:`cluster_by_month`), so a version dir holds a few files per
    month, not tasks x months."""
    existing = _numbered(spark, f"{root}/{_DATA_DIR}", "v")
    rel = f"{_DATA_DIR}/v{(existing[-1] if existing else 0) + 1:06d}"
    cluster_by_month(keyed, date_col).write.mode("overwrite").partitionBy(
        MONTH_KEY
    ).parquet(f"{root}/{rel}")
    fs, vpath = _fs(spark, f"{root}/{rel}")
    written = []
    for st in fs.listStatus(vpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(f"{MONTH_KEY}="):
            written.append(name[len(MONTH_KEY) + 1 :])
    return rel, written


# --------------------------------------------------------------------------
# Public surface
# --------------------------------------------------------------------------


def manifest_write_full(
    df: DataFrame, root: str, date_col: str = "effective_from"
) -> int:
    """Full (re)load of a manifest table: write every month under a fresh
    version dir, publish a manifest mapping each month to it. Returns the
    row count written."""
    spark = df.sparkSession
    keyed = with_month_key(df, date_col).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = keyed.count()
        rel, written = _write_version_dir(spark, keyed, root, date_col)
        _publish(spark, root, {m: f"{rel}/{MONTH_KEY}={m}" for m in written})
        return n
    finally:
        keyed.unpersist()


def manifest_read(
    spark: SparkSession,
    root: str,
    months: set[int | None] | None = None,
) -> DataFrame:
    """Read the table the ``_current`` pointer describes. ``months``
    restricts the read to those partitions — pruning happens at the
    MANIFEST (no directory of any other month is listed or opened, the
    pointer-table analogue of a PartitionFilter)."""
    manifest = _resolve(spark, root)
    if manifest is None:
        raise FileNotFoundError(f"no manifest published under {root!r}")
    wanted = (
        None if months is None else {_month_key_str(m) for m in months}
    )
    parts = []
    for key, rel in sorted(manifest["months"].items()):
        if wanted is not None and key not in wanted:
            continue
        m = _month_of_key(key)
        parts.append(
            spark.read.parquet(f"{root}/{rel}").withColumn(
                MONTH_KEY, F.lit(m).cast("int")
            )
        )
    if not parts:
        raise FileNotFoundError(
            f"no months matching {months!r} in the manifest under {root!r}"
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


def manifest_overwrite_by_window(
    spark: SparkSession,
    new_rows: DataFrame,
    root: str,
    start_date: dt.date | str | None,
    end_date: dt.date | str | None,
    date_col: str = "effective_from",
    to_col: str = "effective_to",
) -> int:
    """``overwrite_by_window`` with an object-store-safe commit: affected
    months' fresh directories are written under a new version dir,
    untouched months carry over BY REFERENCE in the new manifest (zero
    data movement), and the swap is the single ``_current`` PUT. Same
    window/NULL-date semantics as the rename-path writer; same O(window)
    read+write cost. Nothing live is renamed or deleted — superseded
    directories are reclaimed by :func:`manifest_gc`."""
    manifest = _resolve(spark, root)
    window_pred = window_replace_predicate(
        start_date, end_date, date_col, to_col
    )
    if manifest is None or window_pred is None:
        return manifest_write_full(new_rows, root, date_col)

    old_months = manifest["months"]
    keyed = with_month_key(new_rows, date_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        n_new = keyed.count()

        # -- discover affected months: manifest-level pruning ------------
        # (same month-bound implications as overwrite_by_window: eff_from
        # >= start implies month >= m(start); eff_to <= end implies month
        # <= m(end) under the eff_from <= eff_to mart invariant, with the
        # NULL month kept under an end bound because the end-only
        # predicate never tests eff_from)
        candidates = set(old_months)
        if start_date is not None:
            lo = _month_of(start_date)
            candidates = {
                k
                for k in candidates
                if k != _NULL_PART and int(k) >= lo
            }
        if end_date is not None:
            hi = _month_of(end_date)
            candidates = {
                k for k in candidates if k == _NULL_PART or int(k) <= hi
            }
        affected: set[str] = set()
        if candidates:
            cand_df = manifest_read(
                spark, root, {_month_of_key(k) for k in candidates}
            )
            replaced = cand_df.filter(F.coalesce(window_pred, F.lit(False)))
            affected = {
                _month_key_str(r[0])
                for r in replaced.select(MONTH_KEY).distinct().collect()
            }
        affected |= {
            _month_key_str(r[0])
            for r in keyed.select(MONTH_KEY).distinct().collect()
        }
        if not affected:
            return n_new

        # -- rewrite ONLY those months, by reference for the rest --------
        merged = keyed
        existing_affected = affected & set(old_months)
        if existing_affected:
            keep = manifest_read(
                spark, root, {_month_of_key(k) for k in existing_affected}
            ).filter(~F.coalesce(window_pred, F.lit(False)))
            merged = keep.unionByName(keyed)
        rel, written = _write_version_dir(spark, merged, root, date_col)

        months = {
            k: v for k, v in old_months.items() if k not in affected
        }
        months.update(
            {m: f"{rel}/{MONTH_KEY}={m}" for m in written}
        )  # emptied months (affected, nothing written) simply drop out
        _publish(spark, root, months)
        return n_new
    finally:
        keyed.unpersist()


def manifest_gc(spark: SparkSession, root: str, keep: int = 2) -> int:
    """Reclaim version directories no manifest in the newest ``keep``
    references, then drop the older manifest files. Run OUT of band (a
    janitor), never in the commit path — in-flight readers resolved a
    recent manifest, so its directories must outlive them. Returns the
    number of version dirs deleted."""
    versions = _list_manifest_versions(spark, root)
    if len(versions) <= keep:
        return 0
    kept_versions = versions[-keep:]
    referenced: set[str] = set()
    for v in kept_versions:
        text = read_text(spark, f"{root}/{_MANIFEST_DIR}/{_manifest_name(v)}")
        for rel in json.loads(text)["months"].values():
            referenced.add(rel.split("/")[1])  # data/<vdir>/part_month=...
    fs, _ = _fs(spark, root)
    deleted = 0
    for v in _numbered(spark, f"{root}/{_DATA_DIR}", "v"):
        name = f"v{v:06d}"
        if name not in referenced:
            _delete(fs, spark, f"{root}/{_DATA_DIR}/{name}")
            deleted += 1
    for v in versions[:-keep]:
        _delete(fs, spark, f"{root}/{_MANIFEST_DIR}/{_manifest_name(v)}")
    return deleted
