"""Iceberg-catalog seam over the snapshot layer.

``kg/snapshots.py`` implements the Iceberg commit model (immutable data
files, manifest-as-commit, CAS rename, time travel, expiry) on plain
parquet because this sandbox ships no Iceberg runtime.  On a production
cluster the same operations should go through the REAL catalog — it adds
file-granularity COW, a transactional metastore shared across writers on
different drivers, and engine-interop.  This module is that seam: ONE
API that dispatches per target —

- a **catalog table identifier** (``cat.db.tbl``) whose leading part
  names a configured Spark catalog (``spark.sql.catalog.<cat>`` set,
  e.g. to Iceberg's ``SparkCatalog``) → native Iceberg DDL/DML:
  ``writeTo(...).partitionedBy(bucket(N, subj))``, ``MERGE INTO`` with
  null-safe full-row identity, ``VERSION AS OF``, ``<tbl>.snapshots``,
  ``CALL <cat>.system.expire_snapshots``;
- a **path** (has ``/`` or a URI scheme) → the parquet COW snapshot
  layer, identical semantics at bucket granularity;
- a table-shaped identifier whose catalog is NOT configured → a named
  error up front (the SERVICE-rejection discipline) instead of a
  confusing downstream analysis failure.

The Iceberg branch compiles to SQL/DataFrame-API calls only — no
Iceberg client library is imported, so this file loads (and the path
branch runs) in environments without the runtime jar; the catalog
branch is exercised by config-gated tests that skip when no catalog is
configured (``tests/test_snapshots.py::TestIcebergSeam``).

Set semantics match ``snapshot_merge`` exactly: full-row null-safe
identity, deletes-then-adds, a row present in both adds and deletes
survives.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from .materialize import TRIPLE_COLS
from . import snapshots as _snap


class IcebergCatalogNotConfigured(RuntimeError):
    """Target names a catalog table but no such Spark catalog is set."""


class InvalidTableIdentifier(ValueError):
    """A catalog name that is not dot-separated plain SQL identifiers."""


_IDENT_PART = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _check_identifier(ident: str, min_parts: int = 2) -> list[str]:
    """The dot-separated parts of ``ident``; every name interpolated
    into SQL passes here first.  A table needs ``cat.tbl`` at least."""
    parts = ident.split(".")
    if len(parts) < min_parts or not all(
            _IDENT_PART.fullmatch(p) for p in parts):
        raise InvalidTableIdentifier(
            "%r is not a valid identifier: need at least %d dot-separated "
            "part(s), each matching [A-Za-z_][A-Za-z0-9_]*"
            % (ident, min_parts))
    return parts


def _is_path(target: str) -> bool:
    return "/" in target or target.startswith(("file:", "hdfs:", "s3:",
                                               "s3a:", "gs:", "abfs:"))


def catalog_of(spark: SparkSession, target: str) -> str | None:
    """The configured catalog name a table identifier resolves to, or
    ``None`` when ``target`` is a filesystem path.  Raises
    :class:`IcebergCatalogNotConfigured` for a table-shaped target whose
    leading part names no configured catalog, and
    :class:`InvalidTableIdentifier` for any other non-path target that
    is not ``cat.tbl`` or deeper."""
    if _is_path(target):
        return None
    cat = _check_identifier(target)[0]
    impl = spark.conf.get("spark.sql.catalog.%s" % cat, None)
    if impl is None:
        raise IcebergCatalogNotConfigured(
            "table identifier %r names catalog %r but spark.sql.catalog."
            "%s is not configured; pass a filesystem path for the "
            "parquet snapshot layer, or configure the Iceberg catalog "
            "(spark.sql.catalog.%s=org.apache.iceberg.spark.SparkCatalog"
            " + its warehouse/uri settings)" % (target, cat, cat, cat))
    return cat


# -- null-safe full-row MERGE scaffolding (pure SQL generation, unit-
#    testable without a catalog) ------------------------------------------

def merge_sql(ident: str, source_view: str) -> str:
    """The ``MERGE INTO`` statement implementing snapshot_merge's set
    semantics on an Iceberg table: null-safe equality on every triple
    column (obj_lang is nullable), delete rows tagged 'del', insert
    missing rows tagged 'add'.  The source must be pre-deduplicated to
    one row per triple (``_delta_source``) — Iceberg raises on multiple
    source matches per target row."""
    _check_identifier(ident)
    _check_identifier(source_view, min_parts=1)
    on = " AND ".join("t.%s <=> s.%s" % (c, c) for c in TRIPLE_COLS)
    return (
        "MERGE INTO %s t USING %s s ON %s "
        "WHEN MATCHED AND s.op = 'del' THEN DELETE "
        "WHEN NOT MATCHED AND s.op = 'add' THEN INSERT (%s) VALUES (%s)"
        % (ident, source_view, on,
           ", ".join(TRIPLE_COLS),
           ", ".join("s.%s" % c for c in TRIPLE_COLS)))


def _delta_source(adds: DataFrame | None,
                  deletes: DataFrame | None) -> DataFrame | None:
    """One row per distinct triple with op in {'add','del'}; a triple in
    BOTH sets resolves to 'add' (delete-then-add survives, matching
    snapshot_merge)."""
    sets = []
    if adds is not None:
        sets.append(adds.select(*TRIPLE_COLS).withColumn("op", F.lit("add")))
    if deletes is not None:
        sets.append(deletes.select(*TRIPLE_COLS)
                    .withColumn("op", F.lit("del")))
    if not sets:
        return None
    delta = sets[0] if len(sets) == 1 else sets[0].unionByName(sets[1])
    # min('add','del') = 'add': adds win; also dedups within each set
    return delta.groupBy(*TRIPLE_COLS).agg(F.min("op").alias("op"))


# -- unified API ----------------------------------------------------------

def table_create(spark: SparkSession, triples: DataFrame, target: str,
                 buckets: int = 64):
    """Create/overwrite the triple table.  Catalog branch: V2 writer
    with Iceberg's ``bucket(N, subj)`` partition transform — the
    file-granularity version of the parquet layer's ``subj_bucket``
    directories, so subject point-lookups prune identically.  Returns
    the parquet manifest dict, or None on the catalog branch."""
    if catalog_of(spark, target) is None:
        return _snap.snapshot_create(spark, triples, target,
                                     buckets=buckets)
    (triples.select(*TRIPLE_COLS)
     .writeTo(target)
     .using("iceberg")
     .partitionedBy(F.bucket(buckets, F.col("subj")))
     .createOrReplace())
    return None


def table_merge(spark: SparkSession, target: str,
                adds: DataFrame | None = None,
                deletes: DataFrame | None = None):
    """COW MERGE with snapshot_merge's set semantics on either branch.
    The catalog branch is ONE ``MERGE INTO`` — Iceberg rewrites only
    the data files the delta touches (its file-level analogue of the
    parquet layer's touched-bucket rewrite) and commits atomically in
    the metastore, so concurrent writers on different drivers are
    serialized by the catalog instead of by filesystem rename."""
    if catalog_of(spark, target) is None:
        return _snap.snapshot_merge(spark, target, adds=adds,
                                    deletes=deletes)
    delta = _delta_source(adds, deletes)
    if delta is None:
        return None
    view = "mrs_merge_delta"
    delta.createOrReplaceTempView(view)
    try:
        spark.sql(merge_sql(target, view))
    finally:
        spark.catalog.dropTempView(view)
    return None


def _history(spark: SparkSession, target: str) -> list:
    """Rows of ``<tbl>.snapshots`` in version order; ``snapshot_id``
    breaks ties between snapshots committed in the same instant, so a
    version number always names the same snapshot."""
    return (spark.table("%s.snapshots" % target)
            .orderBy("committed_at", "snapshot_id").collect())


def read_table(spark: SparkSession, target: str,
               version: int | None = None) -> DataFrame:
    """Scan the current (or time-travel) snapshot on either branch.
    ``version`` on the catalog branch is the 1-based position in the
    table's snapshot history (mirroring the parquet layer's manifest
    numbering), resolved through ``<tbl>.snapshots``."""
    if catalog_of(spark, target) is None:
        return _snap.read_snapshot(spark, target, version=version)
    if version is None:
        return spark.table(target).select(*TRIPLE_COLS)
    snaps = _history(spark, target)
    if not 1 <= version <= len(snaps):
        raise _snap.SnapshotNotFound(
            "version %d not in %s history (1..%d)"
            % (version, target, len(snaps)))
    sid = snaps[version - 1]["snapshot_id"]
    return (spark.read.option("snapshot-id", sid).table(target)
            .select(*TRIPLE_COLS))


def table_versions(spark: SparkSession, target: str) -> list[dict]:
    """Snapshot lineage on either branch: list of dicts with at least
    ``version`` (1-based) and ``operation``."""
    if catalog_of(spark, target) is None:
        return _snap.snapshot_versions(spark, target)
    snaps = _history(spark, target)
    return [{"version": i + 1, "operation": r["operation"],
             "snapshot_id": r["snapshot_id"]}
            for i, r in enumerate(snaps)]


def expire(spark: SparkSession, target: str, keep_last: int = 1):
    """Snapshot expiry on either branch; the catalog branch delegates
    to Iceberg's maintenance procedure."""
    cat = catalog_of(spark, target)
    if cat is None:
        return _snap.expire_snapshots(spark, target, keep_last=keep_last)
    table = target.split(".", 1)[1]
    spark.sql(
        "CALL %s.system.expire_snapshots(table => '%s', retain_last => %d)"
        % (cat, table, int(keep_last)))
    return None
