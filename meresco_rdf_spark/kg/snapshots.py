"""Snapshot-versioned triple tables: copy-on-write MERGE with atomic
metadata commits — the engine's one triple-table commit protocol
(``Graph.addTriple``/``removeTriple`` at scale, reference
graph.py:45-68), implementing the Iceberg commit model on plain parquet:

- **data files are immutable.**  Every commit writes NEW bucket
  directories under ``data/snap=<version>-<uuid>/subj_bucket=<b>/`` and
  never touches existing ones.  A merge rewrites only the delta-touched
  buckets; the new manifest references the parent's directories for every
  untouched bucket (copy-on-write at bucket granularity — exactly what
  Iceberg does at file granularity with a ``bucket(N, subj)`` transform).
- **the manifest IS the commit.**  ``_meta/v<version>.json`` lists the
  bucket -> directory mapping plus lineage (parent version, operation,
  per-bucket row counts, total).  It is created by write-to-temp +
  ``FileSystem.rename`` onto the final name: rename-if-absent is the
  compare-and-swap — two racing writers allocate the same version number
  and exactly one rename succeeds; the loser raises
  :class:`SnapshotConflict` (retry = re-read current, re-merge).  Until
  the manifest exists, a crashed writer has only produced an orphan data
  directory that no reader can see (cleaned by ``expire_snapshots``).
- **readers resolve a manifest once** and scan only the immutable files
  it references: a concurrent commit cannot change or corrupt a running
  scan, and ``version=`` gives time travel for free.  Old snapshots stay
  readable until ``expire_snapshots`` drops them (the same maintenance
  trade Iceberg makes).

Scale shape: manifests are O(buckets) JSON (KB–MB at 10^12 turns with
1024 buckets) handled driver-side through the Hadoop FileSystem API, so
the same code runs on file://, hdfs:// and any store with atomic rename;
the data path is the standard bucketed parquet write.  Reads reconstruct
``subj_bucket`` via partition discovery (one parquet relation over the
selected directories with a common basePath — NOT a per-bucket union),
so subject point-lookups still prune to 1/N of the files.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import local_frame
from .materialize import (
    TRIPLE_COLS,
    TRIPLE_SORT,
    fused_bucket_dedup,
    with_subj_bucket,
)


class SnapshotConflict(RuntimeError):
    """Another writer committed this version first (optimistic CAS lost).

    Retry by re-running the merge: it re-resolves the new current
    snapshot and allocates the next version."""


class SnapshotNotFound(ValueError):
    """The requested snapshot version has no manifest (never existed, or
    expired)."""


# --------------------------------------------------------------------------
# Hadoop FileSystem plumbing (driver-side metadata I/O)
# --------------------------------------------------------------------------

def _fs(spark: SparkSession, root: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(root).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _write_file(fs, hpath, path: str, data: bytes) -> None:
    out = fs.create(hpath(path), True)
    try:
        out.write(data)
    finally:
        out.close()


def _read_file(fs, hpath, path: str) -> bytes:
    # InputStream.readAllBytes (Java 9+) — py4j passes buffers by value,
    # so the classic read-into-bytearray loop silently returns junk
    stream = fs.open(hpath(path))
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def _manifest_versions(fs, hpath, root: str) -> list[int]:
    meta = hpath(root + "/_meta")
    if not fs.exists(meta):
        return []
    out = []
    for status in fs.listStatus(meta):
        name = status.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _load_manifest(fs, hpath, root: str, version: int) -> dict:
    path = "%s/_meta/v%d.json" % (root, version)
    if not fs.exists(hpath(path)):
        raise SnapshotNotFound(
            "snapshot v%d of %s does not exist (never committed, or "
            "expired)" % (version, root))
    return json.loads(_read_file(fs, hpath, path).decode("utf-8"))


def _commit_manifest(fs, hpath, root: str, manifest: dict) -> None:
    """Atomic CAS commit: rename-if-absent of the manifest file.  The
    package's only manifest commit — triple-table snapshots and the
    quad stream's hash state both go through it."""
    meta_dir = root + "/_meta"
    fs.mkdirs(hpath(meta_dir))
    tmp = "%s/.tmp-%s.json" % (meta_dir, uuid.uuid4().hex)
    final = hpath("%s/v%d.json" % (meta_dir, manifest["version"]))
    _write_file(fs, hpath, tmp,
                json.dumps(manifest, indent=1, sort_keys=True).encode())
    if fs.exists(final) or not fs.rename(hpath(tmp), final):
        fs.delete(hpath(tmp), False)
        raise SnapshotConflict(
            "version %d of %s was committed concurrently"
            % (manifest["version"], root))


def snapshot_versions(spark: SparkSession, root: str) -> list[dict]:
    """All live manifests, oldest first (lineage + metrics per commit)."""
    fs, hpath = _fs(spark, root)
    return [_load_manifest(fs, hpath, root, v)
            for v in _manifest_versions(fs, hpath, root)]


# --------------------------------------------------------------------------
# write / commit
# --------------------------------------------------------------------------

def _write_data(df: DataFrame, root: str, version: int, buckets: int,
                n_parts: int, pre_partitioned: bool = False) -> str:
    """Write one immutable snapshot data directory; returns its relative
    name.  ``snap`` is key=value-shaped so partition discovery under
    ``data/`` recovers (snap, subj_bucket) for free at read time.  Every
    writer sorts by ``("subj_bucket", *TRIPLE_SORT)``: the partitioned
    write needs its rows ordered by ``subj_bucket`` first, and replaces
    any sort that does not lead with it by its own."""
    rel = "data/snap=%d-%s" % (version, uuid.uuid4().hex[:12])
    out = df if pre_partitioned else (
        df.repartition(n_parts, "subj_bucket")
        .sortWithinPartitions("subj_bucket", *TRIPLE_SORT))
    (out.write.mode("error").partitionBy("subj_bucket")
        .parquet(root + "/" + rel))
    return rel


def _bucket_counts(spark: SparkSession, root: str, rel: str) -> dict:
    # a merge that deletes every surviving row writes an empty directory
    # (no bucket subdirs) — reading it would fail schema inference
    fs, hpath = _fs(spark, root)
    if not any(s.getPath().getName().startswith("subj_bucket=")
               for s in fs.listStatus(hpath(root + "/" + rel))):
        return {}
    rows = (spark.read.parquet(root + "/" + rel)
            .groupBy("subj_bucket").count().collect())
    return {int(r["subj_bucket"]): int(r["count"]) for r in rows}


def snapshot_create(spark: SparkSession, triples: DataFrame, root: str,
                    buckets: int = 64,
                    files_per_bucket: int = 1) -> dict:
    """Create (or full-overwrite) the table: every bucket written fresh,
    committed as the next version.  Returns the manifest.

    ``files_per_bucket`` — write parallelism WITHIN a bucket: one
    writer task per bucket is the read-optimal layout but serializes a
    10-TB bucket through one task at create time; salting the
    repartition key fans each bucket across k writers (k files).  Run
    ``snapshot_compact`` afterwards to consolidate — the standard
    write-fast-then-compact recipe."""
    if files_per_bucket < 1:
        raise ValueError("files_per_bucket must be >= 1")
    fs, hpath = _fs(spark, root)
    version = (_manifest_versions(fs, hpath, root) or [0])[-1] + 1
    df = with_subj_bucket(triples.select(*TRIPLE_COLS), buckets)
    if files_per_bucket > 1:
        # a DIFFERENT hash than with_subj_bucket's: pmod(h, k) of the
        # same h is constant within a bucket whenever k divides the
        # bucket count (the low bits are already fixed by the bucket)
        salt = F.pmod(F.xxhash64(F.lit("file-salt"), F.col("subj")),
                      F.lit(files_per_bucket))
        df = (df.repartition(buckets * files_per_bucket,
                             F.col("subj_bucket"), salt)
              .sortWithinPartitions("subj_bucket", *TRIPLE_SORT))
        rel = _write_data(df, root, version, buckets,
                          buckets * files_per_bucket,
                          pre_partitioned=True)
    else:
        rel = _write_data(df, root, version, buckets, buckets)
    counts = _bucket_counts(spark, root, rel)
    manifest = {
        "version": version,
        "parent": version - 1 if version > 1 else None,
        "operation": "overwrite",
        "n_buckets": buckets,
        "buckets": {str(b): "%s/subj_bucket=%d" % (rel, b) for b in counts},
        "row_counts": {str(b): n for b, n in counts.items()},
        "total_rows": sum(counts.values()),
        "created_unix": time.time(),
    }
    _commit_manifest(fs, hpath, root, manifest)
    return manifest


def _merge_rows(spark: SparkSession, root: str, parent: dict,
                adds: DataFrame | None,
                deletes: DataFrame | None) -> tuple[list, DataFrame | None]:
    """``(touched, rows)`` of one MERGE into ``parent``: the buckets the
    delta hashes into and their merged, deduplicated rows — the plan
    ``snapshot_merge`` writes, shared with the plan audit
    (``tools/explain_audit.py``) so the asserted plan IS the shipped
    one.  ``touched`` is empty when the delta is."""
    buckets = parent["n_buckets"]
    adds, deletes = (None if d is None else
                     with_subj_bucket(d.select(*TRIPLE_COLS), buckets)
                     for d in (adds, deletes))
    delta = [d for d in (adds, deletes) if d is not None]
    if not delta:
        return [], None
    keys = delta[0] if len(delta) == 1 else delta[0].unionByName(delta[1])
    touched = sorted(r.subj_bucket for r in
                     keys.select("subj_bucket").distinct().collect())
    if not touched:
        return [], None
    # existing rows of the touched buckets only (untouched buckets'
    # files are never opened)
    merged = _scan(spark, root, parent, only_buckets=touched)
    if deletes is not None:
        cond = F.lit(True)
        for c in TRIPLE_COLS + ["subj_bucket"]:
            cond = cond & merged[c].eqNullSafe(deletes[c])
        merged = merged.join(deletes, cond, "left_anti")
    if adds is not None:
        merged = merged.unionByName(
            adds.filter(F.col("subj_bucket").isin(touched)))
    return touched, fused_bucket_dedup(merged, len(touched))


def snapshot_merge(spark: SparkSession, root: str,
                   adds: DataFrame | None = None,
                   deletes: DataFrame | None = None) -> dict:
    """Copy-on-write MERGE with set semantics: deletes are a null-safe
    full-row anti-join, adds deduplicate against survivors, and both
    are per-bucket-local (every side hashes by the same bucket
    function).  Only the delta-touched buckets are read and rewritten —
    as a NEW immutable data directory — and the committed manifest
    splices them into the parent snapshot.  Readers of any earlier
    version are untouched; an emptied bucket simply leaves the new
    manifest.  Re-running the same merge yields the same rowset.
    Returns the committed manifest."""
    fs, hpath = _fs(spark, root)
    versions = _manifest_versions(fs, hpath, root)
    if not versions:
        raise SnapshotNotFound("cannot merge into %s: no snapshot" % root)
    parent = _load_manifest(fs, hpath, root, versions[-1])
    buckets = parent["n_buckets"]
    touched, deduped = _merge_rows(spark, root, parent, adds, deletes)
    if not touched:
        return parent

    version = versions[-1] + 1
    rel = _write_data(deduped, root, version, buckets, len(touched),
                      pre_partitioned=True)
    counts = _bucket_counts(spark, root, rel)

    new_buckets = {b: p for b, p in parent["buckets"].items()
                   if int(b) not in touched}
    row_counts = {b: n for b, n in parent["row_counts"].items()
                  if int(b) not in touched}
    for b, n in counts.items():  # emptied touched buckets stay absent
        new_buckets[str(b)] = "%s/subj_bucket=%d" % (rel, b)
        row_counts[str(b)] = n
    manifest = {
        "version": version,
        "parent": parent["version"],
        "operation": "merge",
        "n_buckets": buckets,
        "buckets": new_buckets,
        "row_counts": row_counts,
        "total_rows": sum(row_counts.values()),
        "buckets_touched": touched,
        "created_unix": time.time(),
    }
    _commit_manifest(fs, hpath, root, manifest)
    return manifest


# --------------------------------------------------------------------------
# read / maintenance
# --------------------------------------------------------------------------

def _scan(spark: SparkSession, root: str, manifest: dict,
          only_buckets: list[int] | None = None) -> DataFrame:
    """One parquet relation over the manifest's (selected) bucket dirs.
    ``basePath=data/`` lets partition discovery recover the snap and
    subj_bucket columns from the directory names; a single relation (not
    a per-bucket union) keeps Catalyst's file index, pushdown and
    whole-stage codegen intact."""
    items = manifest["buckets"].items()
    if only_buckets is not None:
        want = {str(b) for b in only_buckets}
        items = [(b, p) for b, p in items if b in want]
    paths = [root + "/" + p for _, p in sorted(items)]
    if not paths:
        return with_subj_bucket(local_frame(
            spark,
            [], ", ".join("%s string" % c for c in TRIPLE_COLS)),
            manifest["n_buckets"])
    return (spark.read.option("basePath", root + "/data")
            .parquet(*paths)
            .select(*TRIPLE_COLS, "subj_bucket"))


def read_snapshot(spark: SparkSession, root: str,
                  version: int | None = None) -> DataFrame:
    """Scan the current (or a time-travel ``version=``) snapshot.  The
    file list is resolved HERE, against one immutable manifest — commits
    that land after this call cannot affect the returned frame."""
    fs, hpath = _fs(spark, root)
    if version is None:
        versions = _manifest_versions(fs, hpath, root)
        if not versions:
            raise SnapshotNotFound("no snapshot at %s" % root)
        version = versions[-1]
    return _scan(spark, root, _load_manifest(fs, hpath, root, version))


def expire_snapshots(spark: SparkSession, root: str,
                     keep_last: int = 1) -> dict:
    """Drop all but the newest ``keep_last`` manifests and delete every
    data directory no surviving manifest references, and every temp
    manifest (both left by crashed writers).  Covers every root
    ``_commit_manifest`` commits: a triple table's manifest references
    its ``buckets`` directories, the quad stream's hash root's manifest
    its one ``data`` directory.  Requires no concurrent writer — the
    same contract as Iceberg's expire-snapshots maintenance action.
    Readers of expired versions break; that is the retention
    trade-off."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    fs, hpath = _fs(spark, root)
    versions = _manifest_versions(fs, hpath, root)
    keep, drop = versions[-keep_last:], versions[:-keep_last]
    referenced = set()
    for v in keep:
        manifest = _load_manifest(fs, hpath, root, v)
        for p in manifest.get("buckets", {}).values():
            referenced.add(p.split("/subj_bucket=", 1)[0])
        if "data" in manifest:
            referenced.add(manifest["data"])
    for v in drop:
        fs.delete(hpath("%s/_meta/v%d.json" % (root, v)), False)
    meta = hpath(root + "/_meta")
    if fs.exists(meta):  # temp manifests never renamed into place
        for status in fs.listStatus(meta):
            if status.getPath().getName().startswith(".tmp-"):
                fs.delete(status.getPath(), False)
    removed_dirs = []
    data = hpath(root + "/data")
    if fs.exists(data):
        for status in fs.listStatus(data):
            rel = "data/" + status.getPath().getName()
            if rel not in referenced:
                fs.delete(status.getPath(), True)
                removed_dirs.append(rel)
    return {"expired_versions": drop, "removed_dirs": sorted(removed_dirs)}


def snapshot_diff(spark: SparkSession, root: str,
                  from_version: int, to_version: int) -> DataFrame:
    """Row-level diff between two snapshot versions, manifest-pruned:
    ``(change, subj, pred, obj_value, obj_kind, obj_lang)`` with change
    = ``added`` / ``removed``.

    Buckets whose manifests point at the SAME immutable data directory
    are provably identical and never opened — the diff scans only
    buckets that actually changed between the two versions, so its cost
    tracks the churn, not the table (a 10^12-turn table where one merge
    touched 3 of 1024 buckets diffs by reading 3 buckets twice).  Within
    the changed buckets the diff is two null-safe anti-joins; both sides
    arrive pre-bucketed on subj, so the join keys are co-partitioned.

    This is the snapshot-native change feed: incremental downstream
    maintenance (re-validate SHACL on changed subjects, re-fingerprint
    changed graphs) consumes it instead of re-scanning the table.
    """
    fs, hpath = _fs(spark, root)
    m_from = _load_manifest(fs, hpath, root, from_version)
    m_to = _load_manifest(fs, hpath, root, to_version)
    if m_from["n_buckets"] != m_to["n_buckets"]:
        raise ValueError("snapshots use different bucket counts")
    changed = sorted(
        int(b) for b in set(m_from["buckets"]) | set(m_to["buckets"])
        if m_from["buckets"].get(b) != m_to["buckets"].get(b))
    old = _scan(spark, root, m_from, only_buckets=changed)
    new = _scan(spark, root, m_to, only_buckets=changed)

    def anti(a: DataFrame, b: DataFrame, label: str) -> DataFrame:
        cond = None
        for c in TRIPLE_COLS + ["subj_bucket"]:
            eq = a[c].eqNullSafe(b[c])
            cond = eq if cond is None else cond & eq
        return (a.join(b, cond, "left_anti")
                .select(F.lit(label).alias("change"), *TRIPLE_COLS))

    return anti(new, old, "added").unionByName(anti(old, new, "removed"))


def snapshot_compact(spark: SparkSession, root: str,
                     max_files_per_bucket: int = 1,
                     only_buckets: list[int] | None = None) -> dict:
    """Compaction maintenance: rewrite fragmented bucket directories
    (more than ``max_files_per_bucket`` data files) as ONE new immutable
    data directory with one sorted file per bucket, and commit a
    manifest splicing them in — the Iceberg ``rewrite_data_files``
    action on this layout.  No logical change: the committed rowset is
    identical, readers of earlier versions are untouched, and
    non-fragmented buckets' manifest entries are reused verbatim
    (copy-on-write copies nothing it doesn't have to).

    Small-file pressure is the chronic failure mode of streaming/
    incremental MERGE at scale (every micro-batch appends a file per
    touched bucket); periodic compaction keeps scan task counts and
    footer overhead bounded.  Returns the new manifest (or the current
    one unchanged when nothing is fragmented).
    """
    fs, hpath = _fs(spark, root)
    versions = _manifest_versions(fs, hpath, root)
    if not versions:
        raise SnapshotNotFound("no snapshot at %s" % root)
    parent = _load_manifest(fs, hpath, root, versions[-1])

    fragmented = []
    for b, rel in sorted(parent["buckets"].items(), key=lambda kv: int(kv[0])):
        if only_buckets is not None and int(b) not in only_buckets:
            continue
        st = fs.listStatus(hpath(root + "/" + rel))
        n_files = sum(1 for s in st
                      if s.getPath().getName().endswith(".parquet"))
        if n_files > max_files_per_bucket:
            fragmented.append(int(b))
    if not fragmented:
        return parent

    rows = _scan(spark, root, parent, only_buckets=fragmented)
    version = versions[-1] + 1
    rel = _write_data(
        rows.repartition(len(fragmented), "subj_bucket")
        .sortWithinPartitions("subj_bucket", *TRIPLE_SORT),
        root, version, parent["n_buckets"], len(fragmented),
        pre_partitioned=True)
    counts = _bucket_counts(spark, root, rel)

    new_buckets = dict(parent["buckets"])
    row_counts = dict(parent["row_counts"])
    for b, n in counts.items():
        if row_counts.get(str(b)) != n:
            raise RuntimeError(
                "compaction changed bucket %s row count (%s -> %s)"
                % (b, row_counts.get(str(b)), n))
        new_buckets[str(b)] = "%s/subj_bucket=%d" % (rel, b)
    manifest = {
        "version": version,
        "parent": parent["version"],
        "operation": "compact",
        "n_buckets": parent["n_buckets"],
        "buckets": new_buckets,
        "row_counts": row_counts,
        "total_rows": parent["total_rows"],
        "buckets_touched": fragmented,
        "created_unix": time.time(),
    }
    _commit_manifest(fs, hpath, root, manifest)
    return manifest
