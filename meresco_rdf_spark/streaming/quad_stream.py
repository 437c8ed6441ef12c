"""Streaming N-Quads ingestion: ``.nq`` file drops -> quad relation ->
exactly-once MERGE into a parquet quad table.

The batch ``.nq`` parse (``sources.rdf_source.nquads_lines_to_quads``)
is pure column expressions plus an Arrow fallback — both legal on
streaming DataFrames — so the SAME parser runs over ``readStream``
lines: no second implementation, batch/stream parity by construction.

The table writer is a replay-idempotent ``foreachBatch`` MERGE: each
micro-batch is deduplicated, anti-joined (null-safe, full 6-column quad
key — the default graph is a NULL context) against the current table
state, and only genuinely-new quads are appended.  A micro-batch
re-delivered after a failure re-appends nothing, so checkpoint +
anti-join give exactly-once TABLE state on top of at-least-once batch
delivery — the same discipline as
``transcript_stream.run_merge_to_triple_table``.

Scale shape: the anti-join's streaming side is one micro-batch (small);
AQE broadcasts it against the table scan.  State is carried by the
table itself, not the streaming state store — O(0) executor state, no
watermark needed for set semantics.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kg.snapshots import _fs
from ..session import local_frame
from . import read_if_exists

QUAD_COLS = ["context", "subj", "pred", "obj_value", "obj_kind",
             "obj_lang"]
QUAD_DDL = ", ".join("%s string" % c for c in QUAD_COLS)


def _novel(fresh: DataFrame, current: DataFrame) -> DataFrame:
    """``fresh`` minus ``current`` on the null-safe 6-column quad key (the
    default graph is a NULL context)."""
    cond = None
    for c in QUAD_COLS:
        eq = fresh[c].eqNullSafe(current[c])
        cond = eq if cond is None else cond & eq
    return fresh.join(current, cond, "left_anti")


def read_nquads_stream(spark: SparkSession, path: str,
                       glob: str = "*.nq",
                       max_files_per_trigger: Optional[int] = None
                       ) -> DataFrame:
    """Directory of ``.nq`` files as a STREAMING quad relation (context
    = graph term, NULL = default graph)."""
    from ..sources.rdf_source import nquads_lines_to_quads

    reader = (spark.readStream.format("text")
              .option("pathGlobFilter", glob)
              .option("recursiveFileLookup", "true"))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    lines = reader.load(path).select(F.col("value").alias("line"))
    return nquads_lines_to_quads(lines)


def run_nquads_to_quad_table(quads: DataFrame, table_path: str,
                             checkpoint: str):
    """Start the exactly-once quad-table MERGE; returns the streaming
    query (``availableNow`` trigger: drains everything currently in the
    source, then stops — the resumable-batch shape)."""
    spark = quads.sparkSession

    def merge(batch: DataFrame, batch_id: int) -> None:
        fresh = batch.select(*QUAD_COLS).dropDuplicates(QUAD_COLS)
        current = read_if_exists(spark, table_path, QUAD_DDL)
        if current is not None:
            fresh = _novel(fresh, current)
        fresh.write.mode("append").parquet(table_path)

    return (quads.writeStream.foreachBatch(merge)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


# --------------------------------------------------------------------------
# incremental per-graph content hashes (exactly-once, two tables)
# --------------------------------------------------------------------------

HASH_COLS = ["graph", "n_triples", "content_hash"]


def run_nquads_with_graph_hashes(quads: DataFrame, table_path: str,
                                 hash_root: str, checkpoint: str):
    """Quad-table ingest PLUS transactionally consistent per-graph
    content fingerprints, maintained incrementally.

    The XOR fold of ``kg.fingerprint.graph_content_hashes`` distributes
    over disjoint unions, so set-inserts maintain it exactly: fold the
    genuinely-new rows of each micro-batch into the running state —
    never rescan the table.  The subtle part is keeping TWO tables
    (quads + hashes) exactly-once under replays and crashes; appending
    to one and then updating the other leaves a drift window whichever
    order is chosen.  Protocol (per micro-batch):

    1. stage: the batch's novel rows (dedup + null-safe anti-join
       against every OTHER batch directory — partition pruning makes
       the self-exclusion free) are written to an immutable
       ``batch=<id>`` directory.  A replayed batch finds the completed
       directory and REUSES it instead of recomputing — recomputation
       after a partial append would see its own rows and stage a loss.
    2. fold: the per-graph delta of the staged rows merges into the
       hash state (full outer join; counts add, hashes XOR) written as
       a NEW immutable version directory.
    3. commit: a ``_meta/v<N>.json`` manifest recording ``batch_id``
       and the version directory (``data/v<N>-<uuid>``, private to this
       writer) is committed by ``kg.snapshots._commit_manifest`` — the
       rename IS the commit, and a writer that loses the race for
       version N raises ``SnapshotConflict`` without touching the
       winner's data.  A batch whose id is <= the committed manifest's
       skips the fold; a crash after staging but before commit replays
       into step 2 from the staged directory.

    Readers see the quad table as the union of completed batch
    directories and the hash table through ``read_graph_hashes`` (the
    latest committed manifest only — a half-written version directory
    without its manifest is invisible).  Every fold leaves the previous
    version directory behind, and a lost race leaves its own orphan:
    ``kg.snapshots.expire_snapshots(spark, hash_root)`` is the retention
    call that removes both.
    """
    import uuid

    from ..kg.fingerprint import graph_content_hashes
    from ..kg.snapshots import (
        _commit_manifest,
        _load_manifest,
        _manifest_versions,
    )

    spark = quads.sparkSession

    def merge(batch: DataFrame, batch_id: int) -> None:
        fs, hpath = _fs(spark, table_path)
        bdir = "%s/batch=%d" % (table_path, batch_id)
        if not fs.exists(hpath("%s/_SUCCESS" % bdir)):
            fresh = batch.select(*QUAD_COLS).dropDuplicates(QUAD_COLS)
            current = read_if_exists(spark, table_path, QUAD_DDL + ", batch int")
            if current is not None:
                fresh = _novel(fresh, current.filter(
                    F.col("batch") != batch_id).select(*QUAD_COLS))
            fresh.write.mode("overwrite").parquet(bdir)
        staged = spark.read.parquet(bdir).select(*QUAD_COLS)

        vs = _manifest_versions(fs, hpath, hash_root)
        state, last_bid = None, -1
        if vs:
            m = _load_manifest(fs, hpath, hash_root, vs[-1])
            last_bid = m["batch_id"]
            state = spark.read.parquet("%s/%s" % (hash_root, m["data"]))
        if last_bid >= batch_id:
            return  # replay of a committed batch: full no-op
        delta = graph_content_hashes(staged)
        if state is not None:
            old = state.select(
                "graph", F.col("n_triples").alias("_n0"),
                F.col("content_hash").alias("_h0"))
            new = delta.select(
                "graph", F.col("n_triples").alias("_n1"),
                F.col("content_hash").alias("_h1"))
            delta = (old.join(new, "graph", "full")
                     .select("graph",
                             (F.coalesce("_n0", F.lit(0))
                              + F.coalesce("_n1", F.lit(0)))
                             .alias("n_triples"),
                             F.expr("coalesce(_h0, 0L) ^ coalesce(_h1, 0L)")
                             .alias("content_hash")))
        ver = (vs[-1] if vs else 0) + 1
        data_rel = "data/v%d-%s" % (ver, uuid.uuid4().hex[:12])
        delta.write.mode("error").parquet("%s/%s" % (hash_root, data_rel))
        _commit_manifest(fs, hpath, hash_root,
                         {"version": ver, "batch_id": batch_id,
                          "data": data_rel})

    return (quads.writeStream.foreachBatch(merge)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def read_graph_hashes(spark: SparkSession, hash_root: str) -> DataFrame:
    """The latest COMMITTED per-graph hash state (manifest-resolved;
    uncommitted version directories are invisible)."""
    from ..kg.snapshots import _load_manifest, _manifest_versions

    fs, hpath = _fs(spark, hash_root)
    vs = _manifest_versions(fs, hpath, hash_root)
    if not vs:
        return local_frame(
            spark,
            [], "graph string, n_triples long, content_hash long")
    m = _load_manifest(fs, hpath, hash_root, vs[-1])
    return spark.read.parquet("%s/%s" % (hash_root, m["data"]))
