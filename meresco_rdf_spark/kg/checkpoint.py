"""Per-partition checkpoint manifest: lineage + metrics + resume.

North_star requirement: "resumable from per-partition checkpoints carrying
lineage and triple-count metrics".  The resume unit is a **conversation
bucket** — ``pmod(xxhash64(conv_id), n_buckets)`` — because every pipeline
stage up to canonicalization is conv-local and mention/bnode ids are
deterministic (kg/extract.py), so re-running a bucket is idempotent.

The manifest is itself a tiny parquet table, one row per completed bucket:

    bucket int, status string, n_turns long, n_mentions long,
    n_triples long, input_fingerprint string, run_id string, ts timestamp

``input_fingerprint`` is an order-insensitive xxhash of the bucket's input
rows — lineage: a resume with changed input invalidates the bucket instead
of silently skipping it.  Each done bucket's checkpoint is its mention
rows under ``<out_dir>/mentions/bucket=N``; ``n_triples`` is their bnode
fan-out.  The driver collects the manifest (a few KB) and the per-bucket
fingerprints once; scheme check and bucket selection are pure functions
over those rows — no driver iteration over data.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import local_frame

MENTIONS = "mentions"  # per-bucket checkpoint root under the output dir

MANIFEST_SCHEMA = (
    "bucket int, status string, n_turns long, n_mentions long, "
    "n_triples long, input_fingerprint string, run_id string, ts double, "
    "n_buckets int"
)


def bucket_of(conv_id_col, n_buckets: int):
    return F.pmod(F.xxhash64(conv_id_col), F.lit(n_buckets)).cast("int")


def input_fingerprints(transcripts: DataFrame, n_buckets: int) -> DataFrame:
    """(bucket, n_turns, input_fingerprint): order-insensitive row-hash sum
    per bucket — one agg over the input, no collect of data rows."""
    hashed = transcripts.select(
        bucket_of(F.col("conv_id"), n_buckets).alias("bucket"),
        F.xxhash64(
            F.col("conv_id"), F.col("turn_idx"), F.col("role"),
            F.col("text"), F.col("tool"), F.col("ts")).alias("h"))
    # decimal(38,0) accumulator: order-insensitive and overflow-proof under
    # ANSI mode (a plain long sum of xxhash64 values overflows)
    return hashed.groupBy("bucket").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.col("h").cast("decimal(38,0)")).cast("string")
        .alias("input_fingerprint"))


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    if not os.path.exists(manifest_path):
        return local_frame(spark, [], MANIFEST_SCHEMA)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)


def check_bucket_scheme(manifest_rows, n_buckets: int,
                        manifest_path: str) -> None:
    """Refuse to resume against a manifest written with a different
    ``n_buckets``: the bucket function changes, so every prior
    bucket->conversation assignment (and every mentions subtree) is
    invalid — silently mixing schemes resurrects or drops rows.
    ``manifest_rows`` are the collected manifest rows; tombstones carry
    no scheme."""
    schemes = sorted({r.n_buckets for r in manifest_rows
                      if r.n_buckets is not None})
    if any(s != n_buckets for s in schemes):
        raise ValueError(
            "manifest at %s was written with n_buckets=%s; resume with the "
            "same value or clear the output directory" % (manifest_path, schemes))


def check_layout(out_dir: str) -> None:
    """Refuse to resume in an output directory of the older layout, which
    checkpointed each bucket's triples under ``raw_triples/``: its done
    manifest rows would mark buckets complete that have no mentions
    checkpoint, and their rows would silently drop out of the tables."""
    old = os.path.join(out_dir, "raw_triples")
    if os.path.exists(old):
        raise ValueError(
            "%s holds checkpoints of an older layout; clear the output "
            "directory and rebuild" % old)


def _done_fingerprints(manifest_rows) -> dict[int, str]:
    """``{bucket: input_fingerprint}`` of every bucket whose LATEST
    manifest row (re-runs append) says ``done``.  Rows that tie on the
    latest ``ts`` count as done only if all of them are ``done`` with one
    fingerprint, so the answer never depends on row order — a doubtful
    bucket is re-run, which is idempotent."""
    latest: dict[int, list] = {}
    for r in manifest_rows:
        tied = latest.get(r.bucket)
        if tied is None or r.ts > tied[0].ts:
            latest[r.bucket] = [r]
        elif r.ts == tied[0].ts:
            tied.append(r)
    out = {}
    for bucket, tied in latest.items():
        fps = {r.input_fingerprint for r in tied}
        if len(fps) == 1 and all(r.status == "done" for r in tied):
            out[bucket] = fps.pop()
    return out


def pending_buckets(manifest_rows, fingerprints: dict) -> list[int]:
    """Buckets of the current input (``fingerprints``: ``{bucket:
    (n_turns, input_fingerprint)}``, one collect of
    :func:`input_fingerprints`) not yet completed with an unchanged
    input fingerprint.  Pure: reads no data."""
    done = _done_fingerprints(manifest_rows)
    return sorted(b for b, (_, fp) in fingerprints.items()
                  if done.get(b) != fp)


def record_done(spark: SparkSession, manifest_path: str, bucket: int,
                n_turns: int, n_mentions: int, n_triples: int,
                input_fingerprint: str, run_id: str,
                n_buckets: int) -> None:
    row = [(bucket, "done", n_turns, n_mentions, n_triples,
            input_fingerprint, run_id, time.time(), n_buckets)]
    local_frame(spark, row, MANIFEST_SCHEMA).write.mode("append").parquet(
        manifest_path)


def drop_stale_buckets(spark: SparkSession, out_dir: str,
                       manifest_path: str, live_buckets: set[int],
                       run_id: str) -> list[int]:
    """Delete the mentions checkpoint of every bucket absent from the
    CURRENT input (every conversation deleted, or never existed) and
    tombstone it in the manifest.  Without this, a fully-deleted bucket's
    parquet survives and its rows resurrect in the global phase —
    breaking the 'changed input invalidates the bucket' lineage
    contract."""
    import shutil

    root = os.path.join(out_dir, MENTIONS)
    if not os.path.isdir(root):
        return []
    stale = []
    for name in os.listdir(root):
        if not name.startswith("bucket="):
            continue
        bucket = int(name.split("=", 1)[1])
        if bucket not in live_buckets:
            shutil.rmtree(os.path.join(root, name))
            stale.append(bucket)
    if stale:
        rows = [(b, "deleted", 0, 0, 0, "", run_id, time.time(), None)
                for b in stale]
        local_frame(spark, rows, MANIFEST_SCHEMA).write.mode(
            "append").parquet(manifest_path)
    return sorted(stale)
