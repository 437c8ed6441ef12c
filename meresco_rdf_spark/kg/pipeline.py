"""End-to-end KG construction pipeline (the north_star flagship).

transcripts -> detect_mentions (Arrow-batched, conv-partitioned)
            -> canonical_surface_map (MinHash-LSH + connected components)
            -> pipeline_triples (codegen fan-out with entity refs born
               canonical, corpus-wide foaf:name election per canonical
               entity, owl:sameAs)
            -> [optional] materialized triple/adjacency tables + manifest

``run_pipeline`` is the lazy composition (returns DataFrames — callers
decide what to materialize); ``run_checkpointed`` drives the bucket-wise
resumable materialization from kg/checkpoint.py.  Both emit through
``pipeline_triples``.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..session import local_frame
from .canonicalize import canonical_surface_map
from .checkpoint import (
    MENTIONS,
    bucket_of,
    check_bucket_scheme,
    check_layout,
    drop_stale_buckets,
    input_fingerprints,
    pending_buckets,
    read_manifest,
    record_done,
)
from .extract import (
    MENTION_SCHEMA,
    _mention_fanout,
    detect_mentions,
    mention_triples,  # noqa: F401  (perfbench's traced refresh wraps this name)
)
from .materialize import (
    adjacency,
    with_subj_bucket,
    write_adjacency_table,
    write_triple_table,
)


@dataclass
class PipelineResult:
    mentions: DataFrame
    canonical_map: DataFrame
    triples: DataFrame  # canonicalized, deduped, with provenance edges


def run_pipeline(transcripts: DataFrame, *, jaccard_threshold: float = 0.5,
                 assume_conv_partitioned: bool = False) -> PipelineResult:
    """Scale path: mentions are persisted (they feed the triple fan-out,
    the per-entity label aggregation, and canonicalization — without the
    persist the Arrow extraction UDF re-executes once per consumer), the
    canonical map comes back already materialized (a driver-built
    relation, or checkpointed on the distributed path), and triple
    emission is the fused unique-by-construction plan of
    ``extract.pipeline_triples`` — no global dedup shuffle, entity refs
    born canonical via one broadcast join."""
    # looked up per call: perfbench's traced build wraps the extract attribute
    from .extract import pipeline_triples

    mentions = detect_mentions(
        transcripts, assume_conv_partitioned=assume_conv_partitioned).persist()
    # EAGER materialization: the triple-emission union consumes mentions in
    # four parallel branches inside one job; with a lazily-populated cache
    # those branches race and each recomputes the Arrow extraction (4x CPU,
    # measured 3x wall at local[32]).  One count() fills the cache first.
    mentions.count()
    canon = canonical_surface_map(
        mentions.select("surface_key").dropDuplicates(["surface_key"]),
        threshold=jaccard_threshold)
    triples = pipeline_triples(mentions, canon)
    return PipelineResult(mentions=mentions, canonical_map=canon, triples=triples)


def run_checkpointed(spark: SparkSession, transcripts: DataFrame,
                     out_dir: str, *, n_buckets: int = 16,
                     table_buckets: int = 16,
                     jaccard_threshold: float = 0.5) -> dict:
    """Bucket-wise resumable materialization.

    Each conv-bucket runs mention detection (the conv-local stage)
    independently and checkpoints its mention rows under
    ``mentions/bucket=N`` + a manifest row; canonicalization, triple
    emission and the foaf:name/skos:altLabel election run over the union
    of the per-bucket checkpoints at the end (all global by nature —
    electing labels per bucket would give merged entities several
    competing names), through ``pipeline_triples``, the emission
    ``run_pipeline`` uses.  A re-run processes only buckets whose
    manifest row is missing or whose input fingerprint changed — the
    idempotency lever is that every id in the pipeline is deterministic
    in the input rows.  The final table is row-identical to
    ``run_pipeline(transcripts).triples`` however the work was sliced
    across runs (pytest-pinned).

    Returns summary metrics.  Job shape of a delta (one dirty bucket):
    one manifest collect and one fingerprint collect on the driver
    (scheme check and bucket selection are pure Python over those rows);
    per dirty bucket, the mentions write (its row count rides along as an
    ``Observation``) and one manifest append; then the global phase —
    canonicalization over the distinct surface keys of all checkpointed
    mentions (one collect below ``LOCAL_SURFACES`` keys), then the two
    table writes, with no cache and no count: the triple write computes
    the emission (its row count rides along as an ``Observation``) and
    the adjacency write reads the written triple table back, in one
    exchange.  Clean buckets cost nothing but their share of
    the fingerprint aggregation and their mentions' re-read.  The only
    Python tasks of a delta are the extraction's (``detect_mentions``):
    the manifest rows and the driver-built canonical map are
    :func:`~meresco_rdf_spark.session.local_frame` relations, scanned in
    the JVM.
    """
    from .extract import pipeline_triples

    check_layout(out_dir)
    manifest_path = os.path.join(out_dir, "_manifest")
    run_id = uuid.uuid4().hex[:12]
    manifest = read_manifest(spark, manifest_path).collect()
    check_bucket_scheme(manifest, n_buckets, manifest_path)
    fps = {
        r.bucket: (r.n_turns, r.input_fingerprint)
        for r in input_fingerprints(transcripts, n_buckets).collect()
    }
    todo = pending_buckets(manifest, fps)
    # lineage contract: buckets with no surviving input rows must not
    # leave parquet behind (deleted conversations would resurrect in the
    # global phase); tombstoned in the manifest
    stale = drop_stale_buckets(spark, out_dir, manifest_path, set(fps), run_id)

    mentions_root = os.path.join(out_dir, MENTIONS)
    # triples per mention: the bnode fan-out is one row per predicate, so
    # the manifest's n_triples is exact without reading anything back
    per_mention = len(_mention_fanout(F.lit(None), F.lit(None), F.lit(None)))
    with_bucket = transcripts.withColumn(
        "_bucket", bucket_of(F.col("conv_id"), n_buckets))
    for bucket in todo:
        part = with_bucket.filter(F.col("_bucket") == bucket).drop("_bucket")
        # the write is the mentions' only consumer: no cache, and the
        # row count rides along on the write
        written = Observation()
        (detect_mentions(part)
         .observe(written, F.count(F.lit(1)).alias("n"))
         .write.mode("overwrite")
         .parquet(os.path.join(mentions_root, "bucket=%d" % bucket)))
        n_mentions = written.get["n"]
        n_turns, fingerprint = fps.get(bucket, (0, ""))
        record_done(spark, manifest_path, bucket, n_turns, n_mentions,
                    per_mention * n_mentions, fingerprint, run_id, n_buckets)
    processed = len(todo)

    # global phase: canonicalize and emit over all checkpointed mentions
    if os.path.isdir(mentions_root) and any(
            name.startswith("bucket=") for name in os.listdir(mentions_root)):
        mentions = spark.read.schema(MENTION_SCHEMA).parquet(mentions_root)
    else:
        # a fresh empty input, or a resume after every conversation was
        # deleted (drop_stale_buckets removed all subtrees)
        mentions = local_frame(spark, [], MENTION_SCHEMA)
    # already materialized (a driver-built relation, or checkpointed on
    # the distributed path): caching it again would only add a cache
    # stage in front of each of its broadcasts
    canon = canonical_surface_map(
        mentions.select("surface_key").dropDuplicates(["surface_key"]),
        threshold=jaccard_threshold)
    triples_path = os.path.join(out_dir, "triples")
    adjacency_path = os.path.join(out_dir, "adjacency")
    final = pipeline_triples(mentions, canon)
    n_final = 0
    # an empty canonical map means no mention has a surface key, so
    # nothing is emitted; the optimizer would fold that plan to an empty
    # relation, observation included.  (Below LOCAL_SURFACES keys the map
    # is a driver-built relation, and isEmpty runs no job.)
    if not canon.isEmpty():
        emitted = Observation()
        write_triple_table(
            final.observe(emitted, F.count(F.lit(1)).alias("n")),
            triples_path, buckets=table_buckets)
        n_final = emitted.get["n"]
    if n_final:
        write_adjacency_table(spark.read.parquet(triples_path), adjacency_path,
                              buckets=table_buckets)
    else:
        # no triples at all (no input, everything deleted, or no turn
        # mentions anything).  The tables are still overwritten, so
        # previously-materialized rows don't outlive their deleted inputs
        # (the lineage contract); partitionBy on an empty DataFrame writes
        # zero part files (readers would then fail schema inference), so
        # write one unpartitioned schema-carrying file instead — same
        # columns, subj_bucket included.
        (with_subj_bucket(final, table_buckets).coalesce(1)
         .write.mode("overwrite").parquet(triples_path))
        (with_subj_bucket(adjacency(final), table_buckets).coalesce(1)
         .write.mode("overwrite").parquet(adjacency_path))
    return {
        "run_id": run_id,
        "buckets_processed": processed,
        "buckets_skipped": n_buckets - processed,
        "buckets_dropped": len(stale),
        "final_triples": n_final,
    }
