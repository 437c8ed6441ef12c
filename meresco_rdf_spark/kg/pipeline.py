"""End-to-end KG construction pipeline (the north_star flagship).

transcripts -> detect_mentions (Arrow-batched, conv-partitioned)
            -> mention_triples (codegen fan-out)
            -> canonical_surface_map (MinHash-LSH + connected components)
            -> label_triples_from_counts (corpus-wide foaf:name election
               per canonical entity) + rewrite_triples (+ owl:sameAs)
            -> [optional] materialized triple/adjacency tables + manifest

``run_pipeline`` is the lazy composition (returns DataFrames — callers
decide what to materialize); ``run_checkpointed`` drives the bucket-wise
resumable materialization from kg/checkpoint.py.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .canonicalize import (
    canonical_surface_map,
    rewrite_triples,
    sameas_triples,
)
from .checkpoint import (
    bucket_of,
    check_bucket_scheme,
    drop_stale_buckets,
    input_fingerprints,
    pending_buckets,
    read_manifest,
    record_done,
)
from .extract import (
    detect_mentions,
    label_triples_from_counts,
    mention_triples,
)
from .materialize import write_adjacency_table, write_triple_table

TRIPLE_COLS = ["subj", "pred", "obj_value", "obj_kind", "obj_lang"]


@dataclass
class PipelineResult:
    mentions: DataFrame
    canonical_map: DataFrame
    triples: DataFrame  # canonicalized, deduped, with provenance edges


def run_pipeline(transcripts: DataFrame, *, jaccard_threshold: float = 0.5,
                 broadcast_canonical: bool = True,
                 assume_conv_partitioned: bool = False) -> PipelineResult:
    """Scale path: mentions are persisted (they feed the triple fan-out,
    the per-entity label aggregation, and canonicalization — without the
    persist the Arrow extraction UDF re-executes once per consumer), the
    canonical map is persisted (it feeds several joins and is tiny), and
    triple emission is the fused unique-by-construction plan of
    ``extract.pipeline_triples`` — no global dedup shuffle, entity refs
    born canonical via one broadcast join."""
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
        threshold=jaccard_threshold).persist()
    canon.count()
    triples = pipeline_triples(mentions, canon)
    return PipelineResult(mentions=mentions, canonical_map=canon, triples=triples)


def run_checkpointed(spark: SparkSession, transcripts: DataFrame,
                     out_dir: str, *, n_buckets: int = 16,
                     table_buckets: int = 16,
                     jaccard_threshold: float = 0.5) -> dict:
    """Bucket-wise resumable materialization.

    Each conv-bucket runs the conv-local stages independently and lands in
    its own output subtrees (``raw_triples/bucket=N`` mention fan-out +
    ``label_counts/bucket=N`` surface-occurrence counts) + manifest row;
    canonicalization AND the foaf:name/skos:altLabel election run over
    the union of per-bucket checkpoints at the end (both are global by
    nature — electing labels per bucket would give merged entities
    several competing names).  A re-run processes only buckets whose
    manifest row is missing or whose input fingerprint changed — the
    idempotency lever is that every id in the pipeline is deterministic
    in the input rows.  The final table is row-identical to
    ``run_pipeline(transcripts).triples`` however the work was sliced
    across runs (pytest-pinned).

    Returns summary metrics.  Job shape of a delta (one dirty bucket):
    one manifest collect and one fingerprint collect on the driver
    (scheme check and bucket selection are pure Python over those rows);
    per dirty bucket, one mention count, the raw-triple write (its row
    count rides along as an ``Observation``), the label-count write and
    one manifest append; then the global phase — canonicalization over
    the distinct surface keys (one collect below ``LOCAL_SURFACES``
    keys), one count that fills the cache of the final triples, and the
    two table writes, both reading that cache.  Clean buckets cost
    nothing but their share of the fingerprint aggregation.
    """
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

    with_bucket = transcripts.withColumn(
        "_bucket", bucket_of(F.col("conv_id"), n_buckets))
    for bucket in todo:
        part = with_bucket.filter(F.col("_bucket") == bucket).drop("_bucket")
        mentions = detect_mentions(part).persist()
        try:
            # eager cache fill BEFORE the write: the triple union consumes
            # mentions in parallel branches inside one job, and a lazily
            # populated cache lets those branches race and re-run the
            # Arrow extraction (same race run_pipeline pre-empts with
            # count())
            n_mentions = mentions.count()
            # per-bucket raw triples = the mention fan-out only.
            # Bnode-subject rows are unique by construction (conv-scoped
            # sha1 bnodes, one row per predicate); the conv->surface
            # kg:mentions edges repeat per mention, so only they pay a
            # (narrow) dedup.  Label election is NOT bucket-local: the
            # foaf:name/skos:altLabel choice needs corpus-wide counts per
            # CANONICAL entity, so each bucket checkpoints its
            # (surface_key, surface, n) counts and the global phase
            # elects after canonicalization (label_triples_from_counts —
            # the exact aggregation run_pipeline uses).
            raw = mention_triples(mentions)
            bnode_rows = raw.filter(F.col("subj").startswith("_:"))
            edge_rows = (raw.filter(~F.col("subj").startswith("_:"))
                         .dropDuplicates(["subj", "obj_value"]))
            written = Observation()
            (bnode_rows.unionByName(edge_rows)
             .observe(written, F.count(F.lit(1)).alias("n"))
             .write.mode("overwrite")
             .parquet(os.path.join(out_dir, "raw_triples", "bucket=%d" % bucket)))
            label_counts = mentions.groupBy("surface_key", "surface").agg(
                F.count("*").alias("n"))
            label_counts.write.mode("overwrite").parquet(
                os.path.join(out_dir, "label_counts", "bucket=%d" % bucket))
        finally:
            mentions.unpersist()
        n_turns, fingerprint = fps.get(bucket, (0, ""))
        record_done(spark, manifest_path, bucket, n_turns, n_mentions,
                    written.get["n"], fingerprint, run_id, n_buckets)
    processed = len(todo)

    # global phase: canonicalize over all raw triples, materialize outputs
    raw_root = os.path.join(out_dir, "raw_triples")
    have_raw = os.path.isdir(raw_root) and any(
        name.startswith("bucket=") for name in os.listdir(raw_root))
    if not have_raw:
        # empty corpus — a fresh empty input, or a resume after every
        # conversation was deleted (drop_stale_buckets removed all
        # subtrees).  Overwrite the materialized outputs with empty
        # tables so previously-materialized rows don't outlive their
        # deleted inputs (the lineage contract), and skip the global
        # phase instead of crashing on a nonexistent parquet path.
        # partitionBy on an empty DataFrame writes zero part files
        # (readers would then fail schema inference), so the empty case
        # writes one unpartitioned schema-carrying file instead — same
        # columns, subj_bucket included.
        from .materialize import adjacency, with_subj_bucket

        empty = spark.createDataFrame(
            [], ", ".join("%s string" % c for c in TRIPLE_COLS))
        (with_subj_bucket(empty, table_buckets).coalesce(1)
         .write.mode("overwrite").parquet(os.path.join(out_dir, "triples")))
        (with_subj_bucket(adjacency(empty), table_buckets).coalesce(1)
         .write.mode("overwrite").parquet(os.path.join(out_dir, "adjacency")))
        return {
            "run_id": run_id,
            "buckets_processed": processed,
            "buckets_skipped": n_buckets - processed,
            "buckets_dropped": len(stale),
            "final_triples": 0,
        }
    raw_cols = spark.read.parquet(raw_root).select(*TRIPLE_COLS)
    # surface keys come from the label-count checkpoints VERBATIM — never
    # reverse-engineered from the urn:surface: slug, whose '-' for ' '
    # substitution is lossy for keys that themselves contain hyphens
    # ('m-curie' and 'm curie' share a slug)
    label_counts = spark.read.parquet(os.path.join(out_dir, "label_counts"))
    surfaces = label_counts.select("surface_key").dropDuplicates(
        ["surface_key"])
    # already materialized (a driver-built relation, or checkpointed on
    # the distributed path): caching it again would only add a cache
    # stage in front of each of its four broadcasts
    canon = canonical_surface_map(surfaces, threshold=jaccard_threshold)
    # corpus-wide label election per canonical entity: re-aggregate the
    # per-bucket counts (partial sums -> one narrow exchange), map keys to
    # canonical entities through the broadcast map, elect via the same
    # helper run_pipeline uses — both paths emit identical label rows
    canon_b = F.broadcast(canon.select("surface_key", "canonical_uri"))
    entity_counts = (
        label_counts.groupBy("surface_key", "surface").agg(
            F.sum("n").alias("n"))
        .join(canon_b, "surface_key")
        .groupBy("canonical_uri", "surface").agg(F.sum("n").alias("n"))
    )
    labels = label_triples_from_counts(entity_counts)
    # selective dedup: bnode-subject triples (the overwhelming majority —
    # 6 rows per mention) are unique by construction (bnode ids are
    # conv-scoped sha1s, convs never span buckets, one row per predicate),
    # so only the non-bnode fraction (conv edges + sameAs — mergeable
    # across surfaces after rewrite) pays the dedup shuffle; label rows
    # are unique by construction (aggregation output) and skip it too.
    # At corpus scale this shrinks the global exchange from O(all triples)
    # to O(edges).
    rewritten = (
        rewrite_triples(raw_cols, canon, dedup=False)
        .unionByName(sameas_triples(canon))
    )
    bnode_part = rewritten.filter(F.col("subj").startswith("_:"))
    rest = (
        rewritten.filter(~F.col("subj").startswith("_:"))
        .dropDuplicates(TRIPLE_COLS)
    )
    # computed once: the count fills the cache both table writes read
    final = bnode_part.unionByName(rest).unionByName(labels).persist()
    try:
        n_final = final.count()
        write_triple_table(final, os.path.join(out_dir, "triples"),
                           buckets=table_buckets)
        write_adjacency_table(final, os.path.join(out_dir, "adjacency"),
                              buckets=table_buckets)
    finally:
        final.unpersist()
    return {
        "run_id": run_id,
        "buckets_processed": processed,
        "buckets_skipped": n_buckets - processed,
        "buckets_dropped": len(stale),
        "final_triples": n_final,
    }
