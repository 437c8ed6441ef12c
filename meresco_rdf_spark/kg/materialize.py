"""Output materialization: subject-partitioned triple + adjacency tables.

North_star step (d).  Layout decisions, stated for the 100 TB case:

- **triple table**: parquet (Iceberg layout-compatible; the catalog jar is
  not in this sandbox, so we implement the same physical design —
  ``subj_bucket = pmod(xxhash64(subj), N)`` as a partition column — which
  is exactly what an Iceberg ``bucket(N, subj)`` partition transform
  computes).  Subject point-lookups prune to 1/N of the files; rows are
  sorted within partitions by ``(subj_bucket, *TRIPLE_SORT)`` so parquet
  row-group min/max stats prune within files too.  The leading
  ``subj_bucket`` is what makes that order hold in the files: the
  partitioned write requires its rows ordered by the partition column,
  and a sort that does not start with it is replaced by the writer's own
  sort on ``subj_bucket`` alone.
- **adjacency table**: one row per subject with a sorted array of
  (pred, obj_value, obj_kind, obj_lang) structs — the "gather the
  resource description" access path the reference serializer walks
  (triples2rdfxml.py:79-104) without an N-way shuffle per query.  Its
  write takes one exchange: the rows are hash-partitioned on
  ``subj_bucket`` first, and that partitioning already satisfies the
  aggregation keyed ``(subj_bucket, subj)``.
- both writes flow through ``bucketed`` partitioning; re-running a bucket
  overwrites only that bucket (dynamic partition overwrite), which is what
  makes the checkpoint/resume unit a bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TRIPLE_SORT = ["subj", "pred", "obj_value", "obj_kind", "obj_lang"]


def with_subj_bucket(triples: DataFrame, buckets: int = 64) -> DataFrame:
    """Add the Iceberg-style bucket partition column."""
    return triples.withColumn(
        "subj_bucket", F.pmod(F.xxhash64(F.col("subj")), F.lit(buckets)).cast("int"))


def write_triple_table(triples: DataFrame, path: str, buckets: int = 64,
                       mode: str = "overwrite") -> None:
    """Subject-bucketed, within-partition-sorted triple table."""
    (
        with_subj_bucket(triples, buckets)
        .repartition(buckets, "subj_bucket")
        .sortWithinPartitions("subj_bucket", *TRIPLE_SORT)
        .write.mode(mode)
        .partitionBy("subj_bucket")
        .parquet(path)
    )


def adjacency(triples: DataFrame, keys: tuple = ("subj",)) -> DataFrame:
    """Per-subject adjacency: sorted struct array + degree.

    One hash-agg keyed ``keys`` (partial map-side combine; the sort is
    per-array, executed inside the agg output projection).  ``keys``
    must end in ``subj`` and may only add columns that are functions of
    it: :func:`adjacency_rows` groups by ``(subj_bucket, subj)`` so the
    aggregation reuses the write's partitioning.

    HUB BOUND: ``collect_list`` materializes one array row per subject,
    so a degree-d hub builds a d-element array in a single task's agg
    buffer — unbounded row size.  This is the right table only when a
    max-degree invariant holds upstream; for unbounded-degree corpora
    write :func:`adjacency_chunked` (full fidelity, bounded rows) or
    :func:`adjacency_topk` (bounded truncation) instead."""
    edge = F.struct(
        F.col("pred"), F.col("obj_value"), F.col("obj_kind"), F.col("obj_lang"))
    return (
        triples.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(edge)).alias("edges"))
        .withColumn("degree", F.size(F.col("edges")))
    )


def adjacency_chunked(triples: DataFrame,
                      chunk_size: int = 1024) -> DataFrame:
    """Full-fidelity adjacency with BOUNDED rows: every subject's edges
    in sorted (pred, obj) order, split into ``chunk_size``-element array
    chunks ``(subj, chunk_id, edges, n_edges, degree)``.  Reconstructing
    the resource description = read the subject's chunks in chunk_id
    order (they land in the same subj_bucket partition, adjacent under
    the write sort).

    Why this survives hubs when :func:`adjacency` cannot: the chunk
    index comes from ``row_number`` over a subj-keyed window — a
    STREAMING window function backed by a spillable external sort, so a
    million-edge hub costs disk, never a million-element agg buffer —
    and the per-(subj, chunk_id) ``collect_list`` is bounded by
    ``chunk_size``.  One exchange total: the chunk aggregation and the
    degree window both reuse the row_number window's subj partitioning
    (subj ⊆ every later key set)."""
    if chunk_size <= 0:
        raise ValueError("chunk_size must be positive")
    from pyspark.sql import Window

    edge = F.struct(
        F.col("pred"), F.col("obj_value"), F.col("obj_kind"), F.col("obj_lang"))
    w = Window.partitionBy("subj").orderBy(
        "pred", "obj_value", "obj_kind", "obj_lang")
    chunked = (
        triples
        .withColumn("_idx", (F.row_number().over(w) - 1).cast("long"))
        .withColumn("chunk_id",
                    F.expr("_idx div %d" % chunk_size).cast("int"))
        .groupBy("subj", "chunk_id")
        .agg(F.sort_array(F.collect_list(edge)).alias("edges"),
             F.count("*").alias("n_edges"))
    )
    w_deg = Window.partitionBy("subj")
    return chunked.withColumn("degree", F.sum("n_edges").over(w_deg))


def adjacency_topk(triples: DataFrame, k: int = 128,
                   salt_buckets: int = 16) -> DataFrame:
    """Hot-subject-safe adjacency: top-``k`` edges per subject (sorted
    (pred, obj) order) via an explicit TWO-STAGE SALTED AGGREGATION — the
    north-star skew lever for hub entities.

    ``collect_list`` has no useful partial reduction: a hub subject with
    10^8 edges funnels every edge into one reducer and one giant row.
    Stage 1 keys (subj, salt) — the hub's edges reduce in parallel into
    ``salt_buckets`` arrays each truncated to k; stage 2 merges those
    bounded arrays and truncates again.  Shuffle volume and output row
    size are O(k x salt_buckets) per subject regardless of true degree;
    ``degree`` still reports the exact edge count."""
    edge = F.struct(
        F.col("pred"), F.col("obj_value"), F.col("obj_kind"), F.col("obj_lang"))
    salted = triples.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col("pred"), F.col("obj_value")),
               F.lit(salt_buckets)))
    partial = salted.groupBy("subj", "_salt").agg(
        F.slice(F.sort_array(F.collect_list(edge)), 1, k).alias("edges"),
        F.count("*").alias("n"))
    return partial.groupBy("subj").agg(
        F.slice(F.sort_array(F.flatten(F.collect_list("edges"))), 1, k)
        .alias("edges"),
        F.sum("n").alias("degree"))


def adjacency_rows(triples: DataFrame, buckets: int = 64,
                   chunk_size: int | None = None) -> DataFrame:
    """The rows :func:`write_adjacency_table` writes, partitioned and
    sorted for the bucketed write — shared with the plan audit
    (``tools/explain_audit.py``) so the asserted plan IS the shipped one.

    ``chunk_size=None`` is the one-row-per-subject table, in one
    exchange: the hash partitioning on ``subj_bucket`` satisfies the
    aggregation keyed ``(subj_bucket, subj)``, so the aggregation adds
    no exchange of its own.  A ``subj_bucket`` column already on
    ``triples`` (a read-back triple table) is recomputed for
    ``buckets``."""
    if chunk_size is None:
        return (
            adjacency(with_subj_bucket(triples, buckets)
                      .repartition(buckets, "subj_bucket"),
                      keys=("subj_bucket", "subj"))
            .sortWithinPartitions("subj_bucket", "subj")
        )
    return (
        with_subj_bucket(adjacency_chunked(triples, chunk_size), buckets)
        .repartition(buckets, "subj_bucket")
        .sortWithinPartitions("subj_bucket", "subj", "chunk_id")
    )


def write_adjacency_table(triples: DataFrame, path: str, buckets: int = 64,
                          mode: str = "overwrite",
                          chunk_size: int | None = None) -> None:
    """``chunk_size=None`` writes the one-row-per-subject table (requires
    a bounded-degree corpus — see :func:`adjacency`); setting it writes
    the hub-safe chunked layout, sorted (subj, chunk_id) within buckets."""
    (
        adjacency_rows(triples, buckets, chunk_size)
        .write.mode(mode)
        .partitionBy("subj_bucket")
        .parquet(path)
    )


TRIPLE_COLS = ["subj", "pred", "obj_value", "obj_kind", "obj_lang"]


def fused_bucket_dedup(merged: DataFrame, n_parts: int) -> DataFrame:
    """Set-semantics dedup FUSED into the bucketed-write layout, one
    exchange total: the write already hash-partitions on ``subj_bucket``
    and sorts by the triple columns, and subj_bucket is a function of
    subj — so after that (mandatory) exchange + sort, duplicate rows are
    adjacent within a partition, and a lag over the SAME partitioning/
    ordering dedups with no exchange of its own (Catalyst elides both
    the window's exchange and the pre-write sort).  A ``dropDuplicates``
    would instead add a second full-width shuffle of every surviving row
    (measured 1.82x wall, BENCH/BASELINE.md).  The lag key is the raw
    5-column STRUCT compared with ``eqNullSafe`` — injective by
    construction (no string-encoding of NULLs that a hostile obj_value
    could collide with).

    Called by ``snapshots._merge_rows``: the plan ``snapshot_merge``
    writes and the plan audit (``tools/explain_audit.py``) asserts."""
    from pyspark.sql import Window

    key = F.struct(*[F.col(c) for c in TRIPLE_COLS])
    w = Window.partitionBy("subj_bucket").orderBy(*TRIPLE_SORT)
    return (
        merged.repartition(n_parts, "subj_bucket")
        .withColumn("_prev", F.lag(key).over(w))
        .filter(~key.eqNullSafe(F.col("_prev")))
        .drop("_prev")
    )


def edge_cut_stats(triples: DataFrame,
                   bucket_col: str = "subj_bucket") -> DataFrame:
    """Locality diagnostic for a bucketed triple table: of the
    uri-object edges whose object also appears as a subject (the edges
    a traversal or self-join actually follows), how many cross a
    bucket boundary — i.e. the shuffle a subject-co-located plan pays
    per hop.  Returns one row
    ``(n_edges, cut_edges, cut_ppm)`` with the ratio in exact
    parts-per-million (BIGINT, no float).

    Operational use: compare layouts (hash vs domain-aware bucketing)
    and justify ``assume_conv_partitioned``-style elisions with a
    number instead of a hope.  Plan: one dedup of the (subj, bucket)
    projection (bucket is functional on subj), one obj-keyed join of
    the uri-edge slice, one global aggregate — no corpus-sized
    broadcast.
    """
    subj_b = (triples.select("subj", bucket_col)
              .dropDuplicates(["subj"])
              .select(F.col("subj").alias("o_subj"),
                      F.col(bucket_col).alias("o_bucket")))
    edges = (triples.filter(F.col("obj_kind") == "uri")
             .select(F.col(bucket_col).alias("s_bucket"), "obj_value"))
    joined = edges.join(subj_b, edges["obj_value"] == subj_b["o_subj"])
    # Empty-corpus guard: sum() over zero rows is NULL and the ppm ratio
    # would divide by zero — a diagnostic must return defined zeros, not
    # a row of NULLs.
    return joined.agg(
        F.count("*").alias("n_edges"),
        F.coalesce(
            F.sum((F.col("s_bucket") != F.col("o_bucket")).cast("long")),
            F.lit(0).cast("long"))
        .alias("cut_edges")).select(
        "n_edges", "cut_edges",
        F.when(F.col("n_edges") > 0,
               F.expr("cut_edges * 1000000 div n_edges"))
        .otherwise(F.lit(0).cast("long")).alias("cut_ppm"))
