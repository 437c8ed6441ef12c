"""Streaming KG construction: transcripts arrive as a stream (file /
Kafka / rate source), mentions and triples are emitted incrementally,
and mention rates are aggregated in event-time windows with late-data
watermarks.

The reference is fully batch (SURVEY.md §2.5: no streaming ops) — this
module is the engine's forward-looking ingestion path: the same
extraction semantics as ``kg.extract``, phrased so every transformation
is streaming-legal (narrow projections + one watermarked windowed
aggregation; no multi-pass joins, no global sorts).

Mention detection here is a scalar pandas UDF (Arrow-batched) returning
an array of mention structs that we explode — unlike the batch path's
``mapInPandas`` this needs no repartitioning, so micro-batches stay
narrow end-to-end until the windowed aggregation's shuffle.

Scale: the stateful windowed agg is keyed (window, surface_key) — state
size is bounded by (windows-in-watermark x distinct surfaces); the
watermark bounds how long state lives.  Checkpointing is Spark's own
streaming checkpoint (exactly-once file sinks).
"""

from __future__ import annotations

from typing import Optional

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..sources.transcripts import TRANSCRIPT_SCHEMA

MENTION_STRUCT = StructType([
    StructField("start", IntegerType(), False),
    StructField("end", IntegerType(), False),
    StructField("surface", StringType(), False),
    StructField("surface_key", StringType(), False),
])


def _make_extract_udf(aliases=None):
    from ..kg.extract import _compile_matcher, normalize_surface

    if aliases is None:
        from ..sources.transcripts import GAZETTEER

        aliases = [a for names in GAZETTEER.values() for a in names]
    matcher = _compile_matcher(aliases)

    @F.pandas_udf(ArrayType(MENTION_STRUCT))
    def extract(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            found = []
            if text:
                for m in matcher.finditer(text):
                    found.append((m.start(), m.end(), m.group(0),
                                  normalize_surface(m.group(0))))
            out.append(found)
        return pd.Series(out)

    return extract


def read_transcript_stream(spark: SparkSession, path: str,
                           max_files_per_trigger: Optional[int] = None) -> DataFrame:
    """File-source stream of transcript parquet drops (the sandbox stand-in
    for a Kafka/Iceberg CDC source — swap ``format``/options only)."""
    reader = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA).format("parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def stream_mentions(transcripts: DataFrame, aliases=None) -> DataFrame:
    """Streaming mention extraction: narrow (projection + explode), so it
    composes with any downstream streaming sink/agg."""
    extract = _make_extract_udf(aliases)
    return (
        transcripts
        .withColumn("mention", F.explode(extract(F.col("text"))))
        .select(
            "conv_id", "turn_idx", "ts",
            F.col("mention.start").alias("start"),
            F.col("mention.end").alias("end"),
            F.col("mention.surface").alias("surface"),
            F.col("mention.surface_key").alias("surface_key"))
    )


def mention_rate(mentions: DataFrame, window: str = "5 minutes",
                 watermark: str = "10 minutes") -> DataFrame:
    """Watermarked event-time windowed mention counts per surface.

    Late rows beyond the watermark are dropped (state stays bounded).
    ``n_convs`` is EXACT distinct conversations via ``collect_set`` state
    (deterministic and oracle-reproducible; state is bounded by distinct
    convs per window x surface — swap for ``approx_count_distinct`` when
    that product outgrows executor memory).

    Output-mode semantics: in append mode a window only emits once the
    watermark passes its END, and the watermark never exceeds max event
    time — so the final window of a bounded input never emits.  Drain
    bounded inputs with :func:`run_to_parquet_complete` (foreachBatch
    complete mode) when the tail window matters."""
    return (
        mentions
        .withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window), F.col("surface_key"))
        .agg(F.count("*").alias("n_mentions"),
             F.size(F.collect_set("conv_id")).alias("n_convs"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "surface_key", "n_mentions", "n_convs")
    )


def stream_triples(mentions: DataFrame) -> DataFrame:
    """Streaming triple emission — same fan-out expressions as the batch
    path (kg.extract.mention_triples), reused verbatim: the logical plan
    is identical, Spark just runs it incrementally."""
    from ..kg.extract import mention_triples

    return mention_triples(
        mentions.withColumn("score", F.lit(0.0)))


STATEFUL_SCORE_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("start", IntegerType(), False),
    StructField("surface", StringType(), False),
    StructField("surface_key", StringType(), False),
    StructField("score", StringType(), False),  # formatted like the batch path
])

# state = parallel arrays (key, support-count) per conversation
STATE_SCHEMA = StructType([
    StructField("keys", StringType(), False),    # \x1f-joined
    StructField("counts", StringType(), False),  # \x1f-joined ints
])


def await_drain(query, timeout_sec: int = 300, idle_triggers: int = 2,
                poll_sec: float = 0.5) -> None:
    """Drain-then-stop for stateful availableNow queries.

    A query holding state with a PROCESSING-TIME timeout never
    self-terminates under ``trigger(availableNow=True)``: the timeout
    clock keeps scheduling micro-batches to check for expired state, so
    ``awaitTermination`` blocks until its own deadline.  This helper
    watches the progress feed and stops the query once ``idle_triggers``
    consecutive triggers processed zero input rows — at that point the
    backlog is fully drained and every output row is committed."""
    import time as _time

    deadline = _time.time() + timeout_sec
    while _time.time() < deadline:
        if not query.isActive:
            return
        progresses = query.recentProgress
        if len(progresses) >= idle_triggers and all(
                p["numInputRows"] == 0
                for p in progresses[-idle_triggers:]):
            break
        _time.sleep(poll_sec)
    query.stop()
    query.awaitTermination(60)


def stateful_mention_scores(mentions: DataFrame,
                            state_ttl_minutes: Optional[int] = 60) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    entity-link scores with per-conversation support counts carried
    ACROSS micro-batches.

    Batch-path parity: score = len(surface_key) + number of previously
    seen mentions of the same key in the conversation (kg/extract.py) —
    here 'previously seen' includes earlier micro-batches, which the
    stateless batch scorer cannot know.  State per key is two joined
    strings (bounded by distinct surfaces per conversation); expired via
    processing-time timeout so long-dead conversations don't accumulate
    (the watermark analog for arbitrary state).  ``state_ttl_minutes=None``
    disables the timeout — required for clean self-termination under
    ``availableNow`` drains (a live timeout clock keeps the query
    triggering; see :func:`await_drain`)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def score(key, pdfs, state):
        conv_id = key[0]
        if state_ttl_minutes is not None and state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            keys_s, counts_s = state.get
            support = dict(zip(
                keys_s.split("\x1f"),
                (int(c) for c in counts_s.split("\x1f")))) if keys_s else {}
        else:
            support = {}
        out = {k: [] for k in ("conv_id", "turn_idx", "start", "surface",
                               "surface_key", "score")}
        rows = []
        for pdf in pdfs:
            rows.append(pdf)
        if rows:
            batch = pd.concat(rows).sort_values(
                ["turn_idx", "start"], kind="mergesort")
            for turn_idx, start, surface, skey in zip(
                    batch["turn_idx"], batch["start"], batch["surface"],
                    batch["surface_key"]):
                seen = support.get(skey, 0)
                out["conv_id"].append(conv_id)
                out["turn_idx"].append(int(turn_idx))
                out["start"].append(int(start))
                out["surface"].append(surface)
                out["surface_key"].append(skey)
                # format(",.1f") == Spark's format_number(x, 1): comma
                # grouping at >=1000, so scores stay byte-identical to the
                # batch path (kg/extract.py emits format_number) even for
                # surfaces mentioned 1000+ times in one conversation
                out["score"].append(format(float(len(skey)) + seen, ",.1f"))
                support[skey] = seen + 1
        state.update((
            "\x1f".join(support.keys()),
            "\x1f".join(str(c) for c in support.values())))
        if state_ttl_minutes is not None:
            state.setTimeoutDuration(state_ttl_minutes * 60 * 1000)
        yield pd.DataFrame(out)

    timeout_conf = (
        GroupStateTimeout.NoTimeout if state_ttl_minutes is None
        else GroupStateTimeout.ProcessingTimeTimeout)
    return (
        mentions.groupBy("conv_id")
        .applyInPandasWithState(
            score,
            outputStructType=STATEFUL_SCORE_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout_conf)
    )


def run_to_parquet_complete(stream: DataFrame, out_path: str,
                            checkpoint: str):
    """Drain an AGGREGATED stream to parquet in complete output mode via
    ``foreachBatch`` (the parquet sink itself is append-only): every
    trigger overwrites the output with the full current aggregation
    state, so after an ``availableNow`` drain the output contains every
    window INCLUDING the final one that append mode would hold back
    behind the watermark."""
    def write_batch(batch_df, _batch_id):
        batch_df.write.mode("overwrite").parquet(out_path)

    return (
        stream.writeStream
        .outputMode("complete")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_merge_to_triple_table(triples_stream: DataFrame, table_path: str,
                              checkpoint: str, buckets: int = 16,
                              available_now: bool = True):
    """Incremental KG maintenance: each micro-batch of streamed triples is
    MERGEd (set semantics) into a snapshot triple table
    (``kg.snapshots.snapshot_merge``) — the streaming form of
    ``Graph.addTriples``.  Read the table with
    ``kg.snapshots.read_snapshot``.

    Delivery semantics, stated precisely: ``foreachBatch`` is
    at-least-once under failure/restart (a batch whose sink completed but
    whose commit-log write didn't is re-run), and ``snapshot_merge``'s
    set-semantics dedup against surviving rows makes a replayed batch
    leave the same rowset — so the TABLE state is exactly-once even
    though the sink callback is not.  Each merge commits by one manifest
    rename: a crash before it leaves only an orphan data directory no
    reader sees, and readers never see a half-applied batch.  Superseded
    versions and orphans stay on disk until the retention call,
    ``kg.snapshots.expire_snapshots(spark, table_path)``, removes them.

    Scale shape: a micro-batch touches only the ``subj_bucket``
    partitions its own delta hashes into — the merge reads and rewrites
    only those, so a trickle of updates against a 100-TB table costs
    O(delta buckets), not O(table).  The first batch creates the table
    (``snapshot_create`` with ``buckets``); later merges take the bucket
    count from the manifest, as with an Iceberg ``bucket(N, subj)``
    partition spec."""
    from ..kg.materialize import TRIPLE_COLS
    from ..kg.snapshots import (
        _fs,
        _manifest_versions,
        snapshot_create,
        snapshot_merge,
    )

    def merge_batch(batch_df, _batch_id):
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        delta = batch_df.select(*TRIPLE_COLS)
        # the table exists once a manifest does (a listing, not a read
        # of every manifest: the stream commits one version per batch)
        if _manifest_versions(*_fs(spark, table_path), table_path):
            snapshot_merge(spark, table_path, adds=delta)
        else:
            snapshot_create(spark, delta.dropDuplicates(TRIPLE_COLS),
                            table_path, buckets=buckets)

    writer = (
        triples_stream.writeStream
        .outputMode("append")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_to_parquet(stream: DataFrame, out_path: str, checkpoint: str,
                   available_now: bool = True):
    """Materialize a stream to exactly-once parquet with checkpointing.
    ``available_now`` drains the current backlog then stops (test/batch
    drain mode); otherwise runs continuously."""
    writer = (
        stream.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
