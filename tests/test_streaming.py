"""Structured Streaming tests: file-source ingest, incremental mention
extraction, watermarked windowed aggregation, exactly-once parquet sink."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from meresco_rdf_spark.kg.snapshots import (
    expire_snapshots,
    read_snapshot,
    snapshot_versions,
)
from meresco_rdf_spark.sources.transcripts import synthesize_transcripts
from meresco_rdf_spark.streaming.transcript_stream import (
    mention_rate,
    read_transcript_stream,
    run_to_parquet,
    stream_mentions,
    stream_triples,
)


def test_read_if_exists_probes_without_reading(spark, tmp_path):
    from meresco_rdf_spark.streaming import TRIPLE_DDL, read_if_exists

    table = tmp_path / "table"
    assert read_if_exists(spark, str(table), TRIPLE_DDL) is None
    # a first write that committed no file: empty, with the given schema
    (table / "_temporary" / "0").mkdir(parents=True)
    empty = read_if_exists(spark, str(table), TRIPLE_DDL + ", batch int")
    assert empty.count() == 0
    assert empty.columns == ["subj", "pred", "obj_value", "obj_kind",
                             "obj_lang", "batch"]


def _write_input(spark, tmp_path, n_convs=20):
    path = str(tmp_path / "in")
    synthesize_transcripts(spark, n_convs, 5).write.parquet(path)
    return path


class TestTranscriptStream:
    def test_stream_mentions_matches_batch(self, spark, tmp_path):
        path = _write_input(spark, tmp_path)
        stream = read_transcript_stream(spark, path)
        assert stream.isStreaming
        out = str(tmp_path / "mentions")
        q = run_to_parquet(stream_mentions(stream), out,
                           str(tmp_path / "ckpt1"))
        q.awaitTermination(120)
        got = {(r.conv_id, r.turn_idx, r.start, r.surface)
               for r in spark.read.parquet(out).collect()}

        from meresco_rdf_spark.kg.extract import detect_mentions

        expected = {(r.conv_id, r.turn_idx, r.start, r.surface)
                    for r in detect_mentions(spark.read.parquet(path)).collect()}
        assert got == expected and len(got) > 0

    def test_mention_rate_windows(self, spark, tmp_path):
        path = _write_input(spark, tmp_path)
        stream = read_transcript_stream(spark, path)
        out = str(tmp_path / "rates")
        q = run_to_parquet(
            mention_rate(stream_mentions(stream), window="1 hour",
                         watermark="0 seconds"),
            out, str(tmp_path / "ckpt2"))
        q.awaitTermination(120)
        rates = spark.read.parquet(out)
        row = rates.orderBy(F.desc("n_mentions")).first()
        assert row.n_mentions >= 1
        assert row.window_end > row.window_start
        # windows align to the hour
        assert row.window_start.minute == 0 and row.window_start.second == 0

    def test_stream_triples_schema(self, spark, tmp_path):
        path = _write_input(spark, tmp_path)
        stream = read_transcript_stream(spark, path)
        out = str(tmp_path / "triples")
        q = run_to_parquet(stream_triples(stream_mentions(stream)), out,
                           str(tmp_path / "ckpt3"))
        q.awaitTermination(120)
        triples = spark.read.parquet(out)
        assert triples.columns == ["subj", "pred", "obj_value", "obj_kind",
                                   "obj_lang"]
        assert triples.count() > 0

    def test_stateful_scores_carry_support_across_microbatches(
            self, spark, tmp_path):
        from meresco_rdf_spark.streaming.transcript_stream import (
            stateful_mention_scores,
        )

        path = str(tmp_path / "sin")
        schema = ("conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp")
        # two files -> two micro-batches (maxFilesPerTrigger=1): the same
        # conversation mentions the same entity in both
        spark.createDataFrame(
            [("c1", 0, "user", "Marie Curie wrote.", None, None)],
            schema).coalesce(1).write.parquet(path)
        spark.createDataFrame(
            [("c1", 1, "user", "Then Marie Curie spoke.", None, None)],
            schema).coalesce(1).write.mode("append").parquet(path)
        stream = read_transcript_stream(spark, path, max_files_per_trigger=1)
        out = str(tmp_path / "scored")
        from meresco_rdf_spark.streaming.transcript_stream import await_drain

        q = run_to_parquet(
            stateful_mention_scores(stream_mentions(stream)),
            out, str(tmp_path / "ckpt_s"))
        # TTL mode never self-terminates under availableNow (the timeout
        # clock keeps triggering) — drain until idle, then stop
        await_drain(q, timeout_sec=150)
        rows = {(r.turn_idx, r.score)
                for r in spark.read.parquet(out).collect()}
        base = float(len("marie curie"))
        # one turn saw no prior support, the other saw exactly one —
        # regardless of micro-batch arrival order
        assert rows == {(0, "%.1f" % base), (1, "%.1f" % (base + 1))} or \
            rows == {(0, "%.1f" % (base + 1)), (1, "%.1f" % base)}

    def test_stateful_scores_format_matches_batch_above_1000(
            self, spark, tmp_path):
        """format_number(x, 1) groups thousands ("1,001.0"); the stateful
        streaming scorer must emit byte-identical strings once support
        pushes a score past 1000."""
        from meresco_rdf_spark.streaming.transcript_stream import (
            await_drain,
            stateful_mention_scores,
        )

        path = str(tmp_path / "bigin")
        schema = ("conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp")
        text = " and ".join(["Marie Curie"] * 991)
        spark.createDataFrame(
            [("c1", 0, "user", text, None, None)],
            schema).coalesce(1).write.parquet(path)
        stream = read_transcript_stream(spark, path)
        out = str(tmp_path / "bigscored")
        q = run_to_parquet(
            stateful_mention_scores(stream_mentions(stream)),
            out, str(tmp_path / "ckpt_big"))
        await_drain(q, timeout_sec=150)
        scores = {r.score for r in spark.read.parquet(out).collect()}
        base = len("marie curie")  # 11
        assert format(float(base + 990), ",.1f") == "1,001.0"
        assert "1,001.0" in scores  # comma-grouped like the batch path
        assert "%.1f" % base in scores  # first mention unchanged

    def test_incremental_second_batch_only_processes_new_files(
            self, spark, tmp_path):
        path = _write_input(spark, tmp_path, n_convs=10)
        out = str(tmp_path / "m2")
        ckpt = str(tmp_path / "ckpt4")
        stream = read_transcript_stream(spark, path)
        q = run_to_parquet(stream_mentions(stream), out, ckpt)
        q.awaitTermination(120)
        n1 = spark.read.parquet(out).count()
        # drop more files into the source dir -> only the delta is processed
        synthesize_transcripts(spark, 10, 5).withColumn(
            "conv_id", F.concat(F.lit("x-"), F.col("conv_id"))
        ).write.mode("append").parquet(path)
        q2 = run_to_parquet(
            stream_mentions(read_transcript_stream(spark, path)), out, ckpt)
        q2.awaitTermination(120)
        n2 = spark.read.parquet(out).count()
        assert n2 == 2 * n1  # same synthetic content, prefixed conv ids


def test_complete_drain_includes_tail_window(spark, tmp_path):
    """Append mode + watermark never emits the final window of a bounded
    input (the watermark can't pass it); the complete-mode foreachBatch
    drain must include it."""
    from meresco_rdf_spark.streaming.transcript_stream import (
        mention_rate,
        read_transcript_stream,
        run_to_parquet,
        run_to_parquet_complete,
        stream_mentions,
    )

    path = _write_input(spark, tmp_path, n_convs=6)
    max_ts = spark.read.parquet(path).agg(F.max("ts")).collect()[0][0]

    def windows(out, ckpt, runner):
        q = runner(
            mention_rate(stream_mentions(read_transcript_stream(spark, path)),
                         window="1 hour", watermark="0 seconds"),
            str(tmp_path / out), str(tmp_path / ckpt))
        q.awaitTermination(120)
        return spark.read.parquet(str(tmp_path / out))

    complete = windows("complete", "ckpt_c", run_to_parquet_complete)
    appended = windows("append", "ckpt_a", run_to_parquet)
    # the window containing the max event time only shows up in complete
    assert complete.filter(
        (F.col("window_start") <= max_ts) & (F.col("window_end") > max_ts)
    ).count() > 0
    assert appended.filter(
        (F.col("window_start") <= max_ts) & (F.col("window_end") > max_ts)
    ).count() == 0
    # and complete is a superset of append
    assert complete.count() > appended.count()
    # n_convs is exact (collect_set), bounded by the input conversations
    assert complete.agg(F.max("n_convs")).collect()[0][0] <= 6


class TestDocStreamDedup:
    def test_stream_exact_dedup_matches_batch_clusters(self, spark, tmp_path):
        # forced multi-micro-batch (one input file per trigger): the
        # surviving fingerprint SET must equal the batch operator's, and
        # exactly one doc survives per fingerprint even when its
        # duplicates arrive in different micro-batches
        from meresco_rdf_spark.sources.synth_docs import synthesize_documents
        from meresco_rdf_spark.streaming.doc_stream import (
            read_document_stream,
            stream_exact_dedup,
        )
        from meresco_rdf_spark.textops.dedup import exact_dedup

        docs = synthesize_documents(spark, 400).withColumn(
            "lang", F.lit("en")).withColumn("source", F.lit("synth")) \
            .withColumn("n_chars", F.length("text"))
        in_path = str(tmp_path / "docs_in")
        # 4 shards written as separate files -> 4 micro-batches; dup
        # groups span 10 consecutive ids, so shard boundaries split them
        docs.repartition(4, "doc_id").write.parquet(in_path)
        out = str(tmp_path / "docs_out")
        q = run_to_parquet(
            stream_exact_dedup(read_document_stream(
                spark, in_path, max_files_per_trigger=1)),
            out, str(tmp_path / "docs_ckpt"))
        q.awaitTermination(300)

        kept = spark.read.parquet(out)
        batch = exact_dedup(docs).filter("keep")
        # same surviving-fingerprint set as the batch decision
        assert {r.fp for r in kept.select("fp").collect()} == \
            {r.fp for r in batch.select("fp").collect()}
        # exactly one survivor per fingerprint
        assert kept.groupBy("fp").count().filter("count > 1").count() == 0
        # every survivor's text really carries its fingerprint
        from meresco_rdf_spark.textops.textstats import fingerprint as fp_fn
        assert kept.filter(fp_fn(F.col("text")) != F.col("fp")).count() == 0


class TestStreamMergeTripleTable:
    """Incremental KG maintenance: micro-batches MERGEd into the snapshot
    triple table (streaming Graph.addTriples against the O1 scale layout,
    reference graph.py:45-51 set semantics)."""

    def _slices(self, spark, tmp_path, n_convs=12, n_turns=6):
        # one file per turn pair -> forced multi-micro-batch under
        # maxFilesPerTrigger=1
        import os

        in_dir = str(tmp_path / "in")
        os.makedirs(in_dir)
        t = synthesize_transcripts(spark, n_convs, n_turns)
        for i in range(0, n_turns, 2):
            part = str(tmp_path / ("part%d" % i))
            t.filter(F.col("turn_idx").between(i, i + 1)) \
                .coalesce(1).write.parquet(part)
            src = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
            dst = os.path.join(in_dir, "slice_%d.parquet" % i)
            os.rename(os.path.join(part, src), dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        return t, in_dir

    def test_merged_table_equals_batch_fanout(self, spark, tmp_path):
        from meresco_rdf_spark.kg.extract import detect_mentions, mention_triples
        from meresco_rdf_spark.kg.materialize import TRIPLE_COLS
        from meresco_rdf_spark.streaming.transcript_stream import (
            run_merge_to_triple_table,
        )

        t, in_dir = self._slices(spark, tmp_path)
        table = str(tmp_path / "table")
        q = run_merge_to_triple_table(
            stream_triples(stream_mentions(
                read_transcript_stream(spark, in_dir,
                                       max_files_per_trigger=1))),
            table, str(tmp_path / "ckpt"), buckets=4)
        q.awaitTermination(300)

        got = {tuple(r) for r in read_snapshot(spark, table)
               .select(*TRIPLE_COLS).collect()}
        # batch twin: stateless fan-out (score pinned like stream_triples),
        # set semantics
        batch = mention_triples(
            detect_mentions(t).withColumn("score", F.lit(0.0))
        ).dropDuplicates(TRIPLE_COLS)
        want = {tuple(r) for r in batch.select(*TRIPLE_COLS).collect()}
        assert got == want
        # snapshot layout on disk: one manifest per micro-batch, each
        # bucket of the current one a subj_bucket dir under data/snap=
        versions = snapshot_versions(spark, table)
        assert len(versions) > 1
        current = versions[-1]
        assert current["n_buckets"] == 4
        assert current["total_rows"] == len(want)
        for rel in current["buckets"].values():
            assert rel.startswith("data/snap=") and "/subj_bucket=" in rel
            assert os.path.isdir(os.path.join(table, rel))

    def test_replayed_stream_is_noop(self, spark, tmp_path):
        # at-least-once foreachBatch + idempotent set-semantics MERGE =
        # exactly-once table state: re-running the WHOLE stream with a
        # fresh checkpoint (max-scale replay) leaves the table unchanged
        from meresco_rdf_spark.kg.materialize import TRIPLE_COLS
        from meresco_rdf_spark.streaming.transcript_stream import (
            run_merge_to_triple_table,
        )

        _, in_dir = self._slices(spark, tmp_path, n_convs=6, n_turns=4)
        table = str(tmp_path / "table")

        def run(ckpt):
            q = run_merge_to_triple_table(
                stream_triples(stream_mentions(
                    read_transcript_stream(spark, in_dir,
                                           max_files_per_trigger=1))),
                table, str(tmp_path / ckpt), buckets=4)
            q.awaitTermination(300)
            return {tuple(r) for r in read_snapshot(spark, table)
                    .select(*TRIPLE_COLS).collect()}

        first = run("ckpt1")
        second = run("ckpt2")  # fresh checkpoint: every batch replays
        assert second == first

    def test_restart_same_checkpoint_processes_only_new_files(
            self, spark, tmp_path):
        # deployment shape: drain, new transcript files arrive, restart
        # with the SAME checkpoint — the file source skips committed
        # files, the merge folds only the new ones in, and the table
        # equals the batch fan-out over everything seen so far
        import os

        from meresco_rdf_spark.kg.extract import detect_mentions, mention_triples
        from meresco_rdf_spark.kg.materialize import TRIPLE_COLS
        from meresco_rdf_spark.streaming.transcript_stream import (
            run_merge_to_triple_table,
        )

        in_dir = str(tmp_path / "in")
        os.makedirs(in_dir)
        t1 = synthesize_transcripts(spark, 6, 4)
        t1.coalesce(1).write.parquet(str(tmp_path / "p1"))
        src = [f for f in os.listdir(str(tmp_path / "p1"))
               if f.endswith(".parquet")][0]
        os.rename(os.path.join(str(tmp_path / "p1"), src),
                  os.path.join(in_dir, "drop_1.parquet"))

        table = str(tmp_path / "table")
        ckpt = str(tmp_path / "ckpt")

        def drain():
            q = run_merge_to_triple_table(
                stream_triples(stream_mentions(
                    read_transcript_stream(spark, in_dir))),
                table, ckpt, buckets=4)
            q.awaitTermination(300)

        drain()
        n1 = read_snapshot(spark, table).count()

        # second drop: same synthetic content under prefixed conv ids
        t2 = synthesize_transcripts(spark, 6, 4).withColumn(
            "conv_id", F.concat(F.lit("x-"), F.col("conv_id")))
        t2.coalesce(1).write.parquet(str(tmp_path / "p2"))
        src = [f for f in os.listdir(str(tmp_path / "p2"))
               if f.endswith(".parquet")][0]
        os.rename(os.path.join(str(tmp_path / "p2"), src),
                  os.path.join(in_dir, "drop_2.parquet"))

        drain()  # restart from the same checkpoint
        got = {tuple(r) for r in read_snapshot(spark, table)
               .select(*TRIPLE_COLS).collect()}
        batch = mention_triples(
            detect_mentions(t1.unionByName(t2)).withColumn(
                "score", F.lit(0.0))).dropDuplicates(TRIPLE_COLS)
        want = {tuple(r) for r in batch.select(*TRIPLE_COLS).collect()}
        assert got == want
        assert len(got) > n1

    def test_torn_first_create_is_overwritten_on_replay(
            self, spark, tmp_path):
        # a crash mid-create leaves a data/snap= directory with NO
        # manifest: no reader sees it, the replayed first batch commits
        # v1 without its rows, and expire_snapshots removes it
        from meresco_rdf_spark.kg.extract import detect_mentions, mention_triples
        from meresco_rdf_spark.kg.materialize import TRIPLE_COLS
        from meresco_rdf_spark.streaming.transcript_stream import (
            run_merge_to_triple_table,
        )

        t, in_dir = self._slices(spark, tmp_path, n_convs=6, n_turns=4)
        table = str(tmp_path / "table")
        orphan = os.path.join(table, "data", "snap=1-torn")
        spark.createDataFrame(
            [("torn", "torn", "torn", "literal", None, 0)],
            "subj string, pred string, obj_value string, obj_kind string,"
            " obj_lang string, subj_bucket int",
        ).write.partitionBy("subj_bucket").parquet(orphan)

        q = run_merge_to_triple_table(
            stream_triples(stream_mentions(
                read_transcript_stream(spark, in_dir,
                                       max_files_per_trigger=1))),
            table, str(tmp_path / "ckpt"), buckets=4)
        q.awaitTermination(300)
        got = {tuple(r) for r in read_snapshot(spark, table)
               .select(*TRIPLE_COLS).collect()}
        assert ("torn", "torn", "torn", "literal", None) not in got
        batch = mention_triples(
            detect_mentions(t).withColumn("score", F.lit(0.0))
        ).dropDuplicates(TRIPLE_COLS)
        assert got == {tuple(r) for r in batch.select(*TRIPLE_COLS).collect()}
        assert "data/snap=1-torn" in expire_snapshots(
            spark, table)["removed_dirs"]
        assert not os.path.exists(orphan)


class TestQuadStream:
    QUADS = [
        (None, "urn:s1", "urn:p", "default", "literal", None),
        ("urn:g:a", "urn:s2", "urn:p", "in-a", "literal", None),
        ("urn:g:a", "urn:s2", "urn:q", 'esc "x"\nnl', "literal", "nl"),
        ("urn:g:b", "_:b0", "urn:p", "_:b1", "bnode", None),
    ]
    SCHEMA = ("context string, subj string, pred string, "
              "obj_value string, obj_kind string, obj_lang string")

    def _write_slices(self, spark, path):
        from meresco_rdf_spark.sinks import write_nquads

        quads = spark.createDataFrame(self.QUADS, self.SCHEMA)
        write_nquads(quads, path, num_files=3)

    def test_streamed_table_equals_batch_parse(self, spark, tmp_path):
        from meresco_rdf_spark.streaming.quad_stream import (
            read_nquads_stream,
            run_nquads_to_quad_table,
        )

        in_dir = str(tmp_path / "in")
        self._write_slices(spark, in_dir)
        stream = read_nquads_stream(spark, in_dir, glob="*.txt",
                                    max_files_per_trigger=1)
        assert stream.isStreaming
        table = str(tmp_path / "table")
        q = run_nquads_to_quad_table(stream, table,
                                     str(tmp_path / "ckpt"))
        q.awaitTermination(300)
        got = {tuple(r) for r in spark.read.parquet(table).collect()}
        assert got == set(map(tuple, self.QUADS))

    def test_replayed_batch_appends_nothing(self, spark, tmp_path):
        # the foreachBatch MERGE is replay-idempotent: delivering the
        # same micro-batch twice leaves the table unchanged
        from meresco_rdf_spark.streaming.quad_stream import (
            read_nquads_stream,
            run_nquads_to_quad_table,
        )

        in_dir = str(tmp_path / "in")
        self._write_slices(spark, in_dir)
        table = str(tmp_path / "table")
        q = run_nquads_to_quad_table(
            read_nquads_stream(spark, in_dir, glob="*.txt"), table,
            str(tmp_path / "ckpt1"))
        q.awaitTermination(300)
        n1 = spark.read.parquet(table).count()
        # fresh checkpoint = the whole source is re-delivered
        q = run_nquads_to_quad_table(
            read_nquads_stream(spark, in_dir, glob="*.txt"), table,
            str(tmp_path / "ckpt2"))
        q.awaitTermination(300)
        assert spark.read.parquet(table).count() == n1

    def test_first_write_that_committed_nothing_reads_empty(self, spark,
                                                            tmp_path):
        # a crash inside the first append leaves the table directory
        # with no data file; its replay must see an empty table, not
        # fail on schema inference
        from meresco_rdf_spark.streaming.quad_stream import (
            read_nquads_stream,
            run_nquads_to_quad_table,
        )

        in_dir = str(tmp_path / "in")
        self._write_slices(spark, in_dir)
        table = tmp_path / "table"
        (table / "_temporary" / "0").mkdir(parents=True)
        q = run_nquads_to_quad_table(
            read_nquads_stream(spark, in_dir, glob="*.txt"), str(table),
            str(tmp_path / "ckpt"))
        q.awaitTermination(300)
        assert q.exception() is None
        got = {tuple(r) for r in spark.read.parquet(str(table)).collect()}
        assert got == set(map(tuple, self.QUADS))


class TestQuadStreamHashes:
    """Incremental per-graph content hashes riding the quad ingest
    (run_nquads_with_graph_hashes): XOR fold distributes over the
    set-insert deltas, manifest rename is the commit."""

    def _run(self, spark, tmp_path, ckpt="ckpt", per_trigger=1):
        from meresco_rdf_spark.streaming.quad_stream import (
            read_nquads_stream,
            run_nquads_with_graph_hashes,
        )

        in_dir = str(tmp_path / "in")
        if not os.path.isdir(in_dir):
            from meresco_rdf_spark.sinks import write_nquads
            quads = spark.createDataFrame(TestQuadStream.QUADS,
                                          TestQuadStream.SCHEMA)
            write_nquads(quads, in_dir, num_files=3)
        q = run_nquads_with_graph_hashes(
            read_nquads_stream(spark, in_dir, glob="*.txt",
                               max_files_per_trigger=per_trigger),
            str(tmp_path / "table"), str(tmp_path / "hashes"),
            str(tmp_path / ckpt))
        q.awaitTermination(300)

    def _hashes(self, spark, tmp_path):
        from meresco_rdf_spark.streaming.quad_stream import read_graph_hashes
        return {r.graph: (r.n_triples, r.content_hash)
                for r in read_graph_hashes(
                    spark, str(tmp_path / "hashes")).collect()}

    def _batch_hashes(self, spark):
        from meresco_rdf_spark.kg.fingerprint import graph_content_hashes
        quads = spark.createDataFrame(TestQuadStream.QUADS,
                                      TestQuadStream.SCHEMA)
        return {r.graph: (r.n_triples, r.content_hash)
                for r in graph_content_hashes(quads).collect()}

    def test_incremental_equals_batch_fold(self, spark, tmp_path):
        self._run(spark, tmp_path)
        assert self._hashes(spark, tmp_path) == self._batch_hashes(spark)
        # quad table converged too
        got = {tuple(r) for r in spark.read.parquet(
            str(tmp_path / "table")).select(
                "context", "subj", "pred", "obj_value", "obj_kind",
                "obj_lang").collect()}
        assert got == set(map(tuple, TestQuadStream.QUADS))

    def test_replay_is_a_full_noop(self, spark, tmp_path):
        self._run(spark, tmp_path)
        before = self._hashes(spark, tmp_path)
        # fresh checkpoint = every batch re-delivered
        self._run(spark, tmp_path, ckpt="ckpt2")
        assert self._hashes(spark, tmp_path) == before

    def test_crash_between_stage_and_commit_recovers(self, spark, tmp_path):
        self._run(spark, tmp_path)
        want = self._hashes(spark, tmp_path)
        # simulate a crash after staging batch 2 but before its hash
        # commit: drop the last manifest (+ its data dir), then replay
        import glob as _glob
        import json
        import shutil
        metas = sorted(_glob.glob(str(tmp_path / "hashes" / "_meta" / "v*.json")))
        with open(metas[-1]) as f:
            data_rel = json.load(f)["data"]
        os.remove(metas[-1])
        shutil.rmtree(str(tmp_path / "hashes" / data_rel))
        assert self._hashes(spark, tmp_path) != want  # state rolled back
        self._run(spark, tmp_path, ckpt="ckpt3")
        assert self._hashes(spark, tmp_path) == want

    def test_crash_inside_first_stage_recovers(self, spark, tmp_path):
        # a crash inside batch 0's stage write leaves only its temporary
        # dir: the replay must read the table as empty, not fail on the
        # missing ``batch`` partition column
        (tmp_path / "table" / "batch=0" / "_temporary" / "0").mkdir(
            parents=True)
        self._run(spark, tmp_path)
        assert self._hashes(spark, tmp_path) == self._batch_hashes(spark)

    def _lose_commit_race(self, spark, tmp_path, monkeypatch):
        # the winner committed the latest version between this fold's
        # version read and its commit (modelled by a stale listing): the
        # fold must lose the CAS without overwriting the winner's data
        from pyspark.errors import StreamingQueryException

        from meresco_rdf_spark.kg import snapshots
        from meresco_rdf_spark.sinks import write_nquads

        self._run(spark, tmp_path)
        before = self._hashes(spark, tmp_path)
        write_nquads(spark.createDataFrame(
            [("urn:g:a", "urn:s9", "urn:p", "late", "literal", None)],
            TestQuadStream.SCHEMA), str(tmp_path / "in" / "more"),
            num_files=1)

        real, hashes = snapshots._manifest_versions, str(tmp_path / "hashes")

        def stale(fs, hpath, root):
            vs = real(fs, hpath, root)
            return vs[:-1] if root == hashes else vs
        with monkeypatch.context() as m:
            m.setattr(snapshots, "_manifest_versions", stale)
            with pytest.raises(StreamingQueryException,
                               match="committed concurrently"):
                self._run(spark, tmp_path)
        return before

    def test_lost_commit_race_keeps_winners_hashes(
            self, spark, tmp_path, monkeypatch):
        before = self._lose_commit_race(spark, tmp_path, monkeypatch)
        assert self._hashes(spark, tmp_path) == before

    def test_expire_removes_lost_race_orphan_and_superseded_versions(
            self, spark, tmp_path, monkeypatch):
        # the hash root commits through the same manifest protocol as a
        # triple table, so the one maintenance call expires it too
        from meresco_rdf_spark.kg.snapshots import snapshot_versions

        before = self._lose_commit_race(spark, tmp_path, monkeypatch)
        hashes = str(tmp_path / "hashes")
        data = os.path.join(hashes, "data")
        manifests = snapshot_versions(spark, hashes)
        live = manifests[-1]["data"]
        on_disk = {"data/" + name for name in os.listdir(data)}
        assert len(manifests) > 1  # superseded versions
        assert len(on_disk) == len(manifests) + 1  # + the loser's orphan
        out = expire_snapshots(spark, hashes)
        assert out == {
            "expired_versions": [m["version"] for m in manifests[:-1]],
            "removed_dirs": sorted(on_disk - {live})}
        assert ["data/" + name for name in os.listdir(data)] == [live]
        assert self._hashes(spark, tmp_path) == before

    def test_reader_of_empty_root_is_empty(self, spark, tmp_path):
        from meresco_rdf_spark.streaming.quad_stream import read_graph_hashes
        df = read_graph_hashes(spark, str(tmp_path / "nowhere"))
        assert df.columns == ["graph", "n_triples", "content_hash"]
        assert df.count() == 0
