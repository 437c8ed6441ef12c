"""Tests for the KG construction pipeline: extraction, canonicalization,
materialization, checkpoint/resume (SURVEY.md §7 steps 4-7)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from meresco_rdf_spark.kg.canonicalize import (
    canonical_surface_map,
    char_shingles,
    connected_components,
    sameas_triples,
    similar_surface_pairs,
)
from meresco_rdf_spark.kg.extract import (
    FOAF_NAME,
    KG_CANDIDATE,
    KG_MENTIONS,
    KG_SURFACE,
    OA_ANNOTATION,
    RDF_TYPE,
    SKOS_ALTLABEL,
    detect_mentions,
    label_triples_from_counts,
    mention_triples,
    normalize_surface,
)
from meresco_rdf_spark.kg.materialize import (
    TRIPLE_COLS,
    TRIPLE_SORT,
    adjacency,
    write_adjacency_table,
    write_triple_table,
)
from meresco_rdf_spark.kg.pipeline import run_checkpointed, run_pipeline
from meresco_rdf_spark.sources.transcripts import (
    GAZETTEER,
    synthesize_transcripts,
)

from helpers import assert_part_files_sorted

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def make_transcripts(spark, rows):
    return spark.createDataFrame(
        [(c, t, "user", text, None, None) for c, t, text in rows],
        TRANSCRIPT_SCHEMA)


class TestDetectMentions:
    def test_finds_known_aliases_with_offsets(self, spark):
        t = make_transcripts(spark, [
            ("c1", 0, "We met Marie Curie in Amsterdam."),
            ("c1", 1, "Apache Spark engine is fast."),
            ("c2", 0, "No entities here."),
        ])
        rows = {(r.conv_id, r.turn_idx, r.surface, r.start, r.end)
                for r in detect_mentions(t).collect()}
        assert ("c1", 0, "Marie Curie", 7, 18) in rows
        assert ("c1", 0, "Amsterdam", 22, 31) in rows
        # longest-first: the 3-word alias wins over 'Apache Spark'
        assert ("c1", 1, "Apache Spark engine", 0, 19) in rows
        assert not any(r[0] == "c2" for r in rows)

    def test_word_boundaries(self, spark):
        t = make_transcripts(spark, [("c1", 0, "Seecrets about xAmsterdam.")])
        assert detect_mentions(t).count() == 0

    def test_score_grows_with_conversation_support(self, spark):
        t = make_transcripts(spark, [
            ("c1", 0, "Marie Curie wrote."),
            ("c1", 1, "Then Marie Curie spoke."),
            ("c2", 0, "Marie Curie alone."),
        ])
        m = detect_mentions(t).orderBy("conv_id", "turn_idx").collect()
        scores = {(r.conv_id, r.turn_idx): r.score for r in m}
        base = float(len(normalize_surface("Marie Curie")))
        assert scores[("c1", 0)] == base
        assert scores[("c1", 1)] == base + 1.0  # one earlier support
        assert scores[("c2", 0)] == base  # support never crosses convs

    def test_deterministic_across_parallelism(self, spark):
        t = synthesize_transcripts(spark, 40, 6)
        a = {tuple(r) for r in detect_mentions(t.repartition(1)).collect()}
        b = {tuple(r) for r in detect_mentions(t.repartition(7)).collect()}
        assert a == b and len(a) > 0

    def test_support_counts_survive_arrow_batch_boundaries(self, spark):
        # regression: with a tiny Arrow batch size, a conversation's turns
        # arrive in multiple batches inside one partition — the support
        # counter must keep counting across them (scores cumulative in
        # turn order, not resetting per batch)
        n_turns = 10
        t = make_transcripts(spark, [
            ("c1", i, "Marie Curie spoke on turn %d." % i)
            for i in range(n_turns)
        ])
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "3")
            scores = {r.turn_idx: r.score
                      for r in detect_mentions(t).collect()}
        finally:
            spark.conf.set(key, old)
        base = float(len(normalize_surface("Marie Curie")))
        assert scores == {i: base + i for i in range(n_turns)}


class TestMentionTriples:
    def test_fanout_and_node_model(self, spark):
        t = make_transcripts(spark, [("c1", 2, "Marie Curie visited.")])
        m = detect_mentions(t)
        triples = {(r.subj, r.pred, r.obj_value, r.obj_kind, r.obj_lang)
                   for r in mention_triples(m).collect()}
        bnodes = {s for s, *_ in triples if s.startswith("_:b")}
        assert len(bnodes) == 1
        b = bnodes.pop()
        assert (b, RDF_TYPE, OA_ANNOTATION, "uri", None) in triples
        assert (b, KG_SURFACE, "Marie Curie", "literal", None) in triples
        assert (b, KG_CANDIDATE, "urn:surface:marie-curie", "uri", None) in triples
        assert ("urn:conv:c1", KG_MENTIONS, "urn:surface:marie-curie",
                "uri", None) in triples

    def test_bnode_ids_deterministic_and_scoped(self, spark):
        t = make_transcripts(spark, [
            ("c1", 0, "Marie Curie."), ("c2", 0, "Marie Curie.")])
        m = detect_mentions(t)
        one = {r.subj for r in mention_triples(m).collect() if r.subj.startswith("_:")}
        two = {r.subj for r in mention_triples(detect_mentions(t)).collect()
               if r.subj.startswith("_:")}
        assert one == two  # re-run identical (resume idempotency)
        assert len(one) == 2  # distinct per conversation scope

    def test_label_election_prefers_most_frequent_form(self, spark):
        counts = spark.createDataFrame(
            [("urn:e1", "Marie Curie", 2), ("urn:e1", "Curie, Marie", 1),
             ("urn:e1", "Aurie", 2), ("urn:e2", "Solo", 1)],
            "canonical_uri string, surface string, n long")
        rows = {(r.subj, r.pred, r.obj_value)
                for r in label_triples_from_counts(counts).collect()}
        # count 2 beats count 1; the 2-2 tie breaks on the surface string
        assert ("urn:e1", FOAF_NAME, "Aurie") in rows
        assert ("urn:e1", SKOS_ALTLABEL, "Marie Curie") in rows
        assert ("urn:e1", SKOS_ALTLABEL, "Curie, Marie") in rows
        assert ("urn:e2", FOAF_NAME, "Solo") in rows
        assert len(rows) == 4

    def test_label_election_ties_and_single_forms(self, spark):
        counts = spark.createDataFrame(
            [("urn:e1", "b", 3), ("urn:e1", "c", 3), ("urn:e1", "a", 3),
             ("urn:e2", "Solo", 7), ("urn:e3", "z", 1), ("urn:e3", "y", 2)],
            "canonical_uri string, surface string, n long")
        rows = sorted((r.subj, r.pred, r.obj_value, r.obj_kind, r.obj_lang)
                      for r in label_triples_from_counts(counts).collect())
        # a three-way tie elects the least surface string; a single form
        # is the name and has no alternative
        assert rows == sorted([
            ("urn:e1", FOAF_NAME, "a", "literal", None),
            ("urn:e1", SKOS_ALTLABEL, "b", "literal", None),
            ("urn:e1", SKOS_ALTLABEL, "c", "literal", None),
            ("urn:e2", FOAF_NAME, "Solo", "literal", None),
            ("urn:e3", FOAF_NAME, "y", "literal", None),
            ("urn:e3", SKOS_ALTLABEL, "z", "literal", None)])

    def test_label_election_matches_python_oracle(self, spark):
        import random

        rng = random.Random(11)
        counts = []
        for e in range(60):
            forms = rng.sample(["f%02d" % i for i in range(12)],
                               rng.randint(1, 6))
            counts += [("urn:e%d" % e, f, rng.randint(1, 4)) for f in forms]
        want = set()
        for e in {c[0] for c in counts}:
            ranked = sorted((-n, f) for u, f, n in counts if u == e)
            want.add((e, FOAF_NAME, ranked[0][1], "literal", None))
            want |= {(e, SKOS_ALTLABEL, f, "literal", None)
                     for _, f in ranked[1:]}
        got = [(r.subj, r.pred, r.obj_value, r.obj_kind, r.obj_lang)
               for r in label_triples_from_counts(spark.createDataFrame(
                   counts, "canonical_uri string, surface string, n long"))
               .collect()]
        assert len(got) == len(set(got)) == len(counts)
        assert set(got) == want

    def test_checkpointed_equals_single_shot_pipeline(self, spark, tmp_path):
        """The resumable path must be ROW-IDENTICAL to run_pipeline
        however the work is sliced: labels especially — per-bucket
        election would give merged entities competing foaf:name rows."""
        t = synthesize_transcripts(spark, 40, 6)
        out = str(tmp_path / "kg")
        half = t.filter(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
        run_checkpointed(spark, half, out, n_buckets=4, table_buckets=4)
        run_checkpointed(spark, t, out, n_buckets=4, table_buckets=4)
        final = spark.read.parquet(
            os.path.join(out, "triples")).drop("subj_bucket")
        pipe = run_pipeline(t).triples
        assert final.exceptAll(pipe).count() == 0
        assert pipe.exceptAll(final).count() == 0


class TestCanonicalize:
    def test_char_shingles(self, spark):
        df = spark.range(1).select(char_shingles(F.lit("ab"), 3).alias("s"))
        assert df.collect()[0].s == [" ab", "ab "]

    def test_similar_pairs_catch_shared_shingle_aliases(self, spark):
        surfaces = spark.createDataFrame(
            [("apache spark",), ("apache spark engine",), ("marie curie",)],
            "surface_key string")
        pairs = {(r.a, r.b) for r in similar_surface_pairs(surfaces).collect()}
        assert ("apache spark", "apache spark engine") in pairs
        assert not any("marie curie" in p for p in pairs)

    def test_connected_components_chain_and_isolate(self, spark):
        edges = spark.createDataFrame(
            [("b", "c"), ("a", "b"), ("x", "y")], "a string, b string")
        comp = {r.node: r.component
                for r in connected_components(edges).collect()}
        assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    def test_canonical_map_clusters_are_pure(self, spark):
        t = synthesize_transcripts(spark, 60, 8)
        m = detect_mentions(t)
        canon = canonical_surface_map(m.select("surface_key"))
        truth = {normalize_surface(a): e
                 for e, aliases in GAZETTEER.items() for a in aliases}
        clusters: dict[str, set] = {}
        for r in canon.collect():
            clusters.setdefault(r.canonical_key, set()).add(truth[r.surface_key])
        for members in clusters.values():
            assert len(members) == 1  # never merges distinct entities

    def test_sameas(self, spark):
        canon = spark.createDataFrame(
            [("m curie", "marie curie", "urn:surface:marie-curie")],
            "surface_key string, canonical_key string, canonical_uri string")
        same = sameas_triples(canon).collect()
        assert [(r.subj, r.obj_value) for r in same] == [
            ("urn:surface:m-curie", "urn:surface:marie-curie")]


class TestPipelineAndMaterialize:
    def test_run_pipeline_links_aliases_to_one_canonical_entity(self, spark):
        t = make_transcripts(spark, [
            ("c1", 0, "Apache Spark is fast."),
            ("c2", 0, "The Apache Spark engine runs."),
        ])
        res = run_pipeline(t)
        cands = {(r.subj, r.obj_value)
                 for r in res.triples.filter(F.col("pred") == KG_CANDIDATE).collect()}
        targets = {o for _, o in cands}
        assert targets == {"urn:surface:apache-spark"}

    def test_pipeline_triples_unique_by_construction(self, spark):
        # the fused plan has no global dedup — set semantics must hold
        # structurally (reference graph.py:45-51: adding twice = once)
        t = synthesize_transcripts(spark, 40, 8)
        triples = run_pipeline(t).triples
        assert triples.count() == triples.dropDuplicates().count()

    def test_adjacency_sorted_and_degree(self, spark):
        triples = spark.createDataFrame(
            [("s", "p2", "b", "literal", None), ("s", "p1", "a", "uri", None)],
            "subj string, pred string, obj_value string, obj_kind string, obj_lang string")
        row = adjacency(triples).collect()[0]
        assert row.degree == 2
        assert [e.pred for e in row.edges] == ["p1", "p2"]

    def test_triple_table_bucket_pruning(self, spark, tmp_path):
        t = synthesize_transcripts(spark, 20, 5)
        res = run_pipeline(t)
        path = str(tmp_path / "triples")
        write_triple_table(res.triples, path, buckets=8)
        back = spark.read.parquet(path)
        assert back.select("subj_bucket").distinct().count() > 1
        assert back.drop("subj_bucket").count() == res.triples.count()
        # partition filter prunes to one bucket's files: every FileScan
        # prints a PartitionFilters entry, so match the bucket predicate
        plan = back.filter(F.col("subj_bucket") == 3)._jdf.queryExecution(
        ).executedPlan().toString()
        assert re.search(r"PartitionFilters: \[.*subj_bucket.*= 3", plan)

    def test_part_files_sorted_within_file(self, spark, tmp_path):
        # the written files hold the promised order: a sort that does
        # not lead with the partition column is replaced by the write's
        # own sort on subj_bucket
        out = str(tmp_path / "kg")
        run_checkpointed(spark, synthesize_transcripts(spark, 30, 5), out,
                         n_buckets=2, table_buckets=4)
        assert assert_part_files_sorted(
            os.path.join(out, "triples"), TRIPLE_SORT) > 1
        assert assert_part_files_sorted(
            os.path.join(out, "adjacency"), ["subj"]) > 1
        triples = spark.read.parquet(os.path.join(out, "triples"))
        chunked = str(tmp_path / "chunked")
        write_adjacency_table(triples, chunked, buckets=4, chunk_size=3)
        assert assert_part_files_sorted(chunked, ["subj", "chunk_id"]) > 1

    def test_checkpoint_resume_skips_completed_buckets(self, spark, tmp_path):
        t = synthesize_transcripts(spark, 30, 5)
        out = str(tmp_path / "kg")
        first = run_checkpointed(spark, t, out, n_buckets=4, table_buckets=4)
        assert first["buckets_processed"] == 4
        n1 = spark.read.parquet(os.path.join(out, "triples")).count()
        assert first["final_triples"] == n1 > 0
        second = run_checkpointed(spark, t, out, n_buckets=4, table_buckets=4)
        assert second["buckets_processed"] == 0
        assert second["buckets_skipped"] == 4
        assert spark.read.parquet(os.path.join(out, "triples")).count() == n1

    def test_run_metrics(self, spark):
        from meresco_rdf_spark.kg.metrics import run_metrics

        t = synthesize_transcripts(spark, 30, 6)
        res = run_pipeline(t)
        m = run_metrics(res, n_turns=30 * 6)
        assert m["n_mentions"] == res.mentions.count()
        assert m["n_entities"] <= m["n_surfaces"]
        # every surface maps to one canonical: merged = surfaces - entities
        assert m["n_merged"] == m["n_surfaces"] - m["n_entities"]
        assert set(m["triples_by_kind"]) <= {"uri", "bnode", "literal"}
        assert m["mentions_per_1k_turns"] > 0

    def test_checkpoint_reruns_changed_bucket(self, spark, tmp_path):
        t = synthesize_transcripts(spark, 30, 5)
        out = str(tmp_path / "kg")
        run_checkpointed(spark, t, out, n_buckets=4, table_buckets=4)
        changed = t.withColumn(
            "text",
            F.when(F.col("conv_id") == "conv-00000003",
                   F.lit("Now about Alan Turing.")).otherwise(F.col("text")))
        res = run_checkpointed(spark, changed, out, n_buckets=4, table_buckets=4)
        assert res["buckets_processed"] == 1


class TestFingerprint:
    def test_bnode_bijection_invariance(self):
        from meresco_rdf_spark.kg.fingerprint import triple_set_fingerprint

        a = [
            ("_:x1", "urn:p", "v1", "literal", None),
            ("_:x1", "urn:q", "urn:conv:c", "uri", None),
            ("urn:conv:c", "urn:r", "_:x1", "bnode", None),
            ("_:x2", "urn:p", "v2", "literal", "en"),
        ]
        # same structure, relabeled + reordered
        b = [
            ("_:zz", "urn:p", "v2", "literal", "en"),
            ("urn:conv:c", "urn:r", "_:k", "bnode", None),
            ("_:k", "urn:q", "urn:conv:c", "uri", None),
            ("_:k", "urn:p", "v1", "literal", None),
        ]
        assert triple_set_fingerprint(a) == triple_set_fingerprint(b)
        # content change -> different fingerprint
        c = [row if row[2] != "v1" else (row[0], row[1], "CHANGED", row[3], row[4])
             for row in a]
        assert triple_set_fingerprint(a) != triple_set_fingerprint(c)

    def test_golden_oracles_exist_for_every_kg_query(self):
        import os

        from meresco_rdf_spark.entry_queries import ORACLES, QUERIES

        import re

        assert set(ORACLES) == set(QUERIES)  # every query is oracle-checked
        for name, sql in ORACLES.items():
            for path in re.findall(r"read_parquet\('([^']+)'\)", sql):
                assert os.path.exists(path), path


class TestCheckpointLineage:
    def test_fully_deleted_bucket_does_not_resurrect(self, spark, tmp_path):
        from meresco_rdf_spark.kg.checkpoint import bucket_of

        t = synthesize_transcripts(spark, 30, 5)
        out = str(tmp_path / "kg")
        run_checkpointed(spark, t, out, n_buckets=4, table_buckets=4)
        # delete EVERY conversation in one bucket
        victim = 2
        surviving = t.withColumn(
            "_b", bucket_of(F.col("conv_id"), 4)).filter(
            F.col("_b") != victim).drop("_b")
        gone_convs = {r.conv_id for r in t.withColumn(
            "_b", bucket_of(F.col("conv_id"), 4)).filter(
            F.col("_b") == victim).select("conv_id").distinct().collect()}
        assert gone_convs
        res = run_checkpointed(spark, surviving, out, n_buckets=4,
                               table_buckets=4)
        assert res["buckets_dropped"] == 1
        final = spark.read.parquet(os.path.join(out, "triples"))
        leaked = final.filter(
            F.col("subj").isin(["urn:conv:%s" % c for c in gone_convs]))
        assert leaked.count() == 0

    def test_empty_input_materializes_empty_tables(self, spark, tmp_path):
        from meresco_rdf_spark.sources.transcripts import TRANSCRIPT_SCHEMA

        empty = spark.createDataFrame([], TRANSCRIPT_SCHEMA)
        out = str(tmp_path / "kg")
        res = run_checkpointed(spark, empty, out, n_buckets=4, table_buckets=4)
        assert res["final_triples"] == 0
        assert res["buckets_processed"] == 0
        # outputs must be readable (schema-carrying), not just present
        tri = spark.read.parquet(os.path.join(out, "triples"))
        assert tri.count() == 0
        assert set(TRIPLE_COLS) <= set(tri.columns)
        adj = spark.read.parquet(os.path.join(out, "adjacency"))
        assert adj.count() == 0
        assert {"subj", "edges", "degree"} <= set(adj.columns)

    def test_resume_after_total_deletion_empties_outputs(self, spark, tmp_path):
        from meresco_rdf_spark.sources.transcripts import TRANSCRIPT_SCHEMA

        t = synthesize_transcripts(spark, 12, 4)
        out = str(tmp_path / "kg")
        first = run_checkpointed(spark, t, out, n_buckets=4, table_buckets=4)
        assert first["final_triples"] > 0
        empty = spark.createDataFrame([], TRANSCRIPT_SCHEMA)
        res = run_checkpointed(spark, empty, out, n_buckets=4, table_buckets=4)
        assert res["final_triples"] == 0
        assert res["buckets_dropped"] == 4
        # the previously materialized triples must not survive their
        # deleted inputs: the table reads back as zero rows (and keeps a
        # schema-carrying file, so downstream readers don't fail
        # inference on an empty directory)
        tri = spark.read.parquet(os.path.join(out, "triples"))
        assert tri.count() == 0
        assert spark.read.parquet(os.path.join(out, "adjacency")).count() == 0

    def test_corpus_without_mentions_materializes_empty_tables(
            self, spark, tmp_path):
        t = make_transcripts(spark, [("c1", 0, "nothing to see here")])
        out = str(tmp_path / "kg")
        res = run_checkpointed(spark, t, out, n_buckets=4, table_buckets=4)
        assert res["buckets_processed"] == 1
        assert res["final_triples"] == 0
        assert spark.read.parquet(os.path.join(out, "triples")).count() == 0
        assert spark.read.parquet(os.path.join(out, "adjacency")).count() == 0

    def test_old_layout_is_refused_before_any_write(self, spark, tmp_path):
        t = synthesize_transcripts(spark, 6, 3)
        out = tmp_path / "kg"
        old = out / "raw_triples" / "bucket=0"
        old.mkdir(parents=True)
        with pytest.raises(ValueError, match="raw_triples"):
            run_checkpointed(spark, t, str(out), n_buckets=4, table_buckets=4)
        assert sorted(os.listdir(out)) == ["raw_triples"]

    def test_manifest_n_triples_counts_bnode_rows(self, spark, tmp_path):
        from meresco_rdf_spark.kg.checkpoint import read_manifest

        t = synthesize_transcripts(spark, 30, 5)
        out = str(tmp_path / "kg")
        half = t.filter(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
        run_checkpointed(spark, half, out, n_buckets=4, table_buckets=4)
        run_checkpointed(spark, t, out, n_buckets=4, table_buckets=4)
        latest = {}
        for r in read_manifest(
                spark, os.path.join(out, "_manifest")).collect():
            if r.bucket not in latest or r.ts > latest[r.bucket].ts:
                latest[r.bucket] = r
        assert all(r.status == "done" for r in latest.values())
        bnode_rows = spark.read.parquet(os.path.join(out, "triples")).filter(
            F.col("subj").startswith("_:")).count()
        assert bnode_rows > 0
        assert sum(r.n_triples for r in latest.values()) == bnode_rows

    def test_resume_refuses_n_buckets_change(self, spark, tmp_path):
        t = synthesize_transcripts(spark, 10, 3)
        out = str(tmp_path / "kg")
        run_checkpointed(spark, t, out, n_buckets=4, table_buckets=4)
        with pytest.raises(ValueError, match="n_buckets"):
            run_checkpointed(spark, t, out, n_buckets=8, table_buckets=4)


def _manifest_row(bucket, status, fp, ts, n_buckets=4):
    from pyspark.sql import Row

    return Row(bucket=bucket, status=status, input_fingerprint=fp, ts=ts,
               n_buckets=n_buckets if status == "done" else None)


class TestManifestResolution:
    """Scheme check and bucket selection are pure functions over the
    collected manifest rows — no Spark."""

    def test_changed_fingerprint_is_pending(self):
        from meresco_rdf_spark.kg.checkpoint import pending_buckets

        rows = [_manifest_row(0, "done", "a", 1.0),
                _manifest_row(1, "done", "b", 1.0)]
        fps = {0: (5, "a"), 1: (5, "b-changed"), 2: (3, "c")}
        # 1 changed, 2 never done; a manifest-only bucket is not input
        assert pending_buckets(rows + [_manifest_row(3, "done", "d", 1.0)],
                               fps) == [1, 2]

    def test_latest_row_wins(self):
        from meresco_rdf_spark.kg.checkpoint import pending_buckets

        rows = [_manifest_row(0, "done", "new", 2.0),
                _manifest_row(0, "done", "old", 1.0)]
        assert pending_buckets(rows, {0: (1, "new")}) == []
        assert pending_buckets(rows, {0: (1, "old")}) == [0]

    def test_tombstone_then_bucket_comes_back(self):
        from meresco_rdf_spark.kg.checkpoint import pending_buckets

        rows = [_manifest_row(2, "done", "x", 1.0),
                _manifest_row(2, "deleted", "", 2.0)]
        # the bucket's input is back, unchanged: the tombstone is latest,
        # so it is re-processed (its checkpoint subtrees were deleted)
        assert pending_buckets(rows, {2: (4, "x")}) == [2]
        rows.append(_manifest_row(2, "done", "x", 3.0))
        assert pending_buckets(rows, {2: (4, "x")}) == []

    def test_equal_ts_rows_resolve_the_same_in_any_order(self):
        from meresco_rdf_spark.kg.checkpoint import pending_buckets

        cases = [
            ([_manifest_row(0, "done", "a", 5.0),
              _manifest_row(0, "done", "b", 5.0)], {0: (1, "a")}, [0]),
            ([_manifest_row(0, "done", "a", 5.0),
              _manifest_row(0, "deleted", "", 5.0)], {0: (1, "a")}, [0]),
            ([_manifest_row(0, "done", "a", 5.0),
              _manifest_row(0, "done", "a", 5.0),
              _manifest_row(0, "done", "b", 4.0)], {0: (1, "a")}, []),
        ]
        for rows, fps, want in cases:
            assert pending_buckets(rows, fps) == want
            assert pending_buckets(rows[::-1], fps) == want

    def test_scheme_mismatch_lists_each_scheme_once(self):
        from meresco_rdf_spark.kg.checkpoint import check_bucket_scheme

        rows = [_manifest_row(b, "done", "f", 1.0, n_buckets=n)
                for b, n in [(0, 4), (1, 4), (2, 8), (3, 8), (4, 4)]]
        rows.append(_manifest_row(5, "deleted", "", 2.0))
        check_bucket_scheme(rows[:2] + rows[-1:], 4, "m")  # one scheme
        check_bucket_scheme([], 4, "m")
        with pytest.raises(ValueError) as err:
            check_bucket_scheme(rows, 4, "/out/_manifest")
        assert "n_buckets=[4, 8];" in str(err.value)
        assert "/out/_manifest" in str(err.value)


def _cached_plans(spark):
    cached = spark._jsparkSession.sharedState().cacheManager().cachedData()
    return sorted(cached.apply(i).plan().toString()
                  for i in range(cached.size()))


class TestCheckpointCost:
    # jobs of the 1-conversation delta below: 91 before the global
    # triples were cached and the manifest, fingerprints and canonical
    # map were each built once; 40 after; 25 since buckets checkpoint
    # their mentions, not triples; 22 once driver-built relations became
    # local frames; 17 since the global phase has no cache and no count
    # and elects labels in one aggregation (local[4], 4 shuffle
    # partitions)
    DELTA_JOBS = 17
    MARGIN = 8

    def test_run_checkpointed_releases_its_caches(self, spark, tmp_path):
        before = _cached_plans(spark)
        out = str(tmp_path / "kg")
        run_checkpointed(spark, synthesize_transcripts(spark, 12, 4), out,
                         n_buckets=2, table_buckets=4)
        run_checkpointed(spark, synthesize_transcripts(spark, 13, 4), out,
                         n_buckets=2, table_buckets=4)
        assert _cached_plans(spark) == before

    def test_delta_job_budget(self, spark, tmp_path):
        sc = spark.sparkContext
        out = str(tmp_path / "kg")
        cold = run_checkpointed(spark, synthesize_transcripts(spark, 20, 5),
                                out, n_buckets=2, table_buckets=4)
        assert cold["buckets_processed"] == 2
        group = "delta-job-budget"
        sc.setJobGroup(group, "one 1-conversation delta")
        try:
            delta = run_checkpointed(
                spark, synthesize_transcripts(spark, 21, 5), out,
                n_buckets=2, table_buckets=4)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert delta["buckets_processed"] == 1
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert n_jobs <= self.DELTA_JOBS + self.MARGIN, n_jobs


class TestMergeTripleTable:
    def test_merge_idempotent(self, spark, tmp_path):
        from meresco_rdf_spark.kg.snapshots import (
            read_snapshot,
            snapshot_create,
            snapshot_merge,
        )

        res = run_pipeline(synthesize_transcripts(spark, 20, 5))
        path = str(tmp_path / "triples")
        snapshot_create(spark, res.triples, path, buckets=8)
        doomed_rows = [tuple(r) for r in read_snapshot(spark, path)
                       .select(*TRIPLE_COLS).limit(5).collect()]
        doomed = spark.createDataFrame(
            doomed_rows,
            "subj string, pred string, obj_value string, obj_kind string, obj_lang string")
        n0 = read_snapshot(spark, path).count()
        snapshot_merge(spark, path, deletes=doomed)
        n1 = read_snapshot(spark, path).count()
        assert n1 == n0 - len(set(doomed_rows))
        # resume-after-delete: replaying the SAME merge changes nothing
        snapshot_merge(spark, path, deletes=doomed)
        assert read_snapshot(spark, path).count() == n1


class TestAdaptiveCC:
    # regression: the round-1 fused large+small star could reach a stable
    # NON-star-forest state on random graphs and report split components;
    # the alternating rewrite must match driver union-find ground truth
    @pytest.mark.parametrize("seed", [7, 11, 99])
    def test_local_and_distributed_paths_agree(self, spark, seed):
        import random

        rng = random.Random(seed)
        edges = [("n%02d" % rng.randrange(40), "n%02d" % rng.randrange(40))
                 for _ in range(60)]
        df = spark.createDataFrame(edges, "a string, b string")
        local = {(r.node, r.component)
                 for r in connected_components(df).collect()}
        dist = {(r.node, r.component)
                for r in connected_components(
                    df, local_threshold=0).collect()}
        assert local == dist and len(local) > 0

    def test_distributed_path_long_chain(self, spark):
        chain = [("n%03d" % i, "n%03d" % (i + 1)) for i in range(50)]
        df = spark.createDataFrame(chain, "a string, b string")
        comp = {r.component for r in connected_components(
            df, local_threshold=0).collect()}
        assert comp == {"n000"}


def test_checkpointed_final_has_set_semantics(spark, tmp_path):
    # the global phase emits without a dedup shuffle and must still
    # produce a SET: no row may appear twice (unique by construction)
    t = synthesize_transcripts(spark, 25, 6)
    out = str(tmp_path / "kg")
    run_checkpointed(spark, t, out, n_buckets=4, table_buckets=4)
    final = spark.read.parquet(os.path.join(out, "triples")).drop("subj_bucket")
    assert final.count() == final.dropDuplicates().count()


def test_adjacency_topk_matches_plain_truncation(spark):
    from meresco_rdf_spark.kg.materialize import adjacency, adjacency_topk

    rows = ([("hub", "p%03d" % i, "o%03d" % i, "uri", None) for i in range(50)]
            + [("tiny", "p", "o", "uri", None)])
    triples = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, obj_kind string, obj_lang string")
    plain = {r.subj: (r.degree, [tuple(e) for e in r.edges[:7]])
             for r in adjacency(triples).collect()}
    salted = {r.subj: (r.degree, [tuple(e) for e in r.edges])
              for r in adjacency_topk(triples, k=7, salt_buckets=4).collect()}
    # same exact degrees, same sorted top-7 edge prefix, bounded rows
    assert salted == plain
    assert all(len(v[1]) <= 7 for v in salted.values())


def test_adjacency_chunked_matches_plain(spark):
    from meresco_rdf_spark.kg.materialize import adjacency, adjacency_chunked

    rows = ([("hub", "p%03d" % i, "o%03d" % i, "uri", None) for i in range(50)]
            + [("tiny", "p", "o", "uri", None)])
    triples = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, obj_kind string, obj_lang string")
    plain = {r.subj: (r.degree, [tuple(e) for e in r.edges])
             for r in adjacency(triples).collect()}
    got = {}
    for r in sorted(adjacency_chunked(triples, chunk_size=16).collect(),
                    key=lambda r: (r.subj, r.chunk_id)):
        deg, edges = got.setdefault(r.subj, (r.degree, []))
        assert r.degree == deg and len(r.edges) <= 16 and r.n_edges == len(r.edges)
        edges.extend(tuple(e) for e in r.edges)
    # chunks concatenated in chunk_id order == the plain sorted adjacency
    assert {s: (d, e) for s, (d, e) in got.items()} == plain
    # hub spans ceil(50/16)=4 chunks, tiny exactly 1
    assert len([1 for r in adjacency_chunked(triples, 16).collect()
                if r.subj == "hub"]) == 4


def test_adjacency_chunked_million_edge_hub(spark):
    # the VERDICT r02 #6 bound: a degree-1M subject must materialize as
    # bounded chunk rows (spillable window sort), never a single
    # million-element array row
    from pyspark.sql import functions as F

    from meresco_rdf_spark.kg.materialize import adjacency_chunked

    triples = spark.range(1_000_000).select(
        F.lit("hub").alias("subj"),
        F.lit("urn:p").alias("pred"),
        F.concat(F.lit("o"), F.format_string("%07d", "id")).alias("obj_value"),
        F.lit("uri").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_lang"))
    out = adjacency_chunked(triples, chunk_size=4096)
    stats = out.agg(
        F.count("*").alias("n_chunks"),
        F.max(F.size("edges")).alias("max_chunk"),
        F.sum("n_edges").alias("total"),
        F.min("degree").alias("deg")).collect()[0]
    assert stats.n_chunks == 245  # ceil(1e6 / 4096)
    assert stats.max_chunk == 4096
    assert stats.total == 1_000_000
    assert stats.deg == 1_000_000


def test_detect_mentions_elides_shuffle_on_partitioned_input(spark):
    # conv-partitioned input + assume_conv_partitioned: identical results
    # and NO exchange in the plan (the pipeline's only O(input) shuffle
    # disappears on bucketed storage)
    t = synthesize_transcripts(spark, 40, 6)
    pre = t.repartition(4, "conv_id")
    a = {tuple(r) for r in detect_mentions(t).collect()}
    b = {tuple(r) for r in detect_mentions(
        pre, assume_conv_partitioned=True).collect()}
    assert a == b and len(a) > 0
    plan = detect_mentions(
        pre.localCheckpoint(), assume_conv_partitioned=True
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" not in plan
    assert "Sort [conv_id" in plan  # the narrow turn sort stays


def test_similar_pairs_local_and_distributed_agree(spark):
    surfaces = spark.createDataFrame(
        [(k,) for k in ["apache spark", "apache spark engine", "spark engine",
                        "marie curie", "curie marie", "alan turing",
                        "a m turing", "den haag", "the hague"]],
        "surface_key string")
    local = {(r.a, r.b, round(r.jaccard, 6))
             for r in similar_surface_pairs(surfaces).collect()}
    dist = {(r.a, r.b, round(r.jaccard, 6))
            for r in similar_surface_pairs(
                surfaces, local_threshold=0).collect()}
    # exact all-pairs >= LSH candidates; on this input they must be equal
    assert dist <= local and len(local) > 0
    assert local == dist


def test_similar_pairs_driver_path_drops_a_null_key(spark):
    surfaces = spark.createDataFrame(
        [("apache spark",), ("apache spark engine",), (None,),
         ("marie curie",)], "surface_key string")
    local = {(r.a, r.b, round(r.jaccard, 6))
             for r in similar_surface_pairs(surfaces).collect()}
    dist = {(r.a, r.b, round(r.jaccard, 6))
            for r in similar_surface_pairs(
                surfaces, local_threshold=0).collect()}
    assert local == dist
    assert {(a, b) for a, b, _ in local} == {
        ("apache spark", "apache spark engine")}


def _parity_vocabulary(n_keys):
    """Seeded vocabulary of exactly ``n_keys`` distinct keys: alias
    families far above the Jaccard threshold (so LSH cannot miss a
    pair), hyphen/space variants that share a URI slug, and singletons."""
    import random

    rng = random.Random(7)

    def word(lo, hi):
        return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                       for _ in range(rng.randint(lo, hi)))

    keys = {"m-curie", "m curie"}  # one slug, dissimilar keys
    while len(keys) < 600:
        a, b = word(6, 8), word(6, 8)
        keys.update({a + " " + b, a + "-" + b, a + " " + b + "s"})
    while len(keys) < n_keys:
        keys.add(word(10, 14))
    return sorted(keys)[:n_keys]


def test_canonical_map_driver_path_matches_distributed(spark, monkeypatch):
    from collections import Counter

    from meresco_rdf_spark.kg import canonicalize

    assert canonicalize.LOCAL_SURFACES == 2000
    vocab = _parity_vocabulary(2001)
    df = spark.createDataFrame([(k,) for k in vocab], "surface_key string")
    edges = similar_surface_pairs(df, local_threshold=0)
    comps = connected_components(edges, local_threshold=0)
    uri = F.concat(F.lit("urn:surface:"),
                   F.replace(F.col("canonical_key"), F.lit(" "), F.lit("-")))
    reference = {
        tuple(r) for r in df.join(comps, df["surface_key"] == comps["node"],
                                  "left")
        .select("surface_key",
                F.coalesce("component", "surface_key").alias("canonical_key"))
        .withColumn("canonical_uri", uri).collect()}
    keys = {r[0]: r for r in reference}
    assert keys["m-curie"][2] == keys["m curie"][2] == "urn:surface:m-curie"
    assert len({r[1] for r in reference}) < len(reference)  # some merge
    # the dropped key is a singleton: removing it changes no component
    sizes = Counter(r[1] for r in reference)
    dropped = next(k for k in vocab if sizes[keys[k][1]] == 1)

    calls = []
    real = canonicalize.similar_surface_pairs
    monkeypatch.setattr(canonicalize, "similar_surface_pairs",
                        lambda *a, **kw: calls.append(1) or real(*a, **kw))
    at_limit = canonical_surface_map(df.filter(F.col("surface_key") != dropped))
    assert {tuple(r) for r in at_limit.collect()} == reference - {keys[dropped]}
    assert calls == []  # 2,000 keys: one collect, built on the driver
    above = canonical_surface_map(df)
    assert {tuple(r) for r in above.collect()} == reference
    assert calls == [1]  # 2,001 keys: the distributed path


class TestStructureTriples:
    def test_tool_edges_and_turn_counts(self, spark):
        from meresco_rdf_spark.kg.extract import (
            KG_TURN_COUNT,
            KG_USED_TOOL,
            structure_triples,
        )
        from meresco_rdf_spark.sources.transcripts import TRANSCRIPT_SCHEMA

        t = spark.createDataFrame([
            ("c1", 0, "user", "hi", None, None),
            ("c1", 1, "tool", "result", "search", None),
            ("c1", 2, "tool", "result", "search", None),   # dup tool
            ("c1", 3, "tool", "result", "linker", None),
            ("c2", 0, "assistant", "hello", None, None),
        ], TRANSCRIPT_SCHEMA)
        triples = {(r.subj, r.pred, r.obj_value, r.obj_kind, r.obj_lang)
                   for r in structure_triples(t).collect()}
        assert triples == {
            ("urn:conv:c1", KG_USED_TOOL, "urn:tool:search", "uri", None),
            ("urn:conv:c1", KG_USED_TOOL, "urn:tool:linker", "uri", None),
            ("urn:conv:c1", KG_TURN_COUNT, "4", "literal", None),
            ("urn:conv:c2", KG_TURN_COUNT, "1", "literal", None),
        }
        # set semantics by construction: no dup rows even with dup input
        assert structure_triples(t).count() == 4


class TestMergeModelEquivalence:
    def test_random_merge_sequence_matches_set_model(self, spark, tmp_path):
        """Model-based check: a seeded random sequence of MERGE(adds,
        deletes) calls must leave the snapshot table equal to a plain
        Python set-semantics model ((state - deletes) | adds per step),
        and replaying a step (a resumed writer) must change nothing."""
        import random

        from meresco_rdf_spark.kg.snapshots import (
            read_snapshot,
            snapshot_create,
            snapshot_merge,
        )

        rng = random.Random(42)
        universe = [
            ("s%d" % rng.randrange(30), "p%d" % rng.randrange(4),
             "v%d" % i, "literal", None if i % 3 else "en")
            for i in range(300)
        ]
        schema = ("subj string, pred string, obj_value string, "
                  "obj_kind string, obj_lang string")
        init = universe[:120]
        path = str(tmp_path / "t")
        snapshot_create(spark, spark.createDataFrame(init, schema), path,
                        buckets=8)
        model = set(init)

        def table():
            return {tuple(r) for r in read_snapshot(spark, path)
                    .select(*TRIPLE_COLS).collect()}

        for step in range(4):
            adds = rng.sample(universe, rng.randrange(5, 40))
            dels = rng.sample(universe, rng.randrange(5, 40))
            delta = dict(adds=spark.createDataFrame(adds, schema),
                         deletes=spark.createDataFrame(dels, schema))
            snapshot_merge(spark, path, **delta)
            # merge order: deletes are anti-joined from existing FIRST,
            # adds unioned after — a row in both adds and deletes survives
            model = (model - set(dels)) | set(adds)
            assert table() == model, "diverged at step %d" % step
            if step == 1:  # replaying the same step changes nothing
                snapshot_merge(spark, path, **delta)
                assert table() == model, "replay changed the table"


class TestSparqlUpdateMergeIntegration:
    """The scale path claimed in sparql_update_sets' docstring, executed:
    a SPARQL 1.1 Update request compiled to (deletes, inserts) frames and
    applied to the MATERIALIZED snapshot triple table via the per-bucket
    ``snapshot_merge`` — final table state must equal sparql_update() of
    the same request over the in-memory relation."""

    def test_update_request_merges_into_table(self, spark, tmp_path):
        from meresco_rdf_spark.kg.snapshots import (
            read_snapshot,
            snapshot_create,
            snapshot_merge,
        )
        from meresco_rdf_spark.sparql import sparql_update, sparql_update_sets

        t = synthesize_transcripts(spark, 20, 5)
        triples = run_pipeline(t).triples.cache()
        path = str(tmp_path / "triples")
        snapshot_create(spark, triples, path, buckets=8)

        request = """
            PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
            DELETE { ?s ?p ?o }
            INSERT { ?s <urn:meta:hadTriple> ?p }
            WHERE { ?s ?p ?o
                    FILTER(strends(str(?p), "kg#score")) }
        """
        table = read_snapshot(spark, path).drop("subj_bucket")
        dels, ins = sparql_update_sets(table, request)
        res = snapshot_merge(spark, path, adds=ins, deletes=dels)
        assert res["buckets_touched"]

        expected = {tuple(r) for r in sparql_update(triples, request)
                    .collect()}
        got = {tuple(r) for r in
               read_snapshot(spark, path).drop("subj_bucket").collect()}
        assert got == expected
        # the request really did something in both directions
        assert not any(p.endswith("kg#score") for _, p, _, _, _ in got)
        assert any(p == "urn:meta:hadTriple" for _, p, _, _, _ in got)
