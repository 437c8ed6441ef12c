"""RDFS entailment materialization (operators/rdfs.py): rule coverage,
local vs distributed schema-closure agreement, vocabulary-redefinition
guard, and the broadcast plan shape."""

import pytest

from meresco_rdf_spark.operators.rdfs import (
    RDF_TYPE,
    RDFS_DOMAIN,
    RDFS_RANGE,
    RDFS_SUBCLASS,
    RDFS_SUBPROP,
    RdfsVocabularyRedefined,
    _transitive_closure_local,
    rdfs_closure,
)

pytestmark = pytest.mark.spark

SCHEMA = ("subj string, pred string, obj_value string, obj_kind string, "
          "obj_lang string")

ROWS = [
    # ontology: 2-level class chain, 2-level property chain, dom+rng
    ("ex:Nation", RDFS_SUBCLASS, "ex:Place", "uri", None),
    ("ex:Place", RDFS_SUBCLASS, "ex:Entity", "uri", None),
    ("ex:inRegion", RDFS_SUBPROP, "ex:locatedIn", "uri", None),
    ("ex:locatedIn", RDFS_SUBPROP, "ex:related", "uri", None),
    ("ex:inRegion", RDFS_DOMAIN, "ex:Nation", "uri", None),
    ("ex:locatedIn", RDFS_RANGE, "ex:Region", "uri", None),
    # instance
    ("urn:n1", "ex:inRegion", "urn:r1", "uri", None),
    ("urn:n1", "ex:name", "Holland", "literal", None),
]

EXPECTED_NEW = {
    ("ex:Nation", RDFS_SUBCLASS, "ex:Entity", "uri", None),   # rdfs11
    ("ex:inRegion", RDFS_SUBPROP, "ex:related", "uri", None),  # rdfs5
    ("urn:n1", "ex:locatedIn", "urn:r1", "uri", None),         # rdfs7
    ("urn:n1", "ex:related", "urn:r1", "uri", None),           # rdfs7 2-hop
    ("urn:n1", RDF_TYPE, "ex:Nation", "uri", None),            # rdfs2
    ("urn:n1", RDF_TYPE, "ex:Place", "uri", None),             # rdfs9 chain
    ("urn:n1", RDF_TYPE, "ex:Entity", "uri", None),
    # rdfs3 fires through the INHERITED ex:locatedIn predicate
    ("urn:r1", RDF_TYPE, "ex:Region", "uri", None),
}


def df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_rdfs_closure_all_rules(spark):
    got = {tuple(r) for r in rdfs_closure(df(spark, ROWS)).collect()}
    assert got == {tuple(r) for r in ROWS} | EXPECTED_NEW
    # literal objects are never range-typed
    assert not any(s == "Holland" for s, *_ in got)


def test_distributed_schema_path_agrees(spark):
    local = {tuple(r) for r in rdfs_closure(df(spark, ROWS)).collect()}
    dist = {tuple(r) for r in
            rdfs_closure(df(spark, ROWS), local_threshold=0).collect()}
    assert dist == local


def test_explicit_types_climb_hierarchy(spark):
    rows = [
        ("ex:A", RDFS_SUBCLASS, "ex:B", "uri", None),
        ("urn:x", RDF_TYPE, "ex:A", "uri", None),
    ]
    got = {tuple(r) for r in rdfs_closure(df(spark, rows)).collect()}
    assert ("urn:x", RDF_TYPE, "ex:B", "uri", None) in got


def test_keep_schema_false_omits_closure_pairs(spark):
    rows = [
        ("ex:A", RDFS_SUBCLASS, "ex:B", "uri", None),
        ("ex:B", RDFS_SUBCLASS, "ex:C", "uri", None),
        ("urn:x", RDF_TYPE, "ex:A", "uri", None),
    ]
    got = {tuple(r) for r in
           rdfs_closure(df(spark, rows), keep_schema=False).collect()}
    # derived types present, derived schema pair absent
    assert ("urn:x", RDF_TYPE, "ex:C", "uri", None) in got
    assert ("ex:A", RDFS_SUBCLASS, "ex:C", "uri", None) not in got


def test_separate_schema_triples_equals_union_closure(spark):
    onto, instance = ROWS[:6], ROWS[6:]
    unioned = {tuple(r) for r in rdfs_closure(df(spark, ROWS)).collect()}
    split = {tuple(r) for r in
             rdfs_closure(df(spark, instance),
                          schema_triples=df(spark, onto)).collect()}
    assert split == unioned
    # the vocabulary-redefinition guard fires on the explicit schema too
    bad = onto + [("ex:p", RDFS_SUBPROP, RDFS_SUBCLASS, "uri", None)]
    with pytest.raises(RdfsVocabularyRedefined):
        rdfs_closure(df(spark, instance), schema_triples=df(spark, bad))


def test_idempotent(spark):
    once = rdfs_closure(df(spark, ROWS))
    twice = {tuple(r) for r in rdfs_closure(once).collect()}
    assert twice == {tuple(r) for r in once.collect()}


def test_cycle_yields_reflexive_pairs(spark):
    assert _transitive_closure_local([("a", "b"), ("b", "a")]) == [
        ("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")]
    rows = [
        ("ex:A", RDFS_SUBCLASS, "ex:B", "uri", None),
        ("ex:B", RDFS_SUBCLASS, "ex:A", "uri", None),
        ("urn:x", RDF_TYPE, "ex:A", "uri", None),
    ]
    got = {tuple(r) for r in rdfs_closure(df(spark, rows)).collect()}
    assert ("urn:x", RDF_TYPE, "ex:B", "uri", None) in got


def test_vocabulary_redefinition_rejected_both_paths(spark):
    rows = ROWS + [("ex:p", RDFS_SUBPROP, RDFS_SUBCLASS, "uri", None)]
    with pytest.raises(RdfsVocabularyRedefined):
        rdfs_closure(df(spark, rows))
    with pytest.raises(RdfsVocabularyRedefined):
        rdfs_closure(df(spark, rows), local_threshold=0)


def test_plan_is_broadcast_with_two_dedup_shuffles(spark):
    out = rdfs_closure(df(spark, ROWS))
    out.count()  # let AQE finalize
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# --------------------------------------------------------------------------
# incremental maintenance (streaming/rdfs_stream.py)
# --------------------------------------------------------------------------

def _onto_instance_split():
    onto = [r for r in ROWS if r[1] in (RDFS_SUBCLASS, RDFS_SUBPROP,
                                        RDFS_DOMAIN, RDFS_RANGE)]
    inst = [r for r in ROWS if r not in onto] + [
        ("urn:n2", "ex:inRegion", "urn:r2", "uri", None),
        ("urn:n3", "ex:locatedIn", "urn:r1", "uri", None),
        ("urn:n3", RDF_TYPE, "ex:Nation", "uri", None),
    ]
    return onto, inst


def _write_slices(spark, tmp_path, rows, n_slices):
    import os

    from pyspark.sql import functions as F

    from meresco_rdf_spark.sinks.nquads_sink import write_nquads

    in_dir = os.path.join(str(tmp_path), "in")
    quads = df(spark, rows).withColumn(
        "context", F.lit(None).cast("string"))
    write_nquads(quads, in_dir, num_files=n_slices)
    return in_dir


def _run_maintenance(spark, tmp_path, in_dir, onto, name="t"):
    import os

    from meresco_rdf_spark.streaming.quad_stream import read_nquads_stream
    from meresco_rdf_spark.streaming.rdfs_stream import run_rdfs_maintenance

    table = os.path.join(str(tmp_path), name, "table")
    q = run_rdfs_maintenance(
        read_nquads_stream(spark, in_dir, glob="*.txt",
                           max_files_per_trigger=1).drop("context"),
        df(spark, onto), table,
        os.path.join(str(tmp_path), name, "ckpt"))
    q.awaitTermination(300)
    return table


def test_stream_maintenance_equals_batch_closure(spark, tmp_path):
    onto, inst = _onto_instance_split()
    in_dir = _write_slices(spark, tmp_path, inst, n_slices=3)
    table = _run_maintenance(spark, tmp_path, in_dir, onto)
    got = {tuple(r) for r in spark.read.parquet(table).collect()}
    batch = {tuple(r) for r in rdfs_closure(
        df(spark, inst), schema_triples=df(spark, onto)).collect()}
    assert got == batch


def test_stream_maintenance_replay_is_noop(spark, tmp_path):
    import os

    onto, inst = _onto_instance_split()
    in_dir = _write_slices(spark, tmp_path, inst, n_slices=2)
    table = _run_maintenance(spark, tmp_path, in_dir, onto, name="a")
    n1 = spark.read.parquet(table).count()
    # replay the SAME input against the SAME table from a fresh
    # checkpoint: the anti-join MERGE must append nothing
    from meresco_rdf_spark.streaming.quad_stream import read_nquads_stream
    from meresco_rdf_spark.streaming.rdfs_stream import run_rdfs_maintenance

    q = run_rdfs_maintenance(
        read_nquads_stream(spark, in_dir, glob="*.txt",
                           max_files_per_trigger=1).drop("context"),
        df(spark, onto), table,
        os.path.join(str(tmp_path), "a", "ckpt2"))
    q.awaitTermination(300)
    assert spark.read.parquet(table).count() == n1


def test_stream_maintenance_first_write_that_committed_nothing(spark,
                                                               tmp_path):
    # a crash inside the first append leaves the table directory with no
    # data file; the replay reads it as an empty table
    onto, inst = _onto_instance_split()
    in_dir = _write_slices(spark, tmp_path, inst, n_slices=2)
    (tmp_path / "u" / "table" / "_temporary" / "0").mkdir(parents=True)
    table = _run_maintenance(spark, tmp_path, in_dir, onto, name="u")
    got = {tuple(r) for r in spark.read.parquet(table).collect()}
    batch = {tuple(r) for r in rdfs_closure(
        df(spark, inst), schema_triples=df(spark, onto)).collect()}
    assert got == batch


def test_stream_maintenance_rejects_schema_on_stream(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    onto, inst = _onto_instance_split()
    poisoned = inst + [("ex:Region", RDFS_SUBCLASS, "ex:Place",
                        "uri", None)]
    in_dir = _write_slices(spark, tmp_path, poisoned, n_slices=1)
    with pytest.raises(StreamingQueryException, match="fixed schema"):
        _run_maintenance(spark, tmp_path, in_dir, onto)


class TestSchemaCycles:
    def _run(self, spark, rows):
        from meresco_rdf_spark.operators.rdfs import schema_cycles
        df = spark.createDataFrame(
            rows, "subj string, pred string, obj_value string, "
                  "obj_kind string, obj_lang string")
        return {(r.pred, r.node) for r in schema_cycles(df).collect()}

    SC = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    SP = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"

    def test_cycle_members_reported_chain_silent(self, spark):
        rows = [
            ("urn:a", self.SC, "urn:b", "uri", None),
            ("urn:b", self.SC, "urn:c", "uri", None),
            ("urn:c", self.SC, "urn:a", "uri", None),
            ("urn:x", self.SC, "urn:y", "uri", None),   # acyclic
        ]
        assert self._run(spark, rows) == {
            (self.SC, "urn:a"), (self.SC, "urn:b"), (self.SC, "urn:c")}

    def test_self_loop_counts_and_preds_are_separate(self, spark):
        rows = [
            ("urn:p", self.SP, "urn:p", "uri", None),
            ("urn:p", self.SC, "urn:q", "uri", None),   # acyclic under SC
        ]
        assert self._run(spark, rows) == {(self.SP, "urn:p")}

    def test_acyclic_schema_is_empty(self, spark):
        rows = [("urn:a", self.SC, "urn:b", "uri", None),
                ("urn:b", self.SC, "urn:c", "uri", None)]
        assert self._run(spark, rows) == set()


class TestPerGraphClosure:
    """rdfs_closure_quads: each named graph closes under its own
    ontology, no cross-graph leakage, default graph = NULL context."""

    QSCHEMA = ("context string, subj string, pred string, "
               "obj_value string, obj_kind string, obj_lang string")

    def _quads(self, spark, rows):
        return spark.createDataFrame(rows, self.QSCHEMA)

    def _run(self, spark, rows):
        from meresco_rdf_spark.operators.rdfs import rdfs_closure_quads
        return {tuple(r) for r in
                rdfs_closure_quads(self._quads(spark, rows)).collect()}

    def test_per_graph_matches_per_graph_triple_closure(self, spark):
        rows = ([("g1",) + r for r in ROWS]
                + [("g2", "ex:inRegion", RDFS_DOMAIN, "ex:Zone",
                    "uri", None),
                   ("g2", "urn:n9", "ex:inRegion", "urn:r9", "uri", None)])
        got = self._run(spark, rows)
        t1 = spark.createDataFrame(ROWS, SCHEMA)
        want1 = {("g1",) + tuple(r) for r in rdfs_closure(t1).collect()}
        t2 = spark.createDataFrame(
            [r[1:] for r in rows if r[0] == "g2"], SCHEMA)
        want2 = {("g2",) + tuple(r) for r in rdfs_closure(t2).collect()}
        assert got == want1 | want2

    def test_no_cross_graph_leakage(self, spark):
        # g1 holds the ontology, g2 holds the instance row: nothing
        # derives (and the instance graph's row passes through intact)
        rows = [("g1", "ex:p", RDFS_DOMAIN, "ex:C", "uri", None),
                ("g2", "urn:s", "ex:p", "urn:o", "uri", None)]
        got = self._run(spark, rows)
        assert got == {("g1", "ex:p", RDFS_DOMAIN, "ex:C", "uri", None),
                       ("g2", "urn:s", "ex:p", "urn:o", "uri", None)}

    def test_default_graph_participates_as_null(self, spark):
        rows = [(None, "ex:p", RDFS_DOMAIN, "ex:C", "uri", None),
                (None, "urn:s", "ex:p", "urn:o", "uri", None)]
        got = self._run(spark, rows)
        assert (None, "urn:s", RDF_TYPE, "ex:C", "uri", None) in got

    def test_redefinition_names_the_graph(self, spark):
        from meresco_rdf_spark.operators.rdfs import rdfs_closure_quads
        rows = [("gX", "ex:p", RDFS_SUBPROP, RDFS_SUBCLASS, "uri", None)]
        with pytest.raises(RdfsVocabularyRedefined, match="gX"):
            rdfs_closure_quads(self._quads(spark, rows)).collect()

    def test_oversized_schema_rejected(self, spark):
        from meresco_rdf_spark.operators.rdfs import rdfs_closure_quads
        rows = [("g", "ex:a", RDFS_SUBCLASS, "ex:b", "uri", None)]
        with pytest.raises(ValueError, match="local_threshold"):
            rdfs_closure_quads(self._quads(spark, rows),
                               local_threshold=0).collect()
