"""The shared semi-naive loop (meresco_rdf_spark/fixpoint.py): closure
answers, NULL-key termination, the session-conf guard, per-round DEBUG
records, and one non-convergence test per loop family that runs on it."""

import logging

import pytest
from pyspark.sql import functions as F

from meresco_rdf_spark import fixpoint as fp
from meresco_rdf_spark.fixpoint import FixpointNotConverged, fixpoint
from meresco_rdf_spark.model import BNode, Uri
from meresco_rdf_spark.operators.graph_ops import triples_df

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
OWL = "http://www.w3.org/2002/07/owl#"
RDFS_SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
CHAIN = ["urn:n%d" % i for i in range(6)]  # 5 edges: 4 productive rounds


def chain_triples(spark, pred, nodes=CHAIN):
    return triples_df(spark, [(a, pred, Uri(b))
                              for a, b in zip(nodes, nodes[1:])])


def pairs(spark, rows):
    return spark.createDataFrame(rows, "a string, b string")


def extend(edges):
    def step(delta, _acc):
        return (delta.alias("l").join(edges.alias("r"), F.expr("l.b = r.a"))
                .select("l.a", "r.b"))
    return step


def test_closure_and_derived(spark):
    edges = pairs(spark, list(zip(CHAIN, CHAIN[1:])))
    closure, derived = fixpoint(edges, extend(edges), ["a", "b"], "t")
    want = {(a, b) for i, a in enumerate(CHAIN) for b in CHAIN[i + 1:]}
    assert {tuple(r) for r in closure.collect()} == want
    assert {tuple(r) for r in derived.collect()} == (
        want - set(zip(CHAIN, CHAIN[1:])))


def test_closed_relation_is_extended_not_rederived(spark):
    closed = pairs(spark, [("x", "y")])
    seed = pairs(spark, [("x", "y"), ("y", "z")])

    def step(delta, acc):
        return (acc.alias("l").join(delta.alias("r"), F.expr("l.b = r.a"))
                .select("l.a", "r.b"))

    closure, derived = fixpoint(seed, step, ["a", "b"], "t", closed=closed)
    assert {tuple(r) for r in closure.collect()} == {
        ("x", "y"), ("y", "z"), ("x", "z")}
    assert {tuple(r) for r in derived.collect()} == {("x", "z")}


def test_null_key_column_terminates(spark):
    # a step that re-derives its own input: the NULL lang must match
    # itself in the anti-join, or every round would find the row again
    seed = spark.createDataFrame([("n", None)], "node string, lang string")
    closure, derived = fixpoint(seed, lambda d, _: d, ["node", "lang"], "t")
    assert closure.count() == 1 and derived.count() == 0


def test_conf_guard_restores_caller_value(spark, monkeypatch):
    key = "spark.sql.constraintPropagation.enabled"
    monkeypatch.setattr(fp, "MAX_ROUNDS", 1)
    edges = pairs(spark, list(zip(CHAIN, CHAIN[1:])))
    spark.conf.set(key, "true")
    seen = []

    def step(delta, acc):
        seen.append(spark.conf.get(key))
        return extend(edges)(delta, acc)

    with pytest.raises(FixpointNotConverged):
        fixpoint(edges, step, ["a", "b"], "t")
    assert seen == ["false"]
    assert spark.conf.get(key) == "true"


def test_one_debug_record_per_round(spark, caplog):
    edges = pairs(spark, list(zip(CHAIN, CHAIN[1:])))
    with caplog.at_level(logging.DEBUG, logger="meresco_rdf_spark.fixpoint"):
        fixpoint(edges, extend(edges), ["a", "b"], "chain")
    msgs = [r.getMessage() for r in caplog.records]
    assert len(msgs) == 5  # 4 productive rounds + the empty one
    assert msgs[0].startswith("fixpoint chain round=1 rows=4 wall_s=")
    assert msgs[-1].startswith("fixpoint chain round=5 rows=0 wall_s=")


def test_rounds_raise_only_when_exhausted(monkeypatch):
    monkeypatch.setattr(fp, "MAX_ROUNDS", 3)
    for n in fp.rounds("t"):
        if n == 3:
            break
    with pytest.raises(FixpointNotConverged, match="t did not converge "
                                                   "within 3 rounds"):
        for _ in fp.rounds("t"):
            pass


# --------------------------------------------------------------------------
# every loop family raises, naming itself, when it runs out of rounds
# --------------------------------------------------------------------------

def _rdfs(spark):
    from meresco_rdf_spark.operators.rdfs import rdfs_closure

    rdfs_closure(chain_triples(spark, RDFS_SUBCLASS), local_threshold=0)


def _owl_transitive(spark):
    from meresco_rdf_spark.operators.owl import owl_closure

    p = "urn:p:anc"
    axioms = triples_df(spark, [(p, RDF_TYPE,
                                 Uri(OWL + "TransitiveProperty"))])
    owl_closure(chain_triples(spark, p), schema_triples=axioms)


def _owl_chain(spark):
    from meresco_rdf_spark.operators.owl import (
        OWL_PROPERTY_CHAIN, RDF_FIRST, RDF_NIL, RDF_REST, owl_chain_closure)

    # gp <- par ∘ par
    axiom = triples_df(spark, [
        ("urn:gp", OWL_PROPERTY_CHAIN, BNode("_:l0")),
        ("_:l0", RDF_FIRST, Uri("urn:par")),
        ("_:l0", RDF_REST, BNode("_:l1")),
        ("_:l1", RDF_FIRST, Uri("urn:par")),
        ("_:l1", RDF_REST, Uri(RDF_NIL))])
    owl_chain_closure(chain_triples(spark, "urn:par"), schema_triples=axiom)


def _owl_stream(spark):
    from meresco_rdf_spark.streaming.owl_stream import _incremental_closure

    # the table holds a closed chain; one batch edge prepends a node,
    # and each round extends the new path by one more hop
    closed = spark.createDataFrame(
        [("p", a, b, "uri") for i, a in enumerate(CHAIN)
         for b in CHAIN[i + 1:]], "pred string, a string, b string, "
        "b_kind string")
    seed = spark.createDataFrame([("p", "urn:new", CHAIN[0], "uri")],
                                 closed.schema)
    _incremental_closure(seed, closed)


def _sparql_seeded_path(spark):
    from meresco_rdf_spark.sparql import sparql_select

    sparql_select(chain_triples(spark, "urn:p:next"), """
        SELECT ?y WHERE { <urn:n0> (<urn:p:next>|^<urn:p:none>)+ ?y }
    """).collect()


def _sparql_path_closure(spark):
    from meresco_rdf_spark.sparql import sparql_select

    sparql_select(chain_triples(spark, "urn:p:next"),
                  "SELECT ?x ?y WHERE { ?x <urn:p:next>+ ?y }").collect()


def _sparql_describe(spark):
    from meresco_rdf_spark.sparql import sparql_describe

    nodes = ["urn:doc"] + ["_:b%d" % i for i in range(5)]
    g = triples_df(spark, [(a, "urn:p:part", BNode(b))
                           for a, b in zip(nodes, nodes[1:])])
    sparql_describe(g, "DESCRIBE <urn:doc>").collect()


def _connected_components(spark):
    from meresco_rdf_spark.kg.canonicalize import connected_components

    connected_components(pairs(spark, list(zip(CHAIN, CHAIN[1:]))),
                         local_threshold=0)


LOOPS = {
    "rdfs transitive closure": _rdfs,
    "owl transitive closure": _owl_transitive,
    "owl property chain": _owl_chain,
    "owl stream closure": _owl_stream,
    "sparql seeded path": _sparql_seeded_path,
    "sparql path closure": _sparql_path_closure,
    "sparql describe": _sparql_describe,
    "connected components": _connected_components,
}


@pytest.mark.parametrize("name", sorted(LOOPS))
def test_loop_raises_when_rounds_run_out(spark, monkeypatch, name):
    monkeypatch.setattr(fp, "MAX_ROUNDS", 1)
    with pytest.raises(FixpointNotConverged,
                       match="%s did not converge within 1 rounds" % name):
        LOOPS[name](spark)
