"""Incremental OWL-lite entailment maintenance: a stream of instance
triples -> exactly-once MERGE of the CLOSED triples into a parquet
table.

The contrast with ``rdfs_stream`` is the point.  RDFS instance rules
are per-row maps, so closure distributes over union and each
micro-batch closes independently.  OWL transitivity does NOT
distribute: an edge arriving in batch 7 can join two paths built from
batches 1-6, so per-batch closure would silently under-infer.  The
exact incremental algorithm is the classic SEEDED SEMI-NAIVE delta
closure over the accumulated state:

- the maintained table already contains ``closure(T)`` (transitively
  closed by induction),
- a new batch contributes orbit-expanded edges ``B``,
- every triple of ``closure(T ∪ B) - closure(T)`` lies on a path using
  at least one ``B`` edge, so seeding the delta with ``B`` and growing
  BOTH directions per round --

      grown = (delta ⋈ all) ∪ (all ⋈ delta),  all = closure(T) ∪ B ∪ acc

  -- reaches exactly the new closure, in rounds bounded by the longest
  chain that crosses a new edge (not the longest chain overall).

Scale shape per micro-batch: one broadcast orbit join over the batch;
per closure round, the (small) delta joins the big edge relation on
``(pred, node)`` keys -- AQE broadcasts the delta side -- plus one
anti-join against the accumulated set; ``localCheckpoint`` truncates
lineage per round.  The inverse/symmetric rules stay per-row (the
orbit join), so a batch with no transitive-predicate edges costs no
iteration at all.  Table state carries everything; executor streaming
state is O(0), and the anti-join MERGE makes replay a no-op
(exactly-once table state on at-least-once delivery).

Like the schema in ``rdfs_stream``, the ontology is FIXED: axiom rows
arriving on the instance stream fail the batch loudly (a new
``owl:TransitiveProperty`` axiom must re-derive over all earlier data,
which no per-batch step can do) -- re-run the batch closure after a
schema change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..fixpoint import fixpoint
from ..operators.owl import (
    OWL_INVERSE_OF,
    OWL_SYMMETRIC,
    OWL_TRANSITIVE,
    RDF_TYPE,
    _compose_edges,
    class_expand,
    compile_owl_schema,
    orbit_expand,
    transitive_edges,
)
from . import TRIPLE_DDL, read_if_exists

TRIPLE_COLS = ["subj", "pred", "obj_value", "obj_kind", "obj_lang"]


def _is_axiom():
    from ..operators.owl import (
        _AXIOM_CLASSES, OWL_EQUIV_CLASS, OWL_EQUIV_PROPERTY)

    return (F.col("pred").isin(OWL_INVERSE_OF, OWL_EQUIV_PROPERTY,
                               OWL_EQUIV_CLASS)
            | ((F.col("pred") == RDF_TYPE)
               & F.col("obj_value").isin(*_AXIOM_CLASSES)))


def _incremental_closure(seed: DataFrame,
                         closed: DataFrame = None) -> DataFrame:
    """Edges of ``closure(closed ∪ seed)`` that are in neither --
    ``closed`` (the table's edges, if any) must already be transitively
    closed.  Every round grows the delta in BOTH directions against the
    accumulated set."""
    def step(delta: DataFrame, acc: DataFrame) -> DataFrame:
        return _compose_edges(delta, acc).unionByName(
            _compose_edges(acc, delta))

    key = ["pred", "a", "b"]
    _, derived = fixpoint(seed.dropDuplicates(key), step, key,
                          "owl stream closure", closed=closed)
    return derived


def _edges_to_triples(edges: DataFrame) -> DataFrame:
    return edges.select(
        F.col("a").alias("subj"), "pred", F.col("b").alias("obj_value"),
        F.col("b_kind").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_lang"))


def run_owl_maintenance(instance_stream: DataFrame,
                        schema_triples: DataFrame, table_path: str,
                        checkpoint: str):
    """Start the exactly-once closed-table maintenance; returns the
    streaming query (``availableNow`` trigger: drains the source, then
    stops -- the resumable-batch shape).

    ``instance_stream`` -- streaming 5-column triple relation.
    ``schema_triples`` -- the FIXED ontology (batch DataFrame); its
    orbit is compiled once up front, and its rows ride the first batch
    into the table."""
    spark = instance_stream.sparkSession
    schema = compile_owl_schema(schema_triples)
    schema_rows = schema_triples.select(*TRIPLE_COLS)

    def step(batch: DataFrame, batch_id: int) -> None:
        batch = batch.select(*TRIPLE_COLS)
        n_axioms = batch.filter(_is_axiom()).count()
        if n_axioms:
            raise ValueError(
                "%d OWL axiom row(s) arrived on the instance stream; "
                "incremental maintenance is only exact for a fixed "
                "schema -- re-run the batch closure after schema changes"
                % n_axioms)
        expanded = orbit_expand(batch, schema)
        if schema.class_rows:
            # class equivalence is a per-row rename -> distributes over
            # union; per-batch expansion exactly maintains the closure
            expanded = expanded.unionByName(class_expand(batch, schema))
        current = read_if_exists(spark, table_path, TRIPLE_DDL)

        fresh = expanded.unionByName(schema_rows)
        if schema.trans_orbit:
            closed = (None if current is None
                      else transitive_edges(current, schema))
            derived = _incremental_closure(
                transitive_edges(expanded, schema), closed)
            fresh = fresh.unionByName(_edges_to_triples(derived))
        fresh = fresh.dropDuplicates(TRIPLE_COLS)
        if current is not None:
            cond = None
            for c in TRIPLE_COLS:
                eq = fresh[c].eqNullSafe(current[c])
                cond = eq if cond is None else cond & eq
            fresh = fresh.join(current, cond, "left_anti")
        fresh.write.mode("append").parquet(table_path)

    return (instance_stream.writeStream.foreachBatch(step)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())
