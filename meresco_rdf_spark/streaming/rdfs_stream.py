"""Incremental RDFS entailment maintenance: a stream of instance
triples -> exactly-once MERGE of the CLOSED triples into a parquet
table.

Why this is exact (not an approximation): with a FIXED schema, every
instance-side ρdf rule the engine applies (rdfs2/3/7/9, with rule
composition pre-computed schema-side — see ``operators/rdfs.py``) is a
per-row broadcast map; there are NO instance-instance joins.  Closure
is therefore distributive over union for insert-only streams::

    closure(T ∪ B) = closure(T) ∪ closure(B)

so closing each micro-batch independently and set-MERGEing the result
maintains exactly the closure of everything ingested — the streamed
table is bit-equal to the batch closure of the full input, whatever
the batch slicing (the driver query ``stream_rdfs_maintain`` pins this
against the same recursive-CTE oracle that checks the batch
``rdfs_entailment`` query).

The one thing that is NOT incremental is the schema itself: a new
``rdfs:subPropertyOf`` axiom must re-derive over ALL previously seen
data, which a per-batch map cannot do.  Schema vocabulary arriving on
the instance stream therefore fails the batch loudly (re-run the batch
closure after a schema change) instead of silently diverging.

Scale shape: per micro-batch — 4 broadcast-join branches over the
batch (the KB-sized composed schema relations ride the closure's
broadcast), two narrow dedup exchanges of batch-sized data, then the
null-safe anti-join MERGE whose streaming side is one micro-batch
(AQE broadcasts it against the table scan).  Executor state is O(0):
the table itself carries the state, exactly as
``quad_stream.run_nquads_to_quad_table``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.rdfs import (
    RDFS_DOMAIN,
    RDFS_RANGE,
    RDFS_SUBCLASS,
    RDFS_SUBPROP,
    rdfs_closure,
)
from . import TRIPLE_DDL, read_if_exists

TRIPLE_COLS = ["subj", "pred", "obj_value", "obj_kind", "obj_lang"]
_SCHEMA_PREDS = (RDFS_SUBPROP, RDFS_SUBCLASS, RDFS_DOMAIN, RDFS_RANGE)


def run_rdfs_maintenance(instance_stream: DataFrame,
                         schema_triples: DataFrame, table_path: str,
                         checkpoint: str, local_threshold: int = 1_000_000):
    """Start the exactly-once closed-table maintenance; returns the
    streaming query (``availableNow`` trigger: drains the source, then
    stops — the resumable-batch shape).

    ``instance_stream`` — streaming 5-column triple relation.
    ``schema_triples`` — the FIXED ontology (batch DataFrame); its
    closure rules are recomposed per batch (KB-sized work) and its rows
    ride the first batch into the table."""
    spark = instance_stream.sparkSession

    def step(batch: DataFrame, batch_id: int) -> None:
        batch = batch.select(*TRIPLE_COLS)
        n_schema = batch.filter(F.col("pred").isin(*_SCHEMA_PREDS)).count()
        if n_schema:
            raise ValueError(
                "%d RDFS schema triple(s) arrived on the instance stream; "
                "incremental maintenance is only exact for a fixed schema "
                "— re-run the batch closure after schema changes"
                % n_schema)
        # closure output is globally distinct by construction (disjoint
        # narrow/wide dedups) — no extra dedup pass needed
        fresh = rdfs_closure(batch, schema_triples=schema_triples,
                             local_threshold=local_threshold)
        current = read_if_exists(spark, table_path, TRIPLE_DDL)
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
