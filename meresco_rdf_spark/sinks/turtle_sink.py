"""Turtle egress: triples DataFrame -> subject-grouped ``.ttl`` text.

The write-side twin of ``sources.rdf_source.read_turtle_triples`` and the
pretty sibling of ``sinks.nt_sink``: where N-Triples emits one
self-contained line per triple, Turtle groups a subject's triples into
one statement block (``<s> p1 o1 ;\\n    p2 o2 .``) with the ``a``
shorthand for ``rdf:type`` — roughly the format a human (or a downstream
Turtle tool) expects.

Scale shape: the whole encoding is pure column expressions.  Grouping is
ONE shuffle — a window partitioned by subject (row_number marks the
block head, count marks the tail; the window sort leaves each subject's
lines adjacent within the physical partition, which the text writer
preserves).  Per-subject state is two scalars, never a collected array,
so hub subjects with millions of triples stream through (contrast
``kg/materialize.adjacency``'s documented bounded-degree precondition).
Full IRIs are written (no ``@prefix`` header — a per-file header is
driver-side state a distributed text write shouldn't carry), so every
output shard is independently valid Turtle; the reader side
(``read_turtle_triples``) accepts the shards with any glob.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..namespaces import namespaces as _ns
from .nt_sink import nt_iri, nt_term, write_lines

_RDF_TYPE = _ns.curieToUri("rdf:type")


def turtle_pred(pred: Column) -> Column:
    """Predicate token, with the ``a`` shorthand for ``rdf:type``."""
    return F.when(pred == _RDF_TYPE, F.lit("a")).otherwise(nt_iri(pred))


def turtle_lines(triples: DataFrame) -> DataFrame:
    """Triples -> one-column (``value``) DataFrame of Turtle lines,
    subject-grouped.  One window shuffle; no arrays, no Python."""
    w = Window.partitionBy("subj").orderBy(
        "pred", "obj_kind", "obj_value", "obj_lang")
    rn = F.row_number().over(w)
    total = F.count("*").over(Window.partitionBy("subj"))

    subj_tok = nt_term(F.col("subj"))
    pred_tok = turtle_pred(F.col("pred"))
    obj_tok = nt_term(F.col("obj_value"), F.col("obj_kind"),
                      F.col("obj_lang"))

    head = F.when(rn == 1, F.concat(subj_tok, F.lit(" "))) \
        .otherwise(F.lit("    "))
    tail = F.when(rn == total, F.lit(" .")).otherwise(F.lit(" ;"))
    return triples.select(
        F.concat(head, pred_tok, F.lit(" "), obj_tok, tail).alias("value"))


def write_turtle(triples: DataFrame, path: str,
                 num_files: int | None = None,
                 mode: str = "overwrite") -> None:
    """Materialize as Turtle text files, each subject block contiguous
    (``keep_order``: coalesce, not repartition)."""
    write_lines(turtle_lines(triples), path, num_files, mode,
                keep_order=True)
