"""TriG egress: quad DataFrame -> graph-blocked ``.trig`` text.

Write-side twin of ``sources.rdf_source.read_trig_quads`` and the
quad-model sibling of the Turtle sink.  Each (graph, subject) group
becomes one self-contained block::

    <g> { <s> p1 o1 ;
        p2 o2 . }

TriG allows the same graph label on any number of blocks (the graph is
their union, spec §2.2), so per-subject blocks — rather than one giant
block per graph — keep the encoding pure column expressions with ONE
window shuffle and two scalars of per-group state: hub graphs with
billions of triples stream through, no collected arrays, and every
output shard is independently valid TriG.  Default-graph rows (NULL
context) are emitted as bare Turtle statements, which TriG admits
verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .nt_sink import nt_term, write_lines
from .turtle_sink import turtle_pred


def trig_lines(quads: DataFrame) -> DataFrame:
    """Quads -> one-column (``value``) DataFrame of TriG lines,
    (graph, subject)-grouped.  One window shuffle; no arrays, no
    Python."""
    w = Window.partitionBy("context", "subj").orderBy(
        "pred", "obj_kind", "obj_value", "obj_lang")
    rn = F.row_number().over(w)
    total = F.count("*").over(Window.partitionBy("context", "subj"))

    ctx = F.col("context")
    graph_tok = nt_term(ctx)
    subj_tok = nt_term(F.col("subj"))
    pred_tok = turtle_pred(F.col("pred"))
    obj_tok = nt_term(F.col("obj_value"), F.col("obj_kind"),
                      F.col("obj_lang"))

    open_block = F.when(ctx.isNull(), F.lit("")) \
        .otherwise(F.concat(graph_tok, F.lit(" { ")))
    head = F.when(rn == 1, F.concat(open_block, subj_tok, F.lit(" "))) \
        .otherwise(F.lit("    "))
    close_block = F.when(ctx.isNull(), F.lit(" .")).otherwise(F.lit(" . }"))
    tail = F.when(rn == total, close_block).otherwise(F.lit(" ;"))
    return quads.select(
        F.concat(head, pred_tok, F.lit(" "), obj_tok, tail).alias("value"))


def write_trig(quads: DataFrame, path: str,
               num_files: int | None = None,
               mode: str = "overwrite") -> None:
    """Materialize as TriG text files, each (graph, subject) block
    contiguous (``keep_order``: coalesce, not repartition)."""
    write_lines(trig_lines(quads), path, num_files, mode, keep_order=True)
