"""N-Quads egress: quad DataFrame -> ``.nq`` lines / files.

Write-side twin of ``sources.rdf_source.read_nquads_quads`` and the
quad-model counterpart of the ``.nt`` sink: the ``context`` column
becomes the 4th (graph) term — NULL context = default graph = no 4th
term, matching the SPARQL quad relation (default graph = context IS
NULL).  Like the ``.nt`` sink this is pure column expressions:
whole-stage codegen, zero Python, splittable output.  No reference
counterpart (the reference has no quad model); engine extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .nt_sink import ntriples_line, write_lines


def nquads_lines(quads: DataFrame) -> DataFrame:
    """Quads -> one-column (``value``) DataFrame of N-Quads lines."""
    return quads.select(
        ntriples_line(
            F.col("subj"), F.col("pred"), F.col("obj_value"),
            F.col("obj_kind"), F.col("obj_lang"),
            F.col("context")).alias("value"))


def write_nquads(quads: DataFrame, path: str,
                 num_files: int | None = None,
                 mode: str = "overwrite") -> None:
    """Materialize as ``.nq`` text files (one line per quad,
    line-splittable on read)."""
    write_lines(nquads_lines(quads), path, num_files, mode)
