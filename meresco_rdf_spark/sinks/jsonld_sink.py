"""JSON-LD egress: triples/quads DataFrame -> NDJSON expanded form.

The write-side twin of ``sources.rdf_source.read_jsonld_quads``.  Shape
choice: JSON-LD EXPANDED form allows the same ``@id`` to recur across
node objects in the top-level array (the graph is the union), so the
hub-safe sharding is one self-contained node object per STATEMENT —
``{"@id": s, "p": [term]}`` — one line each (the N-Triples discipline
in JSON): pure column expressions, ZERO exchanges, any line split is
valid, and a named graph wraps as ``{"@id": g, "@graph": [node]}``.
Subject-grouped pretty documents are a driver-side concatenation
concern, not a distributed write's.

JSON string escaping is delegated to the JVM's own writer: a value is
wrapped in ``to_json(struct(...))`` and the fixed prelude/close are
sliced off, so the escapes are byte-exact Jackson output (no Python in
the row path, no hand-rolled escape table to drift).

The reader accepts these shards directly (per-line NDJSON fallback in
``rdfxml/jsonld.py::_load``), closing the round-trip.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .nt_sink import write_lines


def _js(col: Column) -> Column:
    """A JSON string literal (quotes included) with JVM-exact escaping:
    ``to_json(struct(v))`` emits ``{"v":"..."}``; slice off the fixed
    6-char prelude and 1-char close."""
    j = F.to_json(F.struct(col.cast("string").alias("v")))
    return j.substr(F.lit(6), F.length(j) - F.lit(6))


def _term_json(value: Column, kind: Column, lang: Column) -> Column:
    ref = F.concat(F.lit('{"@id":'), _js(value), F.lit("}"))
    lit_lang = F.concat(F.lit('{"@value":'), _js(value),
                        F.lit(',"@language":'), _js(lang), F.lit("}"))
    lit = F.concat(F.lit('{"@value":'), _js(value), F.lit("}"))
    return (F.when(kind.isin("uri", "bnode"), ref)
            .when(lang.isNotNull(), lit_lang)
            .otherwise(lit))


def jsonld_lines(triples: DataFrame) -> DataFrame:
    """Triples (optional ``context`` column = named graph) -> one-column
    (``value``) DataFrame of NDJSON node-object lines.  No exchange; no
    Python."""
    node = F.concat(
        F.lit('{"@id":'), _js(F.col("subj")),
        F.lit(","), _js(F.col("pred")), F.lit(":["),
        _term_json(F.col("obj_value"), F.col("obj_kind"),
                   F.col("obj_lang")),
        F.lit("]}"))
    if "context" in triples.columns:
        wrapped = F.concat(F.lit('{"@id":'), _js(F.col("context")),
                           F.lit(',"@graph":['), node, F.lit("]}"))
        node = F.when(F.col("context").isNull(), node).otherwise(wrapped)
    return triples.select(node.alias("value"))


def write_jsonld(triples: DataFrame, path: str,
                 num_files: int | None = None,
                 mode: str = "overwrite") -> None:
    """Materialize as NDJSON-LD text shards (each shard — and each
    line — independently parseable)."""
    write_lines(jsonld_lines(triples), path, num_files, mode,
                keep_order=True)
