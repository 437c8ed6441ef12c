"""N-Triples egress: triples DataFrame -> ``.nt`` lines / files.

The write-side twin of ``sources.rdf_source.read_ntriples_triples``.
Unlike the RDF/XML sink (which needs a per-shard Python serializer for
fixture byte-parity), N-Triples is line-oriented: the whole encoding is
pure column expressions — whole-stage codegen, zero Python, and the
output is splittable on read.  This makes ``.nt`` the preferred bulk
interchange format at scale; RDF/XML shards remain for reference
fixture parity.

Escapes: ``\\ \" \\n \\r \\t`` (backslash first).  Non-ASCII stays raw
UTF-8 (valid N-Triples 1.1).  Language tags follow literals as ``@lang``;
bnode labels pass through verbatim; datatypes don't exist in the
reference literal model so none are written.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def nt_escape(col: Column) -> Column:
    c = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\\r"))
    return F.replace(c, F.lit("\t"), F.lit("\\t"))


def nt_iri(value: Column) -> Column:
    return F.concat(F.lit("<"), nt_escape(value), F.lit(">"))


def nt_term(value: Column, kind: Column | None = None,
            lang: Column | None = None) -> Column:
    """One RDF term -> its N-Triples token; the package's one term
    encoder.  Without ``kind`` (a subject or graph label): a ``_:``
    label verbatim, anything else an IRI, NULL stays NULL.  With
    ``kind`` (an object): by ``obj_kind``, a literal with its ``@lang``."""
    if kind is None:
        return F.when(value.startswith("_:"), value).otherwise(nt_iri(value))
    return (
        F.when(kind == "uri", nt_iri(value))
        .when(kind == "bnode", value)
        .otherwise(F.concat(
            F.lit('"'), nt_escape(value), F.lit('"'),
            F.when(lang.isNotNull(), F.concat(F.lit("@"), lang))
            .otherwise(F.lit("")))))


def ntriples_line(subj: Column, pred: Column, obj_value: Column,
                  obj_kind: Column, obj_lang: Column,
                  context: Column | None = None) -> Column:
    """One statement line; with ``context`` its graph term goes before
    the dot (``concat_ws`` skips a NULL one: the default graph)."""
    terms = [nt_term(subj), nt_iri(pred),
             nt_term(obj_value, obj_kind, obj_lang)]
    if context is not None:
        terms.append(nt_term(context))
    return F.concat_ws(" ", *terms, F.lit("."))


def ntriples_lines(triples: DataFrame) -> DataFrame:
    """Triples -> one-column (``value``) DataFrame of N-Triples lines."""
    return triples.select(
        ntriples_line(
            F.col("subj"), F.col("pred"), F.col("obj_value"),
            F.col("obj_kind"), F.col("obj_lang")).alias("value"))


def write_ntriples(triples: DataFrame, path: str,
                   num_files: int | None = None,
                   mode: str = "overwrite") -> None:
    """Materialize as ``.nt`` text files (one line per triple).  The
    files are line-splittable, so a downstream ``spark.read.text`` scan
    parallelizes regardless of file count."""
    write_lines(ntriples_lines(triples), path, num_files, mode)


def write_lines(lines: DataFrame, path: str, num_files: int | None = None,
                mode: str = "overwrite", keep_order: bool = False) -> None:
    """Write a one-column (``value``) frame as uncompressed text files.
    ``num_files`` repartitions — even files — unless ``keep_order``:
    then it coalesces, which concatenates partitions without re-ordering
    them, so a block of adjacent lines (a Turtle subject, a TriG graph
    block) stays contiguous."""
    if num_files:
        lines = (lines.coalesce(num_files) if keep_order
                 else lines.repartition(num_files))
    lines.write.mode(mode).option("compression", "none").text(path)
