"""RDF ingest: files, directories or prepared frames in six formats ->
one triple/quad DataFrame.

Distributed equivalent of the reference's ``GraphComponent`` + ``RDFParser``
pipeline (``graphcomponent.py:40-80``: walk dirs, content-type by extension,
parse each document into one graph; context = ``file:<basename>``).

One code path per scale shape (SURVEY.md §3 E1), each format only
supplying its parse function:

- **documents** (RDF/XML, Turtle, TriG, JSON-LD) are not line-splittable:
  one recursive file listing gives ``(context, text)`` rows, and one
  Arrow-batched ``mapInPandas`` worker parses whole documents —
  per-document pure, so embarrassingly parallel.
- **lines** (N-Triples, N-Quads) are a line-splittable ``spark.read.text``
  scan, so one huge file parallelizes across tasks.  One JVM regex over
  the N-Quads grammar (whole-stage codegen) parses the overwhelming
  majority of lines; only lines containing ``\\`` escape sequences detour
  through an Arrow batch running the exact Python parser
  (``rdfxml.ntriples.parse_line``) — a row-level hybrid, unioned back
  with no shuffle.  N-Triples is the case with no graph term.

Triple formats carry the file context ``file:<basename>``; quad formats
carry the graph label, NULL = default graph — the quad shape SPARQL
``GRAPH`` / ``FROM NAMED`` consume (``sparql/compiler.py``: default graph
= context-IS-NULL rows).  No shuffle until the caller dedups or
repartitions.  Malformed documents and lines are quarantined into
``error`` rows (``"<ExcType>: <msg>"``) rather than failing the job (a
100-TB ingest must not die on one bad file).
"""

from __future__ import annotations

import hashlib
import os
import re
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..model import node_to_row
from ..rdfxml.ntriples import LINE_RE

TRIPLE_WITH_CONTEXT_SCHEMA = (
    "context string, subj string, pred string, obj_value string, "
    "obj_kind string, obj_lang string, error string"
)
_COLUMNS = ("context", "subj", "pred", "obj_value", "obj_kind", "obj_lang",
            "error")


def _error_row(context, exc: Exception) -> tuple:
    return (context, None, None, None, "error", None,
            "%s: %s" % (type(exc).__name__, exc))


def _keep_errors(rows: DataFrame, keep_errors: bool) -> DataFrame:
    if keep_errors:
        return rows
    return rows.filter(F.col("error").isNull()).drop("error")


# ---------------------------------------------------------------- documents

def _document_worker(parse: Callable, quads: bool) -> Callable:
    """mapInPandas worker over (context, text) batches.  ``parse(text)``
    returns a Graph for a triple format, (graph, s, p, o) quads for a
    quad format.

    Deterministic bnode ids: the parsers use the process-global counter,
    so it is reset per document and every bnode label is re-scoped to
    ``'_:d' + sha1(context)[:12] + label[1:]`` (bnode labels are
    document-scoped in RDF; the reference resets the counter per test the
    same way, rdfparsertest.py:85).  A triple format keeps the context as
    given — never re-scoped, even when it begins with ``_:``; a quad
    format puts the graph label in ``context`` (re-scoped when a bnode,
    NULL for the default graph)."""

    def worker(batches):
        import pandas as pd

        from ..model import BNode

        for batch in batches:
            rows = []
            for context, text in zip(batch["context"], batch["text"]):
                try:
                    BNode.nextGenId = 0
                    parsed = parse(text)
                    scope = "_:d" + hashlib.sha1(
                        context.encode("utf-8")).hexdigest()[:12]
                    if not quads:
                        parsed = ((context, s, p, o)
                                  for s, p, o in parsed.triples())
                    for graph, s, p, o in parsed:
                        subj, pred, value, kind, lang = node_to_row(s, p, o)
                        if quads and graph is not None \
                                and graph.startswith("_:"):
                            graph = scope + graph[1:]
                        if subj.startswith("_:"):
                            subj = scope + subj[1:]
                        if kind == "bnode":
                            value = scope + value[1:]
                        rows.append(
                            (graph, subj, pred, value, kind, lang, None))
                except Exception as exc:  # quarantine, don't fail the job
                    rows.append(_error_row(context, exc))
            yield pd.DataFrame(rows, columns=_COLUMNS)

    return worker


def _list_documents(spark: SparkSession, path: str, glob: str) -> DataFrame:
    """Recursive file listing -> (context, text) rows; context =
    ``file:<basename>`` (reference graphcomponent.py:80)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(path)
        .select(
            F.concat(F.lit("file:"),
                     F.element_at(F.split(F.col("path"), "/"), -1)
                     ).alias("context"),
            F.decode(F.col("content"), "utf-8").alias("text")))


def _parse_documents(docs: DataFrame, parse: Callable, quads: bool,
                     keep_errors: bool) -> DataFrame:
    return _keep_errors(
        docs.mapInPandas(_document_worker(parse, quads),
                         schema=TRIPLE_WITH_CONTEXT_SCHEMA),
        keep_errors)


def read_rdfxml_documents(spark: SparkSession, path: str) -> DataFrame:
    """Recursive ``*.rdf`` file listing -> (context, xml) DataFrame.
    Context = ``file:<basename>`` (reference graphcomponent.py:80)."""
    return _list_documents(spark, path, "*.rdf").withColumnRenamed(
        "text", "xml")


def read_rdfxml_triples(spark_or_df, path: str | None = None,
                        keep_errors: bool = False) -> DataFrame:
    """RDF/XML -> triples DataFrame.

    Either ``read_rdfxml_triples(spark, '/dir')`` or pass a prepared
    (context, xml) DataFrame.  Output columns: context + the 5 triple
    columns (+ error when ``keep_errors``)."""
    from ..rdfxml.parser import parse_rdfxml

    if path is not None:
        docs = _list_documents(spark_or_df, path, "*.rdf")
    else:
        docs = spark_or_df.select("context", F.col("xml").alias("text"))
    return _parse_documents(docs, parse_rdfxml, False, keep_errors)


def read_turtle_triples(spark: SparkSession, path: str,
                        keep_errors: bool = False,
                        glob: str = "*.ttl") -> DataFrame:
    """Turtle files -> triples DataFrame (context = ``file:<basename>``).

    Turtle statements span lines (long strings, ``;``/``,``
    continuation), so unlike ``.nt`` a single document is NOT
    line-splittable: parallelism comes from the file count.  For bulk
    single-file interchange prefer ``.nt``."""
    from ..rdfxml.turtle import parse_turtle

    return _parse_documents(_list_documents(spark, path, glob),
                            parse_turtle, False, keep_errors)


def read_trig_quads(spark: SparkSession, path: str,
                    keep_errors: bool = False,
                    glob: str = "*.trig") -> DataFrame:
    """TriG files -> quad DataFrame: ``context`` = the block's graph
    label, NULL = default graph — same contract as ``read_nquads_quads``.

    Like Turtle, TriG is not line-splittable (statements and graph
    blocks span lines): parallelism comes from the file count.  For bulk
    single-file quad interchange prefer ``.nq``."""
    from ..rdfxml.trig import parse_trig

    return _parse_documents(_list_documents(spark, path, glob),
                            parse_trig, True, keep_errors)


def read_jsonld_quads(spark: SparkSession, path: str,
                      keep_errors: bool = False,
                      glob: str = "*.jsonld") -> DataFrame:
    """JSON-LD files -> quad DataFrame: ``context`` = the ``@graph``
    label under an ``@id`` (NULL = default graph) — same contract as
    ``read_trig_quads``.

    A JSON-LD document is one JSON value, so it is NOT line-splittable:
    parallelism comes from the file count.  The NDJSON shards
    ``sinks.jsonld_sink`` writes (one node object per line) go through
    the same path: the parser falls back to per-line decoding, so sharded
    corpora parallelize by shard file."""
    from ..rdfxml.jsonld import parse_jsonld_quads

    return _parse_documents(_list_documents(spark, path, glob),
                            parse_jsonld_quads, True, keep_errors)


# -------------------------------------------------------------------- lines

# JVM twin of rdfxml.ntriples.LINE_RE: Spark's regexp_extract is
# Java-flavored, with numbered groups and no (?P<name>) syntax
_LINE_JAVA = re.sub(r"\?P<\w+>", "", LINE_RE.pattern)
_LITERAL_JAVA = (
    r'^"((?:[^"\\]|\\.)*)"(?:@([A-Za-z][A-Za-z0-9-]*))?(?:\^\^<[^<>\s]*>)?$')


def _line_worker(quads: bool) -> Callable:
    """mapInPandas worker for lines that carry escape sequences: the
    exact Python parser, under the JVM path's context rule."""

    def worker(batches):
        import pandas as pd

        from ..rdfxml.ntriples import parse_line

        for batch in batches:
            rows = []
            for context, line in zip(batch["context"], batch["line"]):
                try:
                    parsed = parse_line(line, quads)
                    if parsed is None:
                        continue
                    graph, s, p, o = parsed
                    rows.append((context if graph is None else graph,)
                                + node_to_row(s, p, o) + (None,))
                except Exception as exc:
                    rows.append(_error_row(context, exc))
            yield pd.DataFrame(rows, columns=_COLUMNS)

    return worker


def _parse_lines(lines: DataFrame, quads: bool,
                 keep_errors: bool) -> DataFrame:
    """(context, line) rows -> triple or quad rows.  A line's graph label
    replaces ``context`` when present; error rows keep ``context``.  A
    graph term is malformed unless ``quads``."""
    lines = lines.filter(
        (F.trim("line") != "") & ~F.trim("line").startswith("#"))
    escaped = F.col("line").contains("\\")
    subj, pred, obj, graph = (F.regexp_extract("line", _LINE_JAVA, i)
                              for i in (1, 2, 3, 4))
    bad = subj == ""
    if not quads:
        bad = bad | (graph != "")

    def term(tok):
        return F.when(tok.startswith("<"),
                      F.substring(tok, 2, F.length(tok) - 2)).otherwise(tok)

    literal = obj.startswith('"')
    fast = lines.filter(~escaped).select(
        F.when(~bad & (graph != ""), term(graph))
        .otherwise(F.col("context")).alias("context"),
        F.when(~bad, term(subj)).alias("subj"),
        F.when(~bad, term(pred)).alias("pred"),
        F.when(~bad, F.when(literal, F.regexp_extract(obj, _LITERAL_JAVA, 1))
               .otherwise(term(obj))).alias("obj_value"),
        F.when(bad, F.lit("error")).when(obj.startswith("<"), F.lit("uri"))
        .when(obj.startswith("_:"), F.lit("bnode"))
        .otherwise(F.lit("literal")).alias("obj_kind"),
        F.when(~bad & literal, F.nullif(
            F.regexp_extract(obj, _LITERAL_JAVA, 2), F.lit("")))
        .alias("obj_lang"),
        F.when(bad, F.concat(
            F.lit("ValueError: malformed %s line: "
                  % ("N-Quads" if quads else "N-Triples")),
            F.trim("line"))).alias("error"),
    )
    slow = lines.filter(escaped).mapInPandas(
        _line_worker(quads), schema=TRIPLE_WITH_CONTEXT_SCHEMA)
    return _keep_errors(fast.unionByName(slow), keep_errors)


def _read_lines(spark: SparkSession, path: str, glob: str) -> DataFrame:
    return (
        spark.read.format("text")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(path)
        .select(
            F.concat(F.lit("file:"), F.col("_metadata.file_name"))
            .alias("context"),
            F.col("value").alias("line")))


def read_ntriples_triples(spark: SparkSession, path: str,
                          keep_errors: bool = False,
                          glob: str = "*.nt") -> DataFrame:
    """N-Triples files -> triples DataFrame (context = ``file:<basename>``,
    mirroring the reference's declared ``.nt`` -> text/plain content-type
    path, graphcomponent.py:68-74 — dead there, real here)."""
    return _parse_lines(_read_lines(spark, path, glob), False, keep_errors)


def nquads_lines_to_quads(lines: DataFrame,
                          keep_errors: bool = False) -> DataFrame:
    """Parse a one-column (``line``) relation of N-Quads lines into the
    quad shape.  Pure transformations (JVM regex fast path + Arrow
    escape fallback), so it works identically on batch AND streaming
    DataFrames — ``streaming.quad_stream`` feeds it ``readStream``
    lines."""
    return _parse_lines(
        lines.select(F.lit(None).cast("string").alias("context"), "line"),
        True, keep_errors)


def read_nquads_quads(spark: SparkSession, path: str,
                      keep_errors: bool = False,
                      glob: str = "*.nq") -> DataFrame:
    """N-Quads files -> quad DataFrame: ``context`` = the 4th (graph)
    term, NULL when absent = the default graph.

    Engine extension (the reference has no quad model; its per-file
    contexts, graphcomponent.py:80, are the nearest analogue)."""
    return nquads_lines_to_quads(_read_lines(spark, path, glob), keep_errors)


def read_rdf_directory(spark: SparkSession, path: str,
                       keep_errors: bool = False) -> DataFrame:
    """Mixed-extension multi-source ingest (reference ``iterRdfSources``,
    graphcomponent.py:58-80): ``.rdf`` documents through the XML parser,
    ``.nt`` files through the line parser, ``.ttl`` documents through the
    Turtle parser, ``.nq``/``.trig``/``.jsonld`` through the quad
    parsers — one unified quad relation.  Triple formats carry per-file
    provenance contexts (``file:<basename>``); quad formats carry their
    intrinsic graph labels (NULL = default graph).  Both context flavors
    are named graphs to the SPARQL ``GRAPH`` machinery, so the union is
    directly queryable as a dataset."""
    return (
        read_rdfxml_triples(spark, path, keep_errors=keep_errors)
        .unionByName(read_ntriples_triples(spark, path,
                                           keep_errors=keep_errors))
        .unionByName(read_turtle_triples(spark, path,
                                         keep_errors=keep_errors))
        .unionByName(read_nquads_quads(spark, path,
                                       keep_errors=keep_errors))
        .unionByName(read_trig_quads(spark, path,
                                     keep_errors=keep_errors))
        .unionByName(read_jsonld_quads(spark, path,
                                       keep_errors=keep_errors)))


def file_sources(directory: str) -> list[tuple[str, str, str]]:
    """Local (non-Spark) directory walk mirroring the reference's
    ``iterRdfSources`` (graphcomponent.py:58-80): yields
    (context, content_type, payload) for ``.rdf``/``.nt`` files."""
    out = []
    for dirpath, _, filenames in os.walk(directory):
        for filename in sorted(filenames):
            full = os.path.join(dirpath, filename)
            if filename.endswith(".rdf"):
                content_type = "text/xml"
            elif filename.endswith(".nt"):
                content_type = "text/plain"
            elif filename.endswith(".ttl"):
                content_type = "text/turtle"
            else:
                raise ValueError("Unknown file format")
            with open(full, encoding="utf-8") as fh:
                out.append(("file:%s" % os.path.basename(full), content_type,
                            fh.read()))
    return out
