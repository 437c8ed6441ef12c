"""RDF/XML source (mapInPandas parse), SPARQL-JSON decode, transcript
synthesis, and RDF/XML sink (applyInPandas serialize) round-trips."""

import pytest

from meresco_rdf_spark.namespaces import namespaces
from meresco_rdf_spark.sinks import serialize_shards
from meresco_rdf_spark.sinks.rdfxml_sink import validate_bnode_locality
from meresco_rdf_spark.sources import (
    decode_bindings,
    read_rdfxml_triples,
    synthesize_transcripts,
)
from meresco_rdf_spark.sources.rdf_source import file_sources

pytestmark = pytest.mark.spark

DOC_A = '''<rdf:RDF %(xmlns_rdf)s %(xmlns_rdfs)s %(xmlns_dcterms)s>
<rdf:Description rdf:about="uri:book:1">
    <dcterms:title xml:lang="en">A Book</dcterms:title>
    <dcterms:creator>
        <rdf:Description>
            <rdfs:label>Someone</rdfs:label>
        </rdf:Description>
    </dcterms:creator>
</rdf:Description>
</rdf:RDF>''' % namespaces

DOC_B = '''<rdf:RDF %(xmlns_rdf)s %(xmlns_rdfs)s>
<rdf:Description rdf:about="uri:book:2">
    <rdfs:seeAlso rdf:resource="uri:book:1"/>
</rdf:Description>
</rdf:RDF>''' % namespaces

DOC_BAD = "<rdf:RDF not well formed"


def docs_df(spark, docs):
    return spark.createDataFrame(list(docs.items()), "context string, xml string")


def test_parse_documents_to_triples(spark):
    df = read_rdfxml_triples(docs_df(spark, {"file:a.rdf": DOC_A, "file:b.rdf": DOC_B}))
    rows = df.collect()
    assert len(rows) == 4
    by_ctx = {}
    for r in rows:
        by_ctx.setdefault(r.context, []).append(r)
    assert len(by_ctx["file:a.rdf"]) == 3
    # bnode ids are rescoped per document -> globally unique, deterministic
    bnodes = [r.obj_value for r in by_ctx["file:a.rdf"] if r.obj_kind == "bnode"]
    assert len(bnodes) == 1 and bnodes[0].startswith("_:d")
    df2 = read_rdfxml_triples(docs_df(spark, {"file:a.rdf": DOC_A, "file:b.rdf": DOC_B}))
    assert sorted(map(tuple, rows)) == sorted(map(tuple, df2.collect()))


def test_parse_quarantines_bad_documents(spark):
    df = read_rdfxml_triples(
        docs_df(spark, {"file:a.rdf": DOC_A, "file:bad.rdf": DOC_BAD}),
        keep_errors=True)
    errors = df.filter("error is not null").collect()
    assert len(errors) == 1 and errors[0].context == "file:bad.rdf"
    assert "ParseError" in errors[0].error
    ok = read_rdfxml_triples(
        docs_df(spark, {"file:a.rdf": DOC_A, "file:bad.rdf": DOC_BAD}))
    assert ok.count() == 3


def test_prepared_frame_keeps_a_bnode_like_context(spark):
    # a caller-supplied context is provenance, not a graph label: it is
    # never re-scoped, even when it looks like a bnode label
    import hashlib

    rows = read_rdfxml_triples(docs_df(spark, {"_:ctx": DOC_A})).collect()
    assert len(rows) == 3 and {r.context for r in rows} == {"_:ctx"}
    scope = "_:d" + hashlib.sha1(b"_:ctx").hexdigest()[:12]
    assert [r.obj_value[:len(scope)] for r in rows
            if r.obj_kind == "bnode"] == [scope]


_RDFXML_BNODE = (
    '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">'
    '<rdf:Description rdf:nodeID="x"><rdf:value>v</rdf:value>'
    '</rdf:Description></rdf:RDF>')


@pytest.mark.parametrize("reader,ext,good,bad,quads", [
    ("read_rdfxml_triples", "rdf", _RDFXML_BNODE, DOC_BAD, False),
    ("read_turtle_triples", "ttl", '_:x <urn:p> "v" .', "ex:s ex:p ex:o .",
     False),
    ("read_trig_quads", "trig", '_:g { _:x <urn:p> "v" . }',
     "GRAPH <urn:g> { <urn:s> <urn:p> ", True),
    ("read_jsonld_quads", "jsonld",
     '{"@id": "_:g", "@graph": [{"@id": "_:x", "urn:p": "v"}]}',
     "{ not json", True),
])
def test_document_readers_scope_bnodes_and_quarantine(
        spark, tmp_path, reader, ext, good, bad, quads):
    # one document worker behind all four readers: the same bnode label
    # in two files stays two nodes, a bad file is one error row
    from meresco_rdf_spark.sources import rdf_source

    for name, text in (("a", good), ("b", good), ("bad", bad)):
        (tmp_path / ("%s.%s" % (name, ext))).write_text(text,
                                                        encoding="utf-8")
    rows = getattr(rdf_source, reader)(
        spark, str(tmp_path), keep_errors=True).collect()
    errors = [r for r in rows if r.error is not None]
    assert [r.context for r in errors] == ["file:bad.%s" % ext]
    ok = [r for r in rows if r.error is None]
    assert len(ok) == 2
    assert len({r.subj for r in ok}) == 2
    assert all(r.subj.startswith("_:d") for r in ok)
    if quads:  # bnode graph labels are document-scoped too
        assert len({r.context for r in ok}) == 2
        assert all(r.context.startswith("_:d") for r in ok)
    else:
        assert {r.context for r in ok} == {"file:a.%s" % ext,
                                           "file:b.%s" % ext}


def test_read_rdfxml_from_directory(spark, tmp_path):
    (tmp_path / "sub").mkdir()
    (tmp_path / "a.rdf").write_text(DOC_A, encoding="utf-8")
    (tmp_path / "sub" / "b.rdf").write_text(DOC_B, encoding="utf-8")
    (tmp_path / "ignored.txt").write_text("nope")
    df = read_rdfxml_triples(spark, str(tmp_path))
    contexts = {r.context for r in df.select("context").distinct().collect()}
    assert contexts == {"file:a.rdf", "file:b.rdf"}
    assert df.count() == 4


def test_file_sources_walk(tmp_path):
    (tmp_path / "a.rdf").write_text(DOC_A, encoding="utf-8")
    out = file_sources(str(tmp_path))
    assert out[0][0] == "file:a.rdf" and out[0][1] == "text/xml"
    import pytest as _pytest

    (tmp_path / "weird.xyz").write_text("?")
    with _pytest.raises(ValueError):
        file_sources(str(tmp_path))


def test_sparql_json_decode(spark):
    df = spark.createDataFrame(
        [('{"type": "uri", "value": "uri:a"}',),
         ('{"type": "literal", "value": "x", "xml:lang": "en"}',),
         ('{"type": "typed-literal", "value": "42"}',),
         ('{"type": "bnode", "value": "_:b0"}',)],
        "binding string")
    rows = decode_bindings(df).collect()
    got = [(r.obj_value, r.obj_kind, r.obj_lang) for r in rows]
    assert got == [
        ("uri:a", "uri", None),
        ("x", "literal", "en"),
        ("42", "literal", None),
        ("_:b0", "bnode", None),
    ]


def test_synthesize_transcripts_deterministic(spark):
    a = synthesize_transcripts(spark, 20, turns_per_conv=5, partitions=4)
    b = synthesize_transcripts(spark, 20, turns_per_conv=5, partitions=13)
    assert a.count() == 100
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    row = a.filter("conv_id = 'conv-00000003' and turn_idx = 2").collect()[0]
    assert row.role in ("user", "assistant", "tool")
    assert (row.tool is None) == (row.role != "tool")
    # every text contains at least one gazetteer alias
    from meresco_rdf_spark.sources.transcripts import GAZETTEER

    aliases = [a for al in GAZETTEER.values() for a in al]
    sample = a.limit(20).collect()
    for r in sample:
        assert any(alias in r.text for alias in aliases), r.text
    # ts monotone within conv
    ts = [r.ts for r in a.filter("conv_id = 'conv-00000003'").orderBy("turn_idx").collect()]
    assert ts == sorted(ts)


def test_serialize_shards_round_trip(spark):
    triples = read_rdfxml_triples(
        docs_df(spark, {"file:a.rdf": DOC_A, "file:b.rdf": DOC_B}))
    assert validate_bnode_locality(triples, "context") == 0
    shards = {r.shard: r for r in serialize_shards(triples, "context").collect()}
    assert set(shards) == {"file:a.rdf", "file:b.rdf"}
    assert shards["file:a.rdf"].n_triples == 3

    # re-parse each shard and compare triple sets (bnode-bijection aware)
    from helpers import assert_isomorphic

    reparsed = read_rdfxml_triples(
        spark.createDataFrame(
            [(shard, r.xml) for shard, r in shards.items()],
            "context string, xml string"))
    original = {tuple(r)[1:] for r in triples.collect()}
    round_tripped = {tuple(r)[1:] for r in reparsed.collect()}
    assert_isomorphic(original, round_tripped)


NT_DOC = "\n".join([
    "# a comment line",
    "<urn:s1> <urn:p> <urn:o1> .",
    "<urn:s1> <urn:p> \"plain literal\" .",
    "<urn:s2> <urn:p> \"met taal\"@nl .",
    "_:b1 <urn:p> <urn:s2> .",
    "<urn:s2> <urn:q> _:b1 .",
    "",
    "<urn:s3> <urn:p> \"typed\"^^<http://www.w3.org/2001/XMLSchema#string> .",
    "<urn:s3> <urn:esc> \"line\\nbreak \\\"quoted\\\" u\\u00eb\" .",
])


def test_parse_ntriples_pure():
    from meresco_rdf_spark.rdfxml.ntriples import parse_ntriples

    from meresco_rdf_spark.model import BNode, Literal, Uri

    g = parse_ntriples(NT_DOC)
    triples = {(s, p, o) for s, p, o in g.triples()}
    assert ("urn:s1", "urn:p", Uri("urn:o1")) in triples
    assert ("urn:s2", "urn:p", Literal("met taal", lang="nl")) in triples
    assert ("_:b1", "urn:p", Uri("urn:s2")) in triples
    assert ("urn:s2", "urn:q", BNode("_:b1")) in triples
    # datatype accepted and dropped (reference literal model)
    assert ("urn:s3", "urn:p", Literal("typed")) in triples
    assert ("urn:s3", "urn:esc",
            Literal('line\nbreak "quoted" uë')) in triples
    assert len(triples) == 7


def test_parse_ntriples_malformed_raises():
    from meresco_rdf_spark.rdfxml.ntriples import parse_ntriples

    with pytest.raises(ValueError):
        parse_ntriples("<urn:s> nonsense .")


def test_read_ntriples_matches_pure_parser(spark, tmp_path):
    from meresco_rdf_spark.model import node_to_row
    from meresco_rdf_spark.rdfxml.ntriples import iter_ntriples
    from meresco_rdf_spark.sources import read_ntriples_triples

    (tmp_path / "fixture.nt").write_text(NT_DOC, encoding="utf-8")
    got = {tuple(r) for r in read_ntriples_triples(spark, str(tmp_path)).collect()}
    expect = {("file:fixture.nt",) + node_to_row(s, p, o)
              for s, p, o in iter_ntriples(NT_DOC)}
    assert got == expect
    # the escaped line went through the Arrow fallback, the rest JVM-side:
    # both paths contribute and agree with the pure parser
    assert any("\n" in v for _, _, _, v, *_ in got)


def test_read_ntriples_quarantines_malformed(spark, tmp_path):
    from meresco_rdf_spark.sources import read_ntriples_triples

    (tmp_path / "bad.nt").write_text(
        "<urn:s> <urn:p> <urn:o> .\njunk line here\n<urn:s> oops\\escape .\n",
        encoding="utf-8")
    df = read_ntriples_triples(spark, str(tmp_path), keep_errors=True)
    rows = df.collect()
    errors = [r for r in rows if r.error is not None]
    ok = [r for r in rows if r.error is None]
    assert len(ok) == 1 and len(errors) == 2  # one per malformed path (JVM + Arrow)


def test_read_ntriples_quarantines_a_graph_term(spark, tmp_path):
    # the line parser reads the N-Quads grammar; in a .nt file a 4th
    # term is malformed, on the JVM path and on the escape path alike
    from meresco_rdf_spark.sources import read_ntriples_triples

    (tmp_path / "g.nt").write_text(
        "<urn:s> <urn:p> <urn:o> .\n"
        "<urn:s> <urn:p> <urn:o> <urn:g> .\n"
        '<urn:s> <urn:p> "a\\nb"@en <urn:g> .\n', encoding="utf-8")
    rows = read_ntriples_triples(spark, str(tmp_path),
                                 keep_errors=True).collect()
    errors = sorted(r.error for r in rows if r.error is not None)
    assert errors == [
        "ValueError: malformed N-Triples line: "
        "'<urn:s> <urn:p> \"a\\\\nb\"@en <urn:g> .'",
        "ValueError: malformed N-Triples line: "
        "<urn:s> <urn:p> <urn:o> <urn:g> .",
    ]
    assert all(r.context == "file:g.nt" and r.subj is None
               and r.obj_kind == "error" for r in rows if r.error)
    assert [(r.subj, r.obj_value) for r in rows if r.error is None] == [
        ("urn:s", "urn:o")]


def test_read_rdf_directory_mixed_extensions(spark, tmp_path):
    from meresco_rdf_spark.sources import read_rdf_directory

    (tmp_path / "a.rdf").write_text(DOC_A, encoding="utf-8")
    (tmp_path / "b.nt").write_text("<urn:s1> <urn:p> <urn:o1> .\n",
                                   encoding="utf-8")
    rows = read_rdf_directory(spark, str(tmp_path)).collect()
    contexts = {r.context for r in rows}
    assert contexts == {"file:a.rdf", "file:b.nt"}
    assert len(rows) == 4


def test_nt_sink_roundtrip_with_escapes(spark, tmp_path):
    from meresco_rdf_spark.sinks import write_ntriples
    from meresco_rdf_spark.sources import read_ntriples_triples

    rows = [
        ("urn:s", "urn:p", 'tricky "quoted" \\ back\nnewline\ttab', "literal", None),
        ("urn:s", "urn:p", "taal", "literal", "nl"),
        ("urn:s", "urn:q", "urn:o", "uri", None),
        ("_:b0", "urn:p", "_:b1", "bnode", None),
        ("urn:s", "urn:r", "unicode ë ≤ ok", "literal", None),
    ]
    triples = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, obj_kind string, obj_lang string")
    out = str(tmp_path / "nt")
    write_ntriples(triples, out, num_files=2)
    back = {tuple(r) for r in read_ntriples_triples(
        spark, out, glob="*.txt").drop("context").collect()}
    assert back == set(rows)


def test_nt_lines_pure_jvm(spark):
    from meresco_rdf_spark.sinks import ntriples_lines

    triples = spark.createDataFrame(
        [("urn:s", "urn:p", "v", "literal", "en")],
        "subj string, pred string, obj_value string, obj_kind string, obj_lang string")
    lines = ntriples_lines(triples)
    assert lines.collect()[0].value == '<urn:s> <urn:p> "v"@en .'
    # no Python in the plan: pure projection over the scan
    plan = lines._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_sparql_json_encode_roundtrip(spark):
    """encode_bindings emits W3C bindings objects that round-trip through
    decode_bindings; unbound variables and absent lang tags are omitted."""
    import json

    from meresco_rdf_spark.model import Literal, Uri
    from meresco_rdf_spark.operators.graph_ops import triples_df
    from meresco_rdf_spark.sinks.sparql_json_sink import (
        encode_bindings, head_document, results_document)
    from meresco_rdf_spark.sources.sparql_json import decode_bindings
    from meresco_rdf_spark.sparql import sparql_select
    from pyspark.sql import functions as F

    g = triples_df(spark, [
        ("urn:a", "urn:p:name", Literal('Al "q"', lang="en")),
        ("urn:a", "urn:p:knows", Uri("urn:b")),
        ("urn:b", "urn:p:knows", Uri("urn:c")),
        ("_:x", "urn:p:knows", Uri("urn:a")),
    ])
    sol = sparql_select(g, """
        SELECT ?s ?n WHERE {
            ?s <urn:p:knows> ?o OPTIONAL { ?s <urn:p:name> ?n }
        }
    """)
    enc = encode_bindings(sol)
    docs = [json.loads(r[0]) for r in enc.collect()]
    by_s = {d["s"]["value"]: d for d in docs}
    assert by_s["urn:a"]["n"] == {"type": "literal", "value": 'Al "q"',
                                  "xml:lang": "en"}
    assert "n" not in by_s["urn:b"]          # unbound var omitted
    assert by_s["_:x"]["s"]["type"] == "bnode"
    assert "xml:lang" not in by_s["_:x"]["s"]

    # round-trip each ?n binding through the reference-semantics decoder
    dec = decode_bindings(
        enc.withColumn("binding",
                       F.get_json_object("binding_json", "$.n"))
        .filter(F.col("binding").isNotNull()),
        "binding")
    row = dec.select("obj_value", "obj_kind", "obj_lang").collect()[0]
    assert tuple(row) == ('Al "q"', "literal", "en")

    assert head_document(["s", "n"]) == '{"head":{"vars":["s","n"]}}'
    full = json.loads(results_document(sol))
    assert full["head"]["vars"] == ["s", "n"]
    assert len(full["results"]["bindings"]) == 3


def test_ingested_quads_queryable_with_sparql_graph(spark, tmp_path):
    # the multi-document ingest's per-file contexts ARE named graphs:
    # SPARQL GRAPH composes directly with read_rdf_directory output
    from meresco_rdf_spark.sources import read_rdf_directory
    from meresco_rdf_spark.sparql import sparql_select

    (tmp_path / "a.rdf").write_text(DOC_A, encoding="utf-8")
    (tmp_path / "b.nt").write_text(
        "<urn:s1> <urn:p> \"from-b\" .\n", encoding="utf-8")
    quads = read_rdf_directory(spark, str(tmp_path))
    out = sparql_select(quads, """
        SELECT ?g ?s WHERE { GRAPH ?g { ?s ?p ?o } }
    """)
    by_graph = {}
    for r in out.collect():
        by_graph.setdefault(r["g"], set()).add(r["s"])
    assert set(by_graph) == {"file:a.rdf", "file:b.nt"}
    assert by_graph["file:b.nt"] == {"urn:s1"}
    # constant-graph scope reads one document's graph only
    only_b = sparql_select(quads, """
        SELECT ?o WHERE { GRAPH <file:b.nt> { ?s <urn:p> ?o } }
    """).collect()
    assert [r["o"] for r in only_b] == ["from-b"]
    # the union view is one .drop() away
    all_rows = sparql_select(quads.drop("context"),
                             "SELECT ?s WHERE { ?s ?p ?o }")
    assert all_rows.count() == quads.count()


# ---------------------------------------------------------------- N-Quads

NQ_DOC = "\n".join([
    "# comment",
    '<urn:s1> <urn:p> "default graph" .',
    "<urn:s1> <urn:q> <urn:o1> <urn:graph:a> .",
    '<urn:s2> <urn:p> "taal"@nl <urn:graph:a> .',
    '_:b0 <urn:p> _:b1 _:g0 .',
    '<urn:s2> <urn:p> "typed"^^<http://www.w3.org/2001/XMLSchema#string> '
    "<urn:graph:b> .",
    '<urn:s2> <urn:r> "esc\\nline" <urn:graph:b> .',
])


def test_parse_nquads_pure():
    from meresco_rdf_spark.model import Literal, Uri
    from meresco_rdf_spark.rdfxml.nquads import iter_nquads

    quads = list(iter_nquads(NQ_DOC))
    assert quads[0] == (None, "urn:s1", "urn:p", Literal("default graph"))
    assert quads[1] == ("urn:graph:a", "urn:s1", "urn:q", Uri("urn:o1"))
    assert quads[2][0] == "urn:graph:a"
    assert quads[2][3].lang == "nl"
    assert quads[3][0] == "_:g0"          # bnode graph label kept verbatim
    assert quads[4][3] == Literal("typed")  # datatype dropped
    assert quads[5][3] == Literal("esc\nline")


def test_parse_nquads_malformed_raises():
    from meresco_rdf_spark.rdfxml.nquads import parse_nquads_line

    with pytest.raises(ValueError):
        parse_nquads_line("<urn:s> nonsense <urn:g> .")


def test_read_nquads_matches_pure_parser(spark, tmp_path):
    from meresco_rdf_spark.model import node_to_row
    from meresco_rdf_spark.rdfxml.nquads import iter_nquads
    from meresco_rdf_spark.sources import read_nquads_quads

    (tmp_path / "fixture.nq").write_text(NQ_DOC, encoding="utf-8")
    got = {tuple(r) for r in read_nquads_quads(spark, str(tmp_path)).collect()}
    expect = {(g,) + node_to_row(s, p, o)
              for g, s, p, o in iter_nquads(NQ_DOC)}
    assert got == expect
    # escaped line exercised the Arrow fallback; the rest stayed JVM-side
    assert any("\n" in v for _, _, _, v, *_ in got)
    # default-graph row has NULL context
    assert any(g is None for g, *_ in got)


def test_read_nquads_quarantines_malformed(spark, tmp_path):
    from meresco_rdf_spark.sources import read_nquads_quads

    (tmp_path / "bad.nq").write_text(
        "<urn:s> <urn:p> <urn:o> <urn:g> .\n"
        "junk line here\n"
        "<urn:s> oops\\escape .\n", encoding="utf-8")
    df = read_nquads_quads(spark, str(tmp_path), keep_errors=True)
    rows = df.collect()
    assert len([r for r in rows if r.error is None]) == 1
    assert len([r for r in rows if r.error is not None]) == 2


def test_nq_sink_roundtrip(spark, tmp_path):
    from meresco_rdf_spark.sinks import write_nquads
    from meresco_rdf_spark.sources import read_nquads_quads

    rows = [
        (None, "urn:s", "urn:p", 'tricky "q" \\ nl\nhere', "literal", None),
        ("urn:g:a", "urn:s", "urn:p", "taal", "literal", "nl"),
        ("urn:g:a", "urn:s", "urn:q", "urn:o", "uri", None),
        ("_:g0", "_:b0", "urn:p", "_:b1", "bnode", None),
        (None, "urn:s", "urn:r", "unicode ë ok", "literal", None),
    ]
    quads = spark.createDataFrame(
        rows, "context string, subj string, pred string, obj_value string, "
              "obj_kind string, obj_lang string")
    out = str(tmp_path / "nq")
    write_nquads(quads, out, num_files=2)
    back = {tuple(r) for r in read_nquads_quads(
        spark, out, glob="*.txt").collect()}
    assert back == set(rows)


def test_nq_lines_pure_jvm(spark):
    from meresco_rdf_spark.sinks import nquads_lines

    quads = spark.createDataFrame(
        [("urn:g", "urn:s", "urn:p", "v", "literal", "en"),
         (None, "urn:s", "urn:p", "urn:o", "uri", None)],
        "context string, subj string, pred string, obj_value string, "
        "obj_kind string, obj_lang string")
    lines = sorted(r.value for r in nquads_lines(quads).collect())
    assert lines == ['<urn:s> <urn:p> "v"@en <urn:g> .',
                     '<urn:s> <urn:p> <urn:o> .']
    plan = nquads_lines(quads)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_nquads_queryable_with_sparql_graph(spark, tmp_path):
    # .nq ingest lands directly in the SPARQL quad shape: the 4th term is
    # the named graph, absent = default graph (context IS NULL)
    from meresco_rdf_spark.sources import read_nquads_quads
    from meresco_rdf_spark.sparql import sparql_select

    (tmp_path / "f.nq").write_text(NQ_DOC, encoding="utf-8")
    quads = read_nquads_quads(spark, str(tmp_path))
    out = sparql_select(quads, "SELECT ?g WHERE { GRAPH ?g { ?s ?p ?o } }")
    graphs = sorted(r["g"] for r in out.collect())
    assert graphs == ["_:g0", "urn:graph:a", "urn:graph:a",
                      "urn:graph:b", "urn:graph:b"]
    # default graph = the context-IS-NULL row only
    dflt = sparql_select(quads, "SELECT ?o WHERE { ?s <urn:p> ?o }")
    assert [r["o"] for r in dflt.collect()] == ["default graph"]
