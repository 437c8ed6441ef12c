"""Deterministic RDF fixture documents for the driver-contract queries.

The EXPECTED_* tables below are HAND-TRANSCRIBED from the RDF/XML
semantics the reference parser implements (the construct-per-construct
transcription style of ``/root/reference/test/graph/rdfparsertest.py``:
typed nodes from element tags, property attributes, ``xml:base`` +
``rdf:ID``, ``rdf:nodeID``, empty-property ``Literal('')``, nested
anonymous bnodes).  They are the independent anchor: the DuckDB oracle is
a VALUES relation built from these rows, never from parser output.

Bnode labels follow the documented rescoping of
``sources.rdf_source._document_worker``: per-document counter reset, then
``'_:d' + sha1(context)[:12] + original_label[1:]`` — deterministic in
the (context, document) pair alone, so the expected labels can be spelled
out here without running the parser.
"""

from __future__ import annotations

import hashlib

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
DCTERMS = "http://purl.org/dc/terms/"
FOAF = "http://xmlns.com/foaf/0.1/"

DOC1 = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
  xmlns:dcterms="http://purl.org/dc/terms/"
  xmlns:foaf="http://xmlns.com/foaf/0.1/">
  <foaf:Person rdf:about="urn:person:1" foaf:name="Alice">
    <rdfs:label xml:lang="nl">Alice NL</rdfs:label>
    <rdfs:label xml:lang="en">Alice EN</rdfs:label>
    <rdfs:seeAlso rdf:resource="urn:person:2"/>
    <dcterms:creator>
      <rdf:Description>
        <rdfs:label>Anon</rdfs:label>
      </rdf:Description>
    </dcterms:creator>
  </foaf:Person>
</rdf:RDF>"""

DOC2 = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  xmlns:dcterms="http://purl.org/dc/terms/"
  xml:base="http://example.org/base">
  <rdf:Description rdf:ID="thing">
    <dcterms:title>Based</dcterms:title>
    <dcterms:relation rdf:nodeID="joe"/>
    <dcterms:abstract></dcterms:abstract>
  </rdf:Description>
  <rdf:Description rdf:nodeID="joe">
    <dcterms:title>Joe</dcterms:title>
  </rdf:Description>
</rdf:RDF>"""

NT_DOC = "\n".join([
    "# driver fixture: declared-content-type .nt path made real",
    "<urn:nt:s1> <%stype> <%sDocument> ." % (RDF, FOAF),
    '<urn:nt:s1> <%stitle> "Plain title" .' % DCTERMS,
    '<urn:nt:s1> <%slabel> "Nederlands"@nl .' % RDFS,
    '<urn:nt:s2> <%sseeAlso> <urn:nt:s1> .' % RDFS,
    "_:anon <%stitle> \"From bnode\" ." % DCTERMS,
    '<urn:nt:s2> <%stitle> "typed kept, datatype dropped"'
    "^^<http://www.w3.org/2001/XMLSchema#string> ." % DCTERMS,
    '<urn:nt:s2> <%sdescription> "esc\\nline" .' % DCTERMS,
])

TTL_DOC = """@prefix dct: <http://purl.org/dc/terms/> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@base <http://example.org/> .
PREFIX foaf: <http://xmlns.com/foaf/0.1/>

<book/1> a foaf:Document ;
    dct:title "Turtle Title" ;
    rdfs:label "Nederlands"@nl , "English"@en ;
    dct:creator [ rdfs:label "Anon Author" ] ;
    dct:extent 42 ;
    dct:available true ;
    dct:identifier "isbn"^^<http://www.w3.org/2001/XMLSchema#string> ;
    dct:relation _:joe .
_:joe dct:title "Joe" .
# collection desugars to rdf:first/rest/nil cells
<book/2> dct:subject ( <s/a> <s/b> ) ;
    dct:description \"\"\"multi
line\"\"\" .
"""

NQ_DOC = "\n".join([
    "# driver fixture: quads — 4th term = named graph, absent = default",
    '<urn:nq:s1> <%stitle> "Default graph" .' % DCTERMS,
    "<urn:nq:s1> <%stype> <%sDocument> <urn:graph:a> ." % (RDF, FOAF),
    '<urn:nq:s1> <%slabel> "Nederlands"@nl <urn:graph:a> .' % RDFS,
    "<urn:nq:s2> <%sseeAlso> <urn:nq:s1> <urn:graph:b> ." % RDFS,
    '_:anon <%stitle> "Bnode subject" <urn:graph:b> .' % DCTERMS,
    '<urn:nq:s2> <%srelation> _:anon _:g0 .' % DCTERMS,
    '<urn:nq:s2> <%stitle> "datatype dropped"'
    "^^<http://www.w3.org/2001/XMLSchema#string> <urn:graph:a> ." % DCTERMS,
    '<urn:nq:s2> <%sdescription> "esc\\nline" <urn:graph:b> .' % DCTERMS,
])

TRIG_DOC = """@prefix dct: <http://purl.org/dc/terms/> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
# bare statement = default graph
<urn:t:s0> dct:title "Default statement" .
GRAPH <urn:graph:a> {
  <urn:t:s1> a <http://xmlns.com/foaf/0.1/Document> ;
      rdfs:label "Nederlands"@nl ;
      dct:creator [ rdfs:label "Anon" ] .
}
# keyword-less graph block; optional final '.'
<urn:graph:b> {
  <urn:t:s2> dct:relation _:joe .
  _:joe dct:title "Joe"
}
# explicit default-graph block; datatype dropped
{ <urn:t:s3> dct:identifier "isbn"^^<http://www.w3.org/2001/XMLSchema#string> . }
graph _:g0 { <urn:t:s4> dct:title "In bnode graph" . }
"""

JSONLD_DOC = """{
  "@context": {
    "dct": "http://purl.org/dc/terms/",
    "title": "dct:title",
    "rel": {"@id": "dct:relation", "@type": "@id"},
    "subjects": {"@id": "dct:subject", "@type": "@id",
                 "@container": "@list"},
    "@vocab": "http://example.org/voc/",
    "@base": "http://example.org/"
  },
  "@graph": [
    {"@id": "book/1",
     "@type": "http://xmlns.com/foaf/0.1/Document",
     "title": "JSON-LD Title",
     "label": {"@value": "Nederlands", "@language": "nl"},
     "extent": {"@value": 42,
                "@type": "http://www.w3.org/2001/XMLSchema#int"},
     "rel": "book/2",
     "creator": {"name": "Anon Author"}},
    {"@id": "book/2", "subjects": ["s/a", "s/b"]},
    {"@id": "urn:graph:a",
     "@graph": [{"@id": "book/3", "title": "In graph A"}]}
  ]
}
"""

RDF_DOCS = {"doc1.rdf": DOC1, "doc2.rdf": DOC2}
NT_DOCS = {"fixture.nt": NT_DOC}
TTL_DOCS = {"fixture.ttl": TTL_DOC}
NQ_DOCS = {"fixture.nq": NQ_DOC}
TRIG_DOCS = {"fixture.trig": TRIG_DOC}
JSONLD_DOCS = {"fixture.jsonld": JSONLD_DOC}


def _scope(context: str) -> str:
    return "_:d" + hashlib.sha1(context.encode("utf-8")).hexdigest()[:12]

_B1 = _scope("file:doc1.rdf") + ":id0"   # doc1's anonymous creator bnode
_JOE = _scope("file:doc2.rdf") + ":joe"  # doc2's rdf:nodeID bnode

# (context, subj, pred, obj_value, obj_kind, obj_lang)
EXPECTED_RDF_ROWS = [
    ("file:doc1.rdf", "urn:person:1", RDF + "type", FOAF + "Person", "uri", None),
    ("file:doc1.rdf", "urn:person:1", FOAF + "name", "Alice", "literal", None),
    ("file:doc1.rdf", "urn:person:1", RDFS + "label", "Alice NL", "literal", "nl"),
    ("file:doc1.rdf", "urn:person:1", RDFS + "label", "Alice EN", "literal", "en"),
    ("file:doc1.rdf", "urn:person:1", RDFS + "seeAlso", "urn:person:2", "uri", None),
    ("file:doc1.rdf", "urn:person:1", DCTERMS + "creator", _B1, "bnode", None),
    ("file:doc1.rdf", _B1, RDFS + "label", "Anon", "literal", None),
    ("file:doc2.rdf", "http://example.org/base#thing", DCTERMS + "title",
     "Based", "literal", None),
    ("file:doc2.rdf", "http://example.org/base#thing", DCTERMS + "relation",
     _JOE, "bnode", None),
    ("file:doc2.rdf", "http://example.org/base#thing", DCTERMS + "abstract",
     "", "literal", None),
    ("file:doc2.rdf", _JOE, DCTERMS + "title", "Joe", "literal", None),
]

# (context, subj, pred, obj_value, obj_kind, obj_lang) — N-Triples keeps
# the author-chosen bnode labels verbatim (no per-document rescope: the
# line parser is stateless, labels are already document-scoped by spec)
EXPECTED_NT_ROWS = [
    ("file:fixture.nt", "urn:nt:s1", RDF + "type", FOAF + "Document", "uri", None),
    ("file:fixture.nt", "urn:nt:s1", DCTERMS + "title", "Plain title",
     "literal", None),
    ("file:fixture.nt", "urn:nt:s1", RDFS + "label", "Nederlands",
     "literal", "nl"),
    ("file:fixture.nt", "urn:nt:s2", RDFS + "seeAlso", "urn:nt:s1", "uri", None),
    ("file:fixture.nt", "_:anon", DCTERMS + "title", "From bnode",
     "literal", None),
    ("file:fixture.nt", "urn:nt:s2", DCTERMS + "title",
     "typed kept, datatype dropped", "literal", None),
    ("file:fixture.nt", "urn:nt:s2", DCTERMS + "description", "esc\nline",
     "literal", None),
]


# (context, subj, pred, obj_value, obj_kind, obj_lang) — context = graph
# term (bnode graph labels verbatim), NULL = default graph; like .nt the
# line parser keeps author bnode labels (no per-file rescope).
EXPECTED_NQ_ROWS = [
    (None, "urn:nq:s1", DCTERMS + "title", "Default graph", "literal", None),
    ("urn:graph:a", "urn:nq:s1", RDF + "type", FOAF + "Document", "uri", None),
    ("urn:graph:a", "urn:nq:s1", RDFS + "label", "Nederlands",
     "literal", "nl"),
    ("urn:graph:b", "urn:nq:s2", RDFS + "seeAlso", "urn:nq:s1", "uri", None),
    ("urn:graph:b", "_:anon", DCTERMS + "title", "Bnode subject",
     "literal", None),
    ("_:g0", "urn:nq:s2", DCTERMS + "relation", "_:anon", "bnode", None),
    ("urn:graph:a", "urn:nq:s2", DCTERMS + "title", "datatype dropped",
     "literal", None),
    ("urn:graph:b", "urn:nq:s2", DCTERMS + "description", "esc\nline",
     "literal", None),
]


# Turtle fixture transcription.  Bnode allocation order in
# rdfxml/turtle.py is parse order: the anonymous creator property list
# allocates _:id0; the two collection cells allocate _:id1/_:id2 AFTER
# their items are parsed (both items are IRIs, no allocation).  Rescope
# discipline identical to the other formats.
_TTL = _scope("file:fixture.ttl")
_ANON = _TTL + ":id0"
_CELL1, _CELL2 = _TTL + ":id1", _TTL + ":id2"
_TJOE = _TTL + ":joe"
_EX = "http://example.org/"
_NIL = RDF + "nil"

# (context, subj, pred, obj_value, obj_kind, obj_lang)
EXPECTED_TTL_ROWS = [
    ("file:fixture.ttl", _EX + "book/1", RDF + "type", FOAF + "Document",
     "uri", None),
    ("file:fixture.ttl", _EX + "book/1", DCTERMS + "title", "Turtle Title",
     "literal", None),
    ("file:fixture.ttl", _EX + "book/1", RDFS + "label", "Nederlands",
     "literal", "nl"),
    ("file:fixture.ttl", _EX + "book/1", RDFS + "label", "English",
     "literal", "en"),
    ("file:fixture.ttl", _EX + "book/1", DCTERMS + "creator", _ANON,
     "bnode", None),
    ("file:fixture.ttl", _ANON, RDFS + "label", "Anon Author",
     "literal", None),
    ("file:fixture.ttl", _EX + "book/1", DCTERMS + "extent", "42",
     "literal", None),
    ("file:fixture.ttl", _EX + "book/1", DCTERMS + "available", "true",
     "literal", None),
    ("file:fixture.ttl", _EX + "book/1", DCTERMS + "identifier", "isbn",
     "literal", None),
    ("file:fixture.ttl", _EX + "book/1", DCTERMS + "relation", _TJOE,
     "bnode", None),
    ("file:fixture.ttl", _TJOE, DCTERMS + "title", "Joe", "literal", None),
    ("file:fixture.ttl", _EX + "book/2", DCTERMS + "subject", _CELL1,
     "bnode", None),
    ("file:fixture.ttl", _CELL1, RDF + "first", _EX + "s/a", "uri", None),
    ("file:fixture.ttl", _CELL1, RDF + "rest", _CELL2, "bnode", None),
    ("file:fixture.ttl", _CELL2, RDF + "first", _EX + "s/b", "uri", None),
    ("file:fixture.ttl", _CELL2, RDF + "rest", _NIL, "uri", None),
    ("file:fixture.ttl", _EX + "book/2", DCTERMS + "description",
     "multi\nline", "literal", None),
]


# TriG fixture transcription.  context = graph label (NULL = default
# graph); bnode rescope discipline identical to Turtle, applied to the
# bnode graph label too.  Allocation order: the anonymous creator
# property list is the only anonymous bnode -> _:id0.
_TRIG = _scope("file:fixture.trig")
_TRIG_ANON = _TRIG + ":id0"
_TRIG_JOE = _TRIG + ":joe"
_TRIG_G0 = _TRIG + ":g0"

# (context, subj, pred, obj_value, obj_kind, obj_lang)
EXPECTED_TRIG_ROWS = [
    (None, "urn:t:s0", DCTERMS + "title", "Default statement",
     "literal", None),
    ("urn:graph:a", "urn:t:s1", RDF + "type", FOAF + "Document",
     "uri", None),
    ("urn:graph:a", "urn:t:s1", RDFS + "label", "Nederlands",
     "literal", "nl"),
    ("urn:graph:a", "urn:t:s1", DCTERMS + "creator", _TRIG_ANON,
     "bnode", None),
    ("urn:graph:a", _TRIG_ANON, RDFS + "label", "Anon", "literal", None),
    ("urn:graph:b", "urn:t:s2", DCTERMS + "relation", _TRIG_JOE,
     "bnode", None),
    ("urn:graph:b", _TRIG_JOE, DCTERMS + "title", "Joe", "literal", None),
    (None, "urn:t:s3", DCTERMS + "identifier", "isbn", "literal", None),
    (_TRIG_G0, "urn:t:s4", DCTERMS + "title", "In bnode graph",
     "literal", None),
]


# JSON-LD fixture transcription.  context = graph label (NULL = default
# graph); bnodes follow the per-document counter + rescoping discipline
# (nested node object first, then the two @list cells).
_JEX = "http://example.org/"
_JVOC = _JEX + "voc/"
_JB0 = _scope("file:fixture.jsonld") + ":id0"  # anonymous creator node
_JC1 = _scope("file:fixture.jsonld") + ":id1"  # list cell 1
_JC2 = _scope("file:fixture.jsonld") + ":id2"  # list cell 2

EXPECTED_JSONLD_ROWS = [
    (None, _JEX + "book/1", RDF + "type", FOAF + "Document", "uri", None),
    (None, _JEX + "book/1", DCTERMS + "title", "JSON-LD Title",
     "literal", None),
    (None, _JEX + "book/1", _JVOC + "label", "Nederlands", "literal",
     "nl"),
    (None, _JEX + "book/1", _JVOC + "extent", "42", "literal", None),
    (None, _JEX + "book/1", DCTERMS + "relation", _JEX + "book/2",
     "uri", None),
    (None, _JB0, _JVOC + "name", "Anon Author", "literal", None),
    (None, _JEX + "book/1", _JVOC + "creator", _JB0, "bnode", None),
    (None, _JEX + "book/2", DCTERMS + "subject", _JC1, "bnode", None),
    (None, _JC1, RDF + "first", _JEX + "s/a", "uri", None),
    (None, _JC1, RDF + "rest", _JC2, "bnode", None),
    (None, _JC2, RDF + "first", _JEX + "s/b", "uri", None),
    (None, _JC2, RDF + "rest", RDF + "nil", "uri", None),
    ("urn:graph:a", _JEX + "book/3", DCTERMS + "title", "In graph A",
     "literal", None),
]


def write_fixture_dir(docs: dict[str, str]) -> str:
    """Materialize fixture docs into a fresh temp directory; returns it.
    The directory lives under entry_queries' per-process scratch root,
    so it is removed at interpreter exit (advisor leak finding)."""
    import os

    from .._scratch import scratch_dir

    base = scratch_dir("rdf_fixtures_")
    for name, content in docs.items():
        with open(os.path.join(base, name), "w", encoding="utf-8") as fh:
            fh.write(content)
    return base


def values_cte(rows) -> str:
    """Rows -> a DuckDB VALUES relation with the triple column names.
    Embedded newlines use chr(10) so the SQL stays single-escaping-free."""
    def lit(v):
        if v is None:
            return "CAST(NULL AS VARCHAR)"
        parts = v.split("\n")
        quoted = ["'%s'" % p.replace("'", "''") for p in parts]
        return " || chr(10) || ".join(quoted)

    tuples = ",\n  ".join(
        "(%s)" % ", ".join(lit(v) for v in row) for row in rows)
    return ("SELECT * FROM (VALUES\n  %s\n) AS t(context, subj, pred, "
            "obj_value, obj_kind, obj_lang)" % tuples)
