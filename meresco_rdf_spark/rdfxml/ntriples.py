"""N-Triples and N-Quads (line-oriented) parser.

The reference DECLARES the ``.nt`` -> text/plain ingest path
(``meresco/rdf/graph/graphcomponent.py:68-74``) but ships no N-Triples
parser — feeding a ``.nt`` file into its ``lxml.etree.XML`` call would
fail, so the path is dead there.  This module makes the declared path
real, with the reference's node model: objects are Uri / BNode / Literal
(lang tag only — ``rdf:datatype`` is accepted syntactically and dropped,
matching the reference's documented literal model,
``meresco/rdf/graph/literal.py:39`` and ``rdfparser.py:156``).

Grammar (https://www.w3.org/TR/n-quads/, the subset without datatype
preservation): one statement per line, ``subject predicate object
[graph] .``, ``#`` comments, blank lines.  N-Triples is the case with no
graph term (https://www.w3.org/TR/n-triples/).  Escapes handled: ``\\t
\\b \\n \\r \\f \\" \\' \\\\ \\uXXXX \\UXXXXXXXX``.
"""

from __future__ import annotations

import re
from typing import Iterator, Optional, Tuple

from ..graph import Graph
from ..model import BNode, Literal, Uri

# subject and graph: IRIREF or blank node label; predicate: IRIREF;
# object: either, or a quoted literal with optional language tag /
# datatype.  The Spark line reader runs the same pattern on the JVM
# (sources.rdf_source), so it keeps to syntax Java regexes share.
LINE_RE = re.compile(
    r'^\s*'
    r'(?P<subj><[^<>\s]*>|_:\S+)\s+'
    r'(?P<pred><[^<>\s]*>)\s+'
    r'(?P<obj><[^<>\s]*>|_:\S+|"(?:[^"\\]|\\.)*"'
    r'(?:@[A-Za-z][A-Za-z0-9-]*|\^\^<[^<>\s]*>)?)'
    r'(?:\s+(?P<graph><[^<>\s]*>|_:\S+))?'
    r'\s*\.\s*$')

_ESCAPE_RE = re.compile(
    r'\\(u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8}|[tbnrf"\'\\])')

_ESCAPE_MAP = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def unescape(value: str) -> str:
    """Decode N-Triples string escapes (``\\n``, ``\\uXXXX``, ...)."""
    def sub(m: re.Match) -> str:
        esc = m.group(1)
        if esc[0] in "uU":
            return chr(int(esc[1:], 16))
        return _ESCAPE_MAP[esc]

    return _ESCAPE_RE.sub(sub, value)


def _term(tok: str, node: bool = False):
    """A term token -> its value.  An IRI or a blank node label is a
    string, or a Uri / BNode when ``node`` (the object position); a
    literal is a Literal."""
    if tok.startswith("<"):
        value = unescape(tok[1:-1])
        return Uri(value) if node else value
    if tok.startswith("_:"):
        return BNode(tok) if node else tok
    lang = None
    body = tok
    if not body.endswith('"'):
        if body.rfind("@") > body.rfind('"'):
            body, _, lang = body.rpartition("@")
        else:  # ^^<datatype>: dropped (reference literal model)
            body = body[:body.rfind("^^")]
    return Literal(unescape(body[1:-1]), lang=lang)


def parse_line(line: str, quads: bool = False
               ) -> Optional[Tuple[Optional[str], str, str, object]]:
    """One line -> (graph-or-None, subject, predicate, object-node), or
    None for blank lines and comments.  A graph term is malformed unless
    ``quads``.  Raises ``ValueError`` on malformed input."""
    stripped = line.strip()
    if not stripped or stripped.startswith("#"):
        return None
    m = LINE_RE.match(line)
    if m is None or (m.group("graph") is not None and not quads):
        raise ValueError("malformed %s line: %r"
                         % ("N-Quads" if quads else "N-Triples", stripped))
    subj, pred, obj, graph = m.group("subj", "pred", "obj", "graph")
    return (None if graph is None else _term(graph), _term(subj),
            _term(pred), _term(obj, node=True))


def parse_ntriples_line(line: str) -> Optional[Tuple[str, str, object]]:
    """One line -> (subject, predicate, object-node), or None for blank
    lines and comments.  Raises ``ValueError`` on malformed input."""
    parsed = parse_line(line)
    return None if parsed is None else parsed[1:]


def parse_ntriples(text: str, sink: Optional[Graph] = None) -> Graph:
    """Parse a whole N-Triples document into a Graph (mirror of
    ``parse_rdfxml``)."""
    graph = sink if sink is not None else Graph()
    for triple in iter_ntriples(text):
        graph.addTriple(*triple)
    return graph


def iter_ntriples(text: str) -> Iterator[Tuple[str, str, object]]:
    for line in text.splitlines():
        parsed = parse_ntriples_line(line)
        if parsed is not None:
            yield parsed
