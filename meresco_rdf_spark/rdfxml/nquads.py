"""N-Quads (line-oriented quads) parser.

N-Quads (https://www.w3.org/TR/n-quads/) is N-Triples plus an optional
fourth term naming the graph — THE bulk interchange format for named
graphs.  It pairs with this engine's quad relations: the optional graph
label lands in the ``context`` column (absent -> NULL = the default
graph), exactly the shape the SPARQL ``GRAPH`` / ``FROM NAMED`` support
queries (``sparql/compiler.py``: default graph = context-IS-NULL rows).

No reference counterpart (the reference has no quad model at all — its
per-file contexts, ``graphcomponent.py:80``, are the closest analogue);
engine extension in the same spirit as the ``.nt`` path.  The line
grammar and the term decoding are ``ntriples.parse_line``'s: lang kept,
``^^datatype`` accepted and dropped.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

from .ntriples import parse_line


def parse_nquads_line(
        line: str) -> Optional[Tuple[Optional[str], str, str, object]]:
    """One line -> (graph-or-None, subject, predicate, object-node), or
    None for blank lines / comments.  Raises ``ValueError`` on malformed
    input."""
    return parse_line(line, quads=True)


def iter_nquads(text: str) -> Iterator[Tuple[Optional[str], str, str, object]]:
    for line in text.splitlines():
        parsed = parse_nquads_line(line)
        if parsed is not None:
            yield parsed
