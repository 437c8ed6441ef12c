"""Shared test helpers: fixture loading + canonical XML comparison."""

from __future__ import annotations

import xml.etree.ElementTree as ET
from pathlib import Path

from meresco_rdf_spark.namespaces import namespaces

DATA_DIR = Path(__file__).parent / "data"


def load_fixture(name: str, ns=None) -> str:
    """Load a fixture file; ``.tmpl`` files get %(xmlns_x)s substitution."""
    text = (DATA_DIR / name).read_text(encoding="utf-8")
    if name.endswith(".tmpl"):
        text = text % (ns or namespaces)
    return text


def _canonical(elem) -> tuple:
    """(tag, attrib, text, children); element-children elements treat text
    as formatting whitespace, leaves keep text exactly (golden fixtures pin
    trailing spaces / NBSP in literals)."""
    children = [_canonical(c) for c in elem if isinstance(c.tag, str)]
    text = None if children else (elem.text or None)
    return (elem.tag, dict(elem.attrib), text, children)


def xml_equal(expected: str, actual: str) -> None:
    """Assert canonical-XML equality (assertXmlEquals analog): namespaces
    resolved, attribute order ignored, inter-element whitespace ignored,
    child order and literal text preserved."""
    e = _canonical(ET.fromstring(expected))
    a = _canonical(ET.fromstring(actual))
    assert e == a, "XML mismatch:\nexpected: %r\nactual:   %r\n---\n%s\n---\n%s" % (
        e, a, expected, actual)


def triple_set(graph):
    """Graph -> set of hashable 5-tuples for set comparison."""
    from meresco_rdf_spark.model import node_to_row

    return {node_to_row(s, p, o) for s, p, o in graph.triples()}


def canonical_triples(rows):
    """Relabel bnodes by a 1-hop signature so triple sets compare up to
    bnode bijection (standard RDF graph isomorphism restricted to the
    reference's non-pathological cases — no symmetric bnode orbits)."""
    rows = set(rows)

    def is_b(value, kind=None):
        return (kind == "bnode") if kind else str(value).startswith("_:")

    signatures = {}
    for subj, pred, obj_value, obj_kind, obj_lang in rows:
        if is_b(subj):
            signatures.setdefault(subj, []).append(
                ("out", pred, None if obj_kind == "bnode" else obj_value,
                 obj_kind, obj_lang))
        if obj_kind == "bnode":
            signatures.setdefault(obj_value, []).append(
                ("in", pred, None if is_b(subj) else subj))
    labels = {
        b: "_:c%d" % i
        for i, (b, _) in enumerate(sorted(signatures.items(),
                                          key=lambda kv: sorted(kv[1])))
    }

    def relabel(value):
        return labels.get(value, value)

    return {
        (relabel(s), p, relabel(v) if k == "bnode" else v, k, lang)
        for s, p, v, k, lang in rows
    }


def assert_isomorphic(rows_a, rows_b):
    assert canonical_triples(rows_a) == canonical_triples(rows_b)


def assert_part_files_sorted(root, keys) -> int:
    """Read every parquet part file under ``root`` with pyarrow and assert
    its rows are in ``keys`` order (NULLs first, as Spark sorts
    ascending; byte order of UTF-8 equals code-point order).  Returns the
    number of files checked."""
    import pyarrow.parquet as pq

    files = sorted(Path(root).rglob("*.parquet"))
    for path in files:
        table = pq.read_table(path, columns=list(keys))
        rows = [tuple((row[k] is not None, "" if row[k] is None else row[k])
                      for k in keys)
                for row in table.to_pylist()]
        bad = [i for i in range(1, len(rows)) if rows[i - 1] > rows[i]]
        assert not bad, "%s: %d rows out of %s order, first at row %d" % (
            path, len(bad), list(keys), bad[0])
    return len(files)
