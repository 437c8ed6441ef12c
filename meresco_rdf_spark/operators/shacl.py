"""SHACL-core validation over the distributed triple relation.

The data-quality gate a KG construction pipeline runs before publishing:
shapes declare what well-formed entities look like (cardinalities, node
kinds, value patterns, class membership), the validator emits a
violations report.  Engine extension — the reference has no validation
counterpart — covering the SHACL-core constraint subset that is
meaningful under the reference's literal model (no datatypes on
literals, SURVEY.md §1.2):

- targets:     ``sh:targetClass``, ``sh:targetSubjectsOf``,
               ``sh:targetObjectsOf``, ``sh:targetNode``
- cardinality: ``sh:minCount``, ``sh:maxCount``
- node kind:   ``sh:nodeKind`` (sh:IRI / sh:Literal / sh:BlankNode and
               the three two-kind unions)
- values:      ``sh:pattern``, ``sh:in``, ``sh:hasValue``, ``sh:class``,
               ``sh:minLength``, ``sh:maxLength``
- languages:   ``sh:languageIn``, ``sh:uniqueLang``
- ranges:      ``sh:minInclusive`` / ``sh:maxInclusive`` /
               ``sh:minExclusive`` / ``sh:maxExclusive`` — numeric
               comparison via ``try_cast('double')`` (the same
               error-as-NULL coercion the SPARQL compiler applies to
               untyped literals); a non-numeric or non-literal value
               node violates, it never errors
- pairs:       ``sh:equals``, ``sh:disjoint``, ``sh:lessThan``,
               ``sh:lessThanOrEquals`` (lexical order — the reference's
               literal model is untyped strings, SURVEY.md §1.2)
- closedness:  ``sh:closed`` + ``sh:ignoredProperties`` — one extra
               subj-keyed join of the corpus onto the closed-shape
               focus subset, then a literal predicate-complement
               filter; allowed predicates are the IRI ``sh:path``
               values of the shape's property shapes (complex paths
               open nothing, per spec) plus the ignored list
- control:     ``sh:deactivated`` (a deactivated shape validates
               nothing and every reference to it conforms),
               ``sh:severity`` on node and property shapes — exposed
               via ``validate(..., with_severity=True)`` as one more
               literal-driven report column (no join); ``conforms``
               fails only on ``sh:Violation`` rows per spec

Anything else in a shapes graph raises ``ShaclUnsupported`` loudly
(same boundary discipline as ``operators/owl.py``): a constraint that
is silently ignored is a validator that lies.

Shapes are control-plane data (a shapes graph is KB-sized — authored by
hand, never derived from the corpus), so they arrive either as Python
dicts or as a SHACL shapes graph parsed by ``shapes_from_graph`` (which
accepts the in-memory triple stream of our own Turtle/RDF-XML parsers
and walks ``rdf:first/rest`` lists driver-side).

Scale shape of ``validate`` — everything is literal-driven and
single-pass per constraint family, sized for a corpus-scale triple
table and a KB-scale shapes set:

1. focus resolution: one pass over the (pushdown-filtered) rdf:type /
   path slices per target — no dedup for ``targetClass`` (the triple
   relation has set semantics, so one typing row per subject), one
   narrow dedup for ``targetSubjectsOf``;
2. value collection: ONE join of the path-filtered triples onto the
   focus relation, keyed subj — co-located on a subj-bucketed table;
3. value-level constraints (nodeKind/pattern/in/languageIn): a single
   projection over the joined relation — per row, an array of failed
   constraint names built from a literal when-chain, exploded; NO
   per-constraint scan, no exchange;
4. count-level constraints (min/max/hasValue): one partial-aggregatable
   groupBy (shape, focus, path); the zero-count case (minCount/hasValue
   over absent paths) comes from a left join of the BROADCAST literal
   expectation relation cross the focus set — never a scan of the
   corpus;
5. ``sh:class``: one extra join of the class-constrained value slice
   against the rdf:type slice (anti-join semantics via left + null
   filter); ``sh:uniqueLang``: one extra narrow groupBy including the
   lang column, only when declared;
6. property pairs (equals/disjoint/lessThan*): per declared pair, a
   focus-keyed join of the two path slices — both sides already narrow
   (three columns), both hash-partitioned on the same focus key, and
   pair constraints are rare in real shapes graphs (the loop is over
   the KB-sized shapes set, never the corpus).

``sh:class`` checks DIRECT rdf:type rows; run ``operators.rdfs_closure``
first for rdfs:subClassOf semantics (SHACL's "SHACL instance of").

Report columns: ``shape_id, focus, path, constraint, value`` — value is
the offending term for value-level constraints and the stringified
count for cardinality constraints.
"""

from __future__ import annotations

from typing import Iterable, List, Optional, Union

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDF_FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
RDF_REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
RDF_NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"

SH = "http://www.w3.org/ns/shacl#"
SH_NODE_SHAPE = SH + "NodeShape"
_NODE_KINDS = {SH + "IRI": ("uri",), SH + "Literal": ("literal",),
               SH + "BlankNode": ("bnode",),
               SH + "BlankNodeOrIRI": ("bnode", "uri"),
               SH + "BlankNodeOrLiteral": ("bnode", "literal"),
               SH + "IRIOrLiteral": ("uri", "literal")}

REPORT_COLS = ["shape_id", "focus", "path", "constraint", "value"]

_PROP_KEYS = ("path", "path_expr", "node",
              "qualified_shape", "qualified_min", "qualified_max",
              "min_count", "max_count", "node_kind", "pattern",
              "in", "class", "has_value", "language_in", "unique_lang",
              "min_length", "max_length",
              "min_inclusive", "max_inclusive",
              "min_exclusive", "max_exclusive",
              "equals", "disjoint", "less_than", "less_than_or_equals",
              "deactivated", "severity")

# range-constraint key -> SHACL constraint-component name in the report
_RANGE_KEYS = (("min_inclusive", "minInclusive"),
               ("max_inclusive", "maxInclusive"),
               ("min_exclusive", "minExclusive"),
               ("max_exclusive", "maxExclusive"))

# pair-constraint key -> SHACL constraint-component name in the report
_PAIR_KEYS = (("equals", "equals"), ("disjoint", "disjoint"),
              ("less_than", "lessThan"),
              ("less_than_or_equals", "lessThanOrEquals"))

_TARGET_KEYS = frozenset(
    {"target_class", "target_subjects_of", "target_objects_of",
     "target_node"})


class ShaclUnsupported(ValueError):
    """A shapes-graph construct outside the supported SHACL-core subset."""


def _numeric_bound(pred: str, val) -> float:
    """Parse a sh:min/maxInclusive/Exclusive bound, keeping the module's
    loud-rejection discipline: a non-numeric bound literal is a shapes
    authoring error, reported as ShaclUnsupported rather than a bare
    ValueError from float()."""
    try:
        return float(val)
    except (TypeError, ValueError):
        raise ShaclUnsupported(
            "non-numeric %s bound %r" % (pred.rsplit("#", 1)[-1], val))


# --------------------------------------------------------------------------
# shapes-graph parsing (driver-side; shapes graphs are KB-sized)
# --------------------------------------------------------------------------

def _term(node) -> tuple:
    """Model node -> (value, kind, lang)."""
    kind = type(node).__name__.lower()
    if kind == "bnode":
        return node.value, "bnode", None
    if kind == "literal":
        return node.value, "literal", getattr(node, "lang", None)
    return node.value, "uri", None


def shapes_from_graph(shape_triples: Iterable[tuple]) -> List[dict]:
    """Parse a SHACL shapes graph into validate()'s shape dicts.

    Accepts the ``(subj, pred, node)`` stream our pure parsers yield
    (``iter_turtle`` / ``parse_rdfxml(...).triples()``).  Shapes are
    subjects typed ``sh:NodeShape``; constraint kinds outside the
    supported subset raise ``ShaclUnsupported``."""
    by_subj: dict = {}
    for s, p, o in shape_triples:
        by_subj.setdefault(s, []).append((p, _term(o)))

    def rdf_list_terms(head: str) -> List[tuple]:
        out: List[tuple] = []
        node = head
        while node != RDF_NIL:
            entries = dict(by_subj.get(node, []))
            if RDF_FIRST not in entries:
                raise ShaclUnsupported("malformed RDF list at %s" % node)
            out.append(entries[RDF_FIRST][:2])
            node = entries.get(RDF_REST, (RDF_NIL,))[0]
        return out

    def rdf_list(head: str) -> List[str]:
        return [v for v, _k in rdf_list_terms(head)]

    shapes = []
    for subj, po in by_subj.items():
        if (RDF_TYPE, (SH_NODE_SHAPE, "uri", None)) not in po:
            continue
        shape = {"id": subj, "properties": []}
        for p, (val, kind, _lang) in po:
            if p == RDF_TYPE:
                continue
            elif p == SH + "targetClass":
                shape["target_class"] = val
            elif p == SH + "targetSubjectsOf":
                shape["target_subjects_of"] = val
            elif p == SH + "targetObjectsOf":
                shape["target_objects_of"] = val
            elif p == SH + "targetNode":
                shape.setdefault("target_node", []).append(val)
            elif p == SH + "property":
                shape["properties"].append(_parse_property(
                    by_subj, val, rdf_list, rdf_list_terms))
            elif p in (SH + "or", SH + "and", SH + "xone"):
                shape[p[len(SH):]] = [
                    _parse_operand(by_subj, v, k, rdf_list, rdf_list_terms)
                    for v, k in rdf_list_terms(val)]
            elif p == SH + "not":
                shape["not"] = _parse_operand(
                    by_subj, val, kind, rdf_list, rdf_list_terms)
            elif p == SH + "closed":
                shape["closed"] = val == "true"
            elif p == SH + "ignoredProperties":
                shape["ignored_properties"] = rdf_list(val)
            elif p == SH + "deactivated":
                shape["deactivated"] = val == "true"
            elif p == SH + "severity":
                if kind != "uri":
                    raise ShaclUnsupported(
                        "sh:severity must be an IRI (got %s)" % val)
                shape["severity"] = val
            else:
                raise ShaclUnsupported("unsupported shape predicate %s" % p)
        shapes.append(shape)
    if not shapes:
        raise ShaclUnsupported("shapes graph contains no sh:NodeShape")
    # a target-less shape is legal ONLY as a library shape referenced
    # through some property's sh:node or a logical operand
    referenced = _referenced_shape_ids(shapes)
    for shape in shapes:
        if (not (_TARGET_KEYS & set(shape))
                and shape["id"] not in referenced
                and not shape.get("deactivated")):
            raise ShaclUnsupported(
                "shape %s declares no target" % shape["id"])
    return shapes


_PATH_QUANTS = {SH + "zeroOrMorePath": "zero_or_more",
                SH + "oneOrMorePath": "one_or_more",
                SH + "zeroOrOnePath": "zero_or_one"}


def _parse_path_node(by_subj: dict, val: str, kind: str,
                     rdf_list_terms) -> tuple:
    """SHACL property-path structure (§2.3.1) -> nested expr tuple:
    ('iri', uri) | ('inv', sub) | ('seq', (sub, ...)) |
    ('alt', (sub, ...)) | ('zero_or_more'|'one_or_more'|'zero_or_one',
    sub).  Predicate paths are plain IRIs; everything else is a blank
    node carrying sh:inversePath / sh:alternativePath / sh:*Path or an
    RDF list (sequence path)."""
    if kind == "uri":
        return ("iri", val)
    if kind != "bnode":
        raise ShaclUnsupported(
            "sh:path must be an IRI or a path structure (got %s)" % val)
    entries = by_subj.get(val, [])
    d = {p: t for p, t in entries}
    if RDF_FIRST in d:
        parts = tuple(
            _parse_path_node(by_subj, v, k, rdf_list_terms)
            for v, k in rdf_list_terms(val))
        if len(parts) < 2:
            raise ShaclUnsupported(
                "sequence path needs at least two elements")
        return ("seq", parts)
    if SH + "inversePath" in d:
        v, k = d[SH + "inversePath"][:2]
        return ("inv", _parse_path_node(by_subj, v, k, rdf_list_terms))
    if SH + "alternativePath" in d:
        head = d[SH + "alternativePath"][0]
        parts = tuple(
            _parse_path_node(by_subj, v, k, rdf_list_terms)
            for v, k in rdf_list_terms(head))
        if len(parts) < 2:
            raise ShaclUnsupported(
                "alternative path needs at least two elements")
        return ("alt", parts)
    for pred, tag in _PATH_QUANTS.items():
        if pred in d:
            v, k = d[pred][:2]
            return (tag, _parse_path_node(by_subj, v, k, rdf_list_terms))
    raise ShaclUnsupported("unsupported path structure at %s" % val)


def _render_path(expr: tuple) -> str:
    """Canonical SPARQL-syntax rendering of a path expr — the report's
    ``path`` column and the dedup key for shared path relations."""
    tag = expr[0]
    if tag == "iri":
        return expr[1]

    def wrap(e: tuple) -> str:
        r = _render_path(e)
        return r if e[0] == "iri" else "(%s)" % r

    if tag == "inv":
        return "^" + wrap(expr[1])
    if tag == "seq":
        return "/".join(wrap(e) for e in expr[1])
    if tag == "alt":
        return "|".join(wrap(e) for e in expr[1])
    return wrap(expr[1]) + {"zero_or_more": "*", "one_or_more": "+",
                            "zero_or_one": "?"}[tag]


def _referenced_shape_ids(shapes: List[dict]) -> set:
    """Shape ids reachable through sh:node or logical operand refs —
    these may legally lack targets (library shapes)."""
    refs = {prop[k] for s in shapes for prop in s.get("properties", ())
            for k in ("node", "qualified_shape") if prop.get(k)}
    for s in shapes:
        operands = (list(s.get("or", ())) + list(s.get("and", ()))
                    + list(s.get("xone", ())))
        if s.get("not"):
            operands.append(s["not"])
        refs.update(op[1] for op in operands if op[0] == "ref")
    return refs


def _parse_operand(by_subj: dict, val: str, kind: str, rdf_list,
                   rdf_list_terms) -> tuple:
    """A logical-constraint operand (sh:or / sh:and / sh:not): either a
    NAMED node shape (('ref', iri) — resolved against the shapes graph
    at validation) or an INLINE anonymous property shape carrying
    sh:path (('props', prop_dict))."""
    if kind == "uri":
        return ("ref", val)
    if kind != "bnode":
        raise ShaclUnsupported(
            "logical operand must be a shape reference or an inline "
            "property shape (got %s)" % val)
    prop = _parse_property(by_subj, val, rdf_list, rdf_list_terms)
    return ("props", prop)


def _parse_property(by_subj: dict, node: str, rdf_list,
                    rdf_list_terms=None) -> dict:
    prop: dict = {}
    for p, (val, kind, _lang) in by_subj.get(node, []):
        if p == SH + "path":
            if kind == "uri":
                prop["path"] = val
            elif rdf_list_terms is None:
                raise ShaclUnsupported(
                    "only IRI paths are supported (got %s)" % val)
            else:
                expr = _parse_path_node(by_subj, val, kind, rdf_list_terms)
                prop["path"] = _render_path(expr)
                prop["path_expr"] = expr
        elif p == SH + "minCount":
            prop["min_count"] = int(val)
        elif p == SH + "maxCount":
            prop["max_count"] = int(val)
        elif p == SH + "minLength":
            prop["min_length"] = int(val)
        elif p == SH + "maxLength":
            prop["max_length"] = int(val)
        elif p == SH + "equals":
            prop["equals"] = val
        elif p == SH + "disjoint":
            prop["disjoint"] = val
        elif p == SH + "lessThan":
            prop["less_than"] = val
        elif p == SH + "lessThanOrEquals":
            prop["less_than_or_equals"] = val
        elif p == SH + "nodeKind":
            if val not in _NODE_KINDS:
                raise ShaclUnsupported("unsupported sh:nodeKind %s" % val)
            prop["node_kind"] = _NODE_KINDS[val]
        elif p == SH + "pattern":
            prop["pattern"] = val
        elif p == SH + "in":
            prop["in"] = rdf_list(val)
        elif p == SH + "class":
            prop["class"] = val
        elif p == SH + "hasValue":
            prop["has_value"] = val
        elif p == SH + "node":
            if kind != "uri":
                raise ShaclUnsupported(
                    "sh:node must reference a named shape (got %s)" % val)
            prop["node"] = val
        elif p == SH + "qualifiedValueShape":
            if kind != "uri":
                raise ShaclUnsupported(
                    "sh:qualifiedValueShape must reference a named "
                    "shape (got %s)" % val)
            prop["qualified_shape"] = val
        elif p == SH + "qualifiedMinCount":
            prop["qualified_min"] = int(val)
        elif p == SH + "qualifiedMaxCount":
            prop["qualified_max"] = int(val)
        elif p == SH + "languageIn":
            prop["language_in"] = rdf_list(val)
        elif p == SH + "uniqueLang":
            prop["unique_lang"] = val == "true"
        elif p == SH + "minInclusive":
            prop["min_inclusive"] = _numeric_bound(p, val)
        elif p == SH + "maxInclusive":
            prop["max_inclusive"] = _numeric_bound(p, val)
        elif p == SH + "minExclusive":
            prop["min_exclusive"] = _numeric_bound(p, val)
        elif p == SH + "maxExclusive":
            prop["max_exclusive"] = _numeric_bound(p, val)
        elif p == SH + "deactivated":
            prop["deactivated"] = val == "true"
        elif p == SH + "severity":
            if kind != "uri":
                raise ShaclUnsupported(
                    "sh:severity must be an IRI (got %s)" % val)
            prop["severity"] = val
        else:
            raise ShaclUnsupported("unsupported property constraint %s" % p)
    if "path" not in prop:
        raise ShaclUnsupported("property shape %s has no sh:path" % node)
    return prop


def _check_shapes(shapes: List[dict]) -> None:
    referenced = _referenced_shape_ids(shapes)
    for shape in shapes:
        if not shape.get("id"):
            raise ShaclUnsupported("shape without id")
        unknown = (set(shape) - _TARGET_KEYS
                   - {"id", "properties", "or", "and", "not", "xone",
                      "closed", "ignored_properties",
                      "deactivated", "severity"})
        if unknown:
            raise ShaclUnsupported(
                "unsupported shape keys %s in %s"
                % (sorted(unknown), shape["id"]))
        if (not any(shape.get(k) for k in _TARGET_KEYS)
                and shape["id"] not in referenced
                and not shape.get("deactivated")):
            raise ShaclUnsupported("shape %s declares no target" % shape["id"])
        for prop in shape.get("properties", ()):
            unknown = set(prop) - set(_PROP_KEYS)
            if unknown:
                raise ShaclUnsupported(
                    "unsupported constraint keys %s in shape %s"
                    % (sorted(unknown), shape["id"]))
            if not prop.get("path"):
                raise ShaclUnsupported("property without path in %s" % shape["id"])


# --------------------------------------------------------------------------
# validation
# --------------------------------------------------------------------------

def _path_edges_expr(triples: DataFrame, expr: tuple,
                     with_ctx: bool = False):
    """Compile a path expr to its (focus -> value) edge relation:
    ``(src, src_kind, src_lang, dst, dst_kind, dst_lang[, ctx])``
    distinct rows, plus a ``zero`` flag — True when the path also
    matches the empty walk (the focus node is then one of its own value
    nodes; the flag BUBBLES through composition instead of
    materializing identity rows, so ``p/q*`` becomes ``p/q+ UNION p``
    and only the top level ever adds the focus itself).  Quantifiers
    reuse the SPARQL compiler's semi-naive ``closure_of_edges`` on full
    term identity — an inverse step legitimately makes a literal a path
    source.  With ``with_ctx`` (per-named-graph validation) the
    relation carries a normalized ``_g`` column: every frame keeps a
    ``ctx`` column and sequence/closure joins add ctx equality, so
    paths never cross graph boundaries — one job, no per-graph loop."""
    from ..sparql.compiler import closure_of_edges

    tag = expr[0]
    subj_kind = (F.when(F.col("subj").startswith("_:"), F.lit("bnode"))
                 .otherwise(F.lit("uri")))
    ctx = [F.col("_g").alias("ctx")] if with_ctx else []
    if tag == "iri":
        return (triples.filter(F.col("pred") == expr[1]).select(
            F.col("subj").alias("src"), subj_kind.alias("src_kind"),
            F.lit(None).cast("string").alias("src_lang"),
            F.col("obj_value").alias("dst"),
            F.col("obj_kind").alias("dst_kind"),
            F.col("obj_lang").alias("dst_lang"), *ctx).distinct(), False)
    if tag == "inv":
        e, z = _path_edges_expr(triples, expr[1], with_ctx)
        keep = ["ctx"] if with_ctx else []
        return (e.select(
            F.col("dst").alias("src"), F.col("dst_kind").alias("src_kind"),
            F.col("dst_lang").alias("src_lang"),
            F.col("src").alias("dst"), F.col("src_kind").alias("dst_kind"),
            F.col("src_lang").alias("dst_lang"), *keep), z)
    if tag == "alt":
        parts = [_path_edges_expr(triples, e, with_ctx) for e in expr[1]]
        out = parts[0][0]
        for e, _z in parts[1:]:
            out = out.unionByName(e)
        return out.distinct(), any(z for _e, z in parts)
    if tag == "seq":
        cur, zcur = _path_edges_expr(triples, expr[1][0], with_ctx)
        for sub in expr[1][1:]:
            nxt, znxt = _path_edges_expr(triples, sub, with_ctx)
            cond = ((F.col("l.dst") == F.col("r.src"))
                    & (F.col("l.dst_kind") == F.col("r.src_kind"))
                    & F.col("l.dst_lang").eqNullSafe(F.col("r.src_lang")))
            if with_ctx:
                cond = cond & (F.col("l.ctx") == F.col("r.ctx"))
            sel = [F.col("l.src").alias("src"),
                   F.col("l.src_kind").alias("src_kind"),
                   F.col("l.src_lang").alias("src_lang"),
                   F.col("r.dst").alias("dst"),
                   F.col("r.dst_kind").alias("dst_kind"),
                   F.col("r.dst_lang").alias("dst_lang")]
            if with_ctx:
                sel.append(F.col("l.ctx").alias("ctx"))
            joined = cur.alias("l").join(nxt.alias("r"), cond).select(*sel)
            if znxt:
                joined = joined.unionByName(cur)
            if zcur:
                joined = joined.unionByName(nxt)
            cur, zcur = joined.distinct(), zcur and znxt
        return cur, zcur
    e, z = _path_edges_expr(triples, expr[1], with_ctx)
    if tag == "one_or_more":
        return closure_of_edges(e, with_ctx=with_ctx), z
    if tag == "zero_or_more":
        return closure_of_edges(e, with_ctx=with_ctx), True
    if tag == "zero_or_one":
        return e, True
    raise ShaclUnsupported("unknown path expr %r" % (tag,))


def validate(triples: DataFrame, shapes: Union[List[dict], Iterable[tuple]],
             only_focus: Optional[DataFrame] = None,
             per_graph: bool = False,
             with_severity: bool = False) -> DataFrame:
    """Violations report for ``shapes`` over the triple relation (empty
    frame = conforms).  See the module docstring for the plan shape.

    ``only_focus`` — optional ``(shape_id, focus)`` relation restricting
    validation to those focus nodes (semi-join after target resolution,
    so rows naming non-focus nodes are ignored, never invented).  The
    incremental lever: ``streaming/shacl_stream.py`` revalidates only
    the focus nodes a micro-batch could have affected.

    ``with_severity`` — append a ``severity`` column: the source
    shape's ``sh:severity`` (property-shape declaration wins over the
    owning node shape; default ``sh:Violation``).  Pure literal
    when-chain keyed (shape_id, path) — severities are shapes-graph
    data, so no join and no exchange; two property shapes on the same
    (shape, path) with conflicting severities are rejected loudly.

    ``per_graph`` — validate a QUAD relation (extra ``context`` column)
    one named graph at a time, in ONE job: the graph label rides every
    join and groupBy as one more key (targets, value collection,
    cardinality, pairs, paths, sh:node recursion), so no per-graph loop
    and no cross-graph leakage.  The report gains a ``graph`` column
    (NULL = the default graph).  ``sh:targetNode`` names a focus in
    EVERY graph of the dataset."""
    if not isinstance(shapes, list) or (shapes and not isinstance(shapes[0], dict)):
        shapes = shapes_from_graph(shapes)
    _check_shapes(shapes)
    spark = triples.sparkSession
    rcols = list(REPORT_COLS)
    if per_graph:
        if "context" not in triples.columns:
            raise ShaclUnsupported(
                "per_graph validation needs a quad relation "
                "(a 'context' column)")
        # normalize the default graph's NULL context to a sentinel so
        # graph equality works as a plain join key; restored at the end
        triples = triples.withColumn(
            "_g", F.coalesce(F.col("context"), F.lit("")))
        rcols.insert(1, "graph")
    gsel = [F.col("_g").alias("graph")] if per_graph else []
    gkey = ["graph"] if per_graph else []
    by_id = {s["id"]: s for s in shapes}
    # library shapes (no targets, referenced via sh:node) contribute no
    # focus of their own — they are validated against the value nodes of
    # the properties that reference them.  A deactivated shape validates
    # nothing (SHACL §2.1.3.3).
    targeted = [s for s in shapes
                if not s.get("deactivated")
                and any(s.get(k) for k in _TARGET_KEYS)]
    if with_severity:
        rcols.append("severity")
    if not targeted:
        return local_frame(
            spark,
            [], ", ".join("%s string" % c for c in rcols))

    # -- focus resolution ---------------------------------------------------
    focus_parts = []
    for shape in targeted:
        sid = F.lit(shape["id"]).alias("shape_id")
        mine = []
        if shape.get("target_class"):
            mine.append(
                triples.filter(
                    (F.col("pred") == RDF_TYPE)
                    & (F.col("obj_value") == shape["target_class"]))
                .select(sid, *gsel, F.col("subj").alias("focus")))
        if shape.get("target_subjects_of"):
            mine.append(
                triples.filter(F.col("pred") == shape["target_subjects_of"])
                .select(sid, *gsel, F.col("subj").alias("focus"))
                .dropDuplicates(["shape_id", *gkey, "focus"]))
        if shape.get("target_objects_of"):
            mine.append(
                triples.filter(F.col("pred") == shape["target_objects_of"])
                .select(sid, *gsel, F.col("obj_value").alias("focus"))
                .dropDuplicates(["shape_id", *gkey, "focus"]))
        if shape.get("target_node"):
            # explicit nodes are focus nodes whether or not they appear in
            # the data (SHACL: a targetNode with a minCount that finds no
            # triples MUST still yield the zero-count violation)
            nodes = F.broadcast(local_frame(
                spark,
                [(shape["id"], n) for n in shape["target_node"]],
                "shape_id string, focus string"))
            if per_graph:
                nodes = (triples.select(F.col("_g").alias("graph"))
                         .dropDuplicates().crossJoin(nodes)
                         .select("shape_id", "graph", "focus"))
            mine.append(nodes)
        if len(mine) > 1:
            # a focus node reachable through several targets must be
            # checked ONCE — duplicate focus rows would double every
            # per-focus count.  Only multi-target shapes pay this dedup.
            part = mine[0]
            for extra in mine[1:]:
                part = part.unionByName(extra)
            mine = [part.dropDuplicates(["shape_id", *gkey, "focus"])]
        focus_parts.append(mine[0])
    focus = focus_parts[0]
    for part in focus_parts[1:]:
        focus = focus.unionByName(part)
    if only_focus is not None:
        focus = focus.join(
            only_focus.select("shape_id", "focus"),
            ["shape_id", "focus"], "left_semi")
    rep = _report_for_focus(triples, targeted, focus, by_id, frozenset(),
                            per_graph=per_graph)
    if with_severity:
        rep = rep.withColumn("severity", _severity_expr(shapes))
    if per_graph:
        rep = rep.withColumn(
            "graph", F.when(F.col("graph") == "", F.lit(None))
                      .otherwise(F.col("graph")))
    return rep.select(*rcols)


def _severity_expr(shapes: List[dict]):
    """Literal when-chain resolving each report row's severity from the
    shapes set: property-shape ``sh:severity`` keyed (shape_id, path)
    first, then the owning node shape's, default ``sh:Violation``."""
    prop_sev: dict = {}
    for shape in shapes:
        for prop in shape.get("properties", ()):
            if not prop.get("severity"):
                continue
            key = (shape["id"], prop["path"])
            if prop_sev.setdefault(key, prop["severity"]) != prop["severity"]:
                raise ShaclUnsupported(
                    "conflicting sh:severity for path %s in shape %s"
                    % (prop["path"], shape["id"]))
    expr = F.lit(SH + "Violation")
    for shape in shapes:
        if shape.get("severity"):
            expr = F.when(F.col("shape_id") == shape["id"],
                          F.lit(shape["severity"])).otherwise(expr)
    for (sid, path), sev in sorted(prop_sev.items()):
        expr = F.when((F.col("shape_id") == sid) & (F.col("path") == path),
                      F.lit(sev)).otherwise(expr)
    return expr


def _report_for_focus(triples: DataFrame, shapes: List[dict],
                      focus: DataFrame, by_id: dict,
                      stack: frozenset,
                      per_graph: bool = False) -> DataFrame:
    """The constraint algebra over a resolved ``(shape_id[, graph],
    focus)`` relation — shared by top-level validation and ``sh:node``
    recursion (where the focus frame is the referencing property's value
    nodes and ``stack`` carries the in-flight shape ids for cycle
    detection).  With ``per_graph`` the normalized graph label is one
    more key in every join and aggregation — ONE job validates every
    named graph, nothing ever crosses a graph boundary."""
    spark = triples.sparkSession
    gkey = ["graph"] if per_graph else []

    # -- value collection: one subj-keyed join ------------------------------
    # (deactivated property shapes validate nothing; their sh:path still
    # counts toward sh:closed's allowed set, which reads
    # shape["properties"] directly)
    declared = [(shape["id"], prop) for shape in shapes
                for prop in shape.get("properties", ())
                if not prop.get("deactivated")]
    # pair constraints compare against a SECOND path, whose values must
    # ride the same value-collection join even when no property shape
    # declares it directly
    pair_decls = [(sid, prop["path"], prop[key], cname)
                  for sid, prop in declared
                  for key, cname in _PAIR_KEYS if prop.get(key)]
    scope_pairs = {(sid, prop["path"]) for sid, prop in declared}
    scope_pairs.update((sid, other) for sid, _, other, _ in pair_decls)
    # non-IRI sh:path structures compile to their own (focus -> value)
    # relation; the common all-IRI case stays on the single fused join
    path_exprs: dict = {}
    for _, prop in declared:
        expr = prop.get("path_expr", ("iri", prop["path"]))
        if path_exprs.setdefault(prop["path"], expr) != expr:
            raise ShaclUnsupported(
                "path string %r names two different path structures"
                % prop["path"])
    complex_exprs = {p: e for p, e in path_exprs.items() if e[0] != "iri"}
    simple_pairs = {(sid, p) for sid, p in scope_pairs
                    if p not in complex_exprs}
    all_paths = sorted({path for _, path in simple_pairs})
    in_scope = F.lit(False)  # shapes may declare targets but no properties
    for sid, path in sorted(simple_pairs):
        cond = (F.col("shape_id") == sid) & (F.col("pred") == path)
        in_scope = in_scope | cond
    val_join = triples["subj"] == focus["focus"]
    if per_graph:
        val_join = val_join & (triples["_g"] == focus["graph"])
    vals = (
        triples.filter(F.col("pred").isin(all_paths))
        .join(focus, val_join)
        .filter(in_scope)
        .select("shape_id", *gkey, "focus", F.col("pred").alias("path"),
                "obj_value", "obj_kind", "obj_lang")
    )
    for path_str in sorted(complex_exprs):
        sids = sorted(sid for sid, p in scope_pairs if p == path_str)
        foc = focus.filter(F.col("shape_id").isin(sids))
        edges, zero = _path_edges_expr(triples, complex_exprs[path_str],
                                       with_ctx=per_graph)
        edge_join = edges["src"] == foc["focus"]
        if per_graph:
            edge_join = edge_join & (edges["ctx"] == foc["graph"])
        part = (edges.join(foc, edge_join)
                .select("shape_id", *gkey, "focus",
                        F.lit(path_str).alias("path"),
                        F.col("dst").alias("obj_value"),
                        F.col("dst_kind").alias("obj_kind"),
                        F.col("dst_lang").alias("obj_lang")))
        if zero:
            # the empty walk: every focus node is one of its own value
            # nodes (focus kind derived; focus rows are never literals)
            part = part.unionByName(foc.select(
                "shape_id", *gkey, "focus", F.lit(path_str).alias("path"),
                F.col("focus").alias("obj_value"),
                F.when(F.col("focus").startswith("_:"), F.lit("bnode"))
                 .otherwise(F.lit("uri")).alias("obj_kind"),
                F.lit(None).cast("string").alias("obj_lang")))
        # SHACL counts VALUE NODES (a set): a value reachable along
        # several walks — or via both a cycle and the empty walk —
        # counts once
        vals = vals.unionByName(part.dropDuplicates())

    reports = []
    rcols = ["shape_id", *gkey, "focus", "path", "constraint", "value"]

    # -- value-level constraints: one projection, no exchange ---------------
    fail_branches = []
    for sid, prop in declared:
        here = (F.col("shape_id") == sid) & (F.col("path") == prop["path"])
        if prop.get("node_kind"):
            kinds = prop["node_kind"]
            if isinstance(kinds, str):
                kinds = (kinds,)
            fail_branches.append(F.when(
                here & ~F.col("obj_kind").isin(list(kinds)),
                F.lit("nodeKind")))
        if prop.get("min_length") is not None:
            fail_branches.append(F.when(
                here & ((F.col("obj_kind") == "bnode")
                        | (F.length("obj_value") < prop["min_length"])),
                F.lit("minLength")))
        if prop.get("max_length") is not None:
            fail_branches.append(F.when(
                here & ((F.col("obj_kind") == "bnode")
                        | (F.length("obj_value") > prop["max_length"])),
                F.lit("maxLength")))
        if prop.get("pattern"):
            fail_branches.append(F.when(
                here & ((F.col("obj_kind") == "bnode")
                        | ~F.col("obj_value").rlike(prop["pattern"])),
                F.lit("pattern")))
        if prop.get("in") is not None:
            fail_branches.append(F.when(
                here & ~F.col("obj_value").isin(prop["in"]),
                F.lit("in")))
        if prop.get("language_in") is not None:
            # coalesce: a lang-less literal has obj_lang NULL, and
            # NULL.isin(...) is NULL — which a bare when() would silently
            # skip instead of flagging
            ok_lang = (F.col("obj_kind") == "literal") & F.coalesce(
                F.col("obj_lang").isin(prop["language_in"]), F.lit(False))
            fail_branches.append(F.when(here & ~ok_lang, F.lit("languageIn")))
        for key, cname in _RANGE_KEYS:
            if prop.get(key) is None:
                continue
            # numeric comparison with error-as-NULL coercion: a value
            # node that is not a literal, or whose lexical form is not
            # numeric, is a violation (never a query error) — coalesce
            # turns the NULL comparison into an explicit fail
            num = F.col("obj_value").try_cast("double")
            bound = F.lit(float(prop[key]))
            cmpres = {"minInclusive": num >= bound,
                      "maxInclusive": num <= bound,
                      "minExclusive": num > bound,
                      "maxExclusive": num < bound}[cname]
            ok_num = (F.col("obj_kind") == "literal") & F.coalesce(
                cmpres, F.lit(False))
            fail_branches.append(F.when(here & ~ok_num, F.lit(cname)))
    if fail_branches:
        reports.append(
            vals.select(
                "shape_id", *gkey, "focus", "path",
                F.col("obj_value").alias("value"),
                F.explode(F.array_compact(
                    F.array(*fail_branches))).alias("constraint"))
            .select(*rcols))

    # -- cardinality + hasValue: one groupBy, zero-case via broadcast -------
    expect_rows = [
        (sid, prop["path"], prop.get("min_count"), prop.get("max_count"),
         prop.get("has_value"))
        for sid, prop in declared
        if prop.get("min_count") is not None
        or prop.get("max_count") is not None
        or prop.get("has_value") is not None
    ]
    if expect_rows:
        expected = F.broadcast(local_frame(
            spark,
            expect_rows,
            "shape_id string, path string, min_count int, max_count int, "
            "has_value string"))
        hit_exprs = None
        for sid, prop in declared:
            if prop.get("has_value") is None:
                continue
            cond = ((F.col("shape_id") == sid)
                    & (F.col("path") == prop["path"])
                    & (F.col("obj_value") == prop["has_value"]))
            hit_exprs = cond if hit_exprs is None else (hit_exprs | cond)
        counts = vals.groupBy("shape_id", *gkey, "focus", "path").agg(
            F.count("*").alias("cnt"),
            F.max((hit_exprs if hit_exprs is not None else F.lit(False))
                  .cast("int")).alias("has_hit"))
        per_focus = (
            focus.join(expected, "shape_id")
            .join(counts, ["shape_id", *gkey, "focus", "path"], "left")
            .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
            .withColumn("has_hit", F.coalesce(F.col("has_hit"), F.lit(0)))
        )
        card = per_focus.select(
            "shape_id", *gkey, "focus", "path",
            F.col("cnt").cast("string").alias("value"),
            F.explode(F.array_compact(F.array(
                F.when(F.col("cnt") < F.col("min_count"), F.lit("minCount")),
                F.when(F.col("cnt") > F.col("max_count"), F.lit("maxCount")),
                F.when(F.col("has_value").isNotNull() & (F.col("has_hit") == 0),
                       F.lit("hasValue")),
            ))).alias("constraint"))
        reports.append(card.select(*rcols))

    # -- sh:class: one join against the rdf:type slice ----------------------
    class_cond, class_expr = None, F.lit(None).cast("string")
    for sid, prop in declared:
        if prop.get("class") is None:
            continue
        here = (F.col("shape_id") == sid) & (F.col("path") == prop["path"])
        class_cond = here if class_cond is None else (class_cond | here)
        class_expr = F.when(here, F.lit(prop["class"])).otherwise(class_expr)
    if class_cond is not None:
        cvals = vals.filter(class_cond).withColumn("want_class", class_expr)
        tsel = [F.col("subj").alias("inst"),
                F.col("obj_value").alias("cls_of")]
        if per_graph:
            tsel.append(F.col("_g").alias("type_g"))
        typed = triples.filter(F.col("pred") == RDF_TYPE).select(*tsel)
        class_join = ((cvals["obj_value"] == typed["inst"])
                      & (cvals["want_class"] == typed["cls_of"]))
        if per_graph:
            # the value's type must hold in the SAME named graph
            class_join = class_join & (cvals["graph"] == typed["type_g"])
        missing = (
            cvals.join(typed, class_join, "left")
            .filter(F.col("inst").isNull()
                    | (F.col("obj_kind") == "literal"))
            .select("shape_id", *gkey, "focus", "path",
                    F.col("obj_value").alias("value"),
                    F.lit("class").alias("constraint"))
        )
        reports.append(missing.select(*rcols))

    # -- sh:uniqueLang: narrow lang-keyed groupBy, only when declared -------
    ul_cond = None
    for sid, prop in declared:
        if not prop.get("unique_lang"):
            continue
        here = (F.col("shape_id") == sid) & (F.col("path") == prop["path"])
        ul_cond = here if ul_cond is None else (ul_cond | here)
    if ul_cond is not None:
        dup_langs = (
            vals.filter(ul_cond & (F.col("obj_kind") == "literal")
                        & F.col("obj_lang").isNotNull())
            .groupBy("shape_id", *gkey, "focus", "path", "obj_lang")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1)
            .select("shape_id", *gkey, "focus", "path",
                    F.col("obj_lang").alias("value"),
                    F.lit("uniqueLang").alias("constraint"))
        )
        reports.append(dup_langs.select(*rcols))

    # -- property pairs: one focus-keyed join per declared pair -------------
    # (pair constraints are rare and shapes are KB-sized, so a literal-
    # driven loop; each join is narrow and keyed on the focus node).
    # equals is checked in BOTH directions; the report path is the
    # declaring property's path for both (sh:resultPath semantics).
    # lessThan/lessThanOrEquals compare pairs lexically — the reference's
    # literal model is untyped strings.
    for sid, p, q, cname in pair_decls:
        l = (vals.filter((F.col("shape_id") == sid) & (F.col("path") == p))
             .select(*gkey, "focus", F.col("obj_value").alias("v")))
        r = (vals.filter((F.col("shape_id") == sid) & (F.col("path") == q))
             .select(*gkey, "focus", F.col("obj_value").alias("v")))
        if cname == "equals":
            bad = (l.join(r, [*gkey, "focus", "v"], "left_anti")
                   .unionByName(r.join(l, [*gkey, "focus", "v"],
                                       "left_anti")))
        elif cname == "disjoint":
            bad = l.join(r, [*gkey, "focus", "v"], "left_semi")
        else:
            pairs = l.join(r.withColumnRenamed("v", "w"), [*gkey, "focus"])
            keep = (F.col("v") < F.col("w")) if cname == "lessThan" \
                else (F.col("v") <= F.col("w"))
            bad = pairs.filter(~keep).select(*gkey, "focus", "v")
        reports.append(bad.select(
            F.lit(sid).alias("shape_id"), *gkey, "focus",
            F.lit(p).alias("path"),
            F.lit(cname).alias("constraint"),
            F.col("v").alias("value")).select(*rcols))

    # -- sh:closed: predicate-complement filter over one subj-keyed join ----
    # Allowed predicates per closed shape: the IRI sh:path values of its
    # property shapes (complex paths open nothing, SHACL §4.8.1) plus
    # sh:ignoredProperties.  The corpus joins the (small) closed-focus
    # subset keyed on subj — co-located on a subj-bucketed table — and
    # the complement test is a literal isin per shape: no extra
    # exchange, nothing corpus-sized ever broadcast.
    closed_shapes = [s for s in shapes if s.get("closed")]
    if closed_shapes:
        closed_cond = F.lit(False)
        for s in closed_shapes:
            allowed = sorted(
                {p["path"] for p in s.get("properties", ())
                 if p.get("path_expr", ("iri",))[0] == "iri"}
                | set(s.get("ignored_properties", ())))
            closed_cond = closed_cond | (
                (F.col("shape_id") == s["id"])
                & ~F.col("pred").isin(allowed))
        foc_c = focus.filter(
            F.col("shape_id").isin([s["id"] for s in closed_shapes]))
        closed_join = triples["subj"] == foc_c["focus"]
        if per_graph:
            closed_join = closed_join & (triples["_g"] == foc_c["graph"])
        reports.append(
            triples.join(foc_c, closed_join)
            .filter(closed_cond)
            .select("shape_id", *gkey, "focus",
                    F.col("pred").alias("path"),
                    F.lit("closed").alias("constraint"),
                    F.col("obj_value").alias("value"))
            .select(*rcols))

    # -- sh:node: value nodes must conform to a referenced node shape -------
    # (SHACL NodeConstraintComponent: the INNER violations are silent —
    # only one 'node' row per non-conforming value node is reported at
    # the referencing level.  Recursion depth is bounded by the shapes
    # graph; cyclic references are rejected.)
    for sid, prop in declared:
        if not prop.get("node"):
            continue
        ref = prop["node"]
        inner = by_id.get(ref)
        if inner is None:
            raise ShaclUnsupported(
                "sh:node references unknown shape %s" % ref)
        if inner.get("deactivated"):
            continue  # every value node conforms to a deactivated shape
        if ref in stack:
            raise ShaclUnsupported(
                "cyclic sh:node reference through %s" % ref)
        vnodes = (vals.filter((F.col("shape_id") == sid)
                              & (F.col("path") == prop["path"]))
                  .select(*gkey, "focus", "obj_value").dropDuplicates())
        inner_focus = (vnodes
                       .select(F.lit(ref).alias("shape_id"), *gkey,
                               F.col("obj_value").alias("focus"))
                       .dropDuplicates())
        inner_rep = _report_for_focus(triples, [inner], inner_focus,
                                      by_id, stack | {ref},
                                      per_graph=per_graph)
        bsel = [F.col("focus").alias("bad_node")]
        if per_graph:
            bsel.append(F.col("graph").alias("bad_g"))
        bad_nodes = inner_rep.select(*bsel).dropDuplicates()
        node_join = vnodes["obj_value"] == bad_nodes["bad_node"]
        if per_graph:
            # a value node failing in one graph is fine in another
            node_join = node_join & (vnodes["graph"] == bad_nodes["bad_g"])
        reports.append(
            vnodes.join(bad_nodes, node_join, "left_semi")
            .select(F.lit(sid).alias("shape_id"), *gkey, "focus",
                    F.lit(prop["path"]).alias("path"),
                    F.lit("node").alias("constraint"),
                    F.col("obj_value").alias("value"))
            .select(*rcols))

    # -- sh:qualifiedValueShape + qualifiedMin/MaxCount ---------------------
    # (count the value nodes CONFORMING to the referenced shape; the
    # zero-case — a focus with no values at all — still reports against
    # qualifiedMinCount, via a left join from the focus frame)
    for sid, prop in declared:
        if not prop.get("qualified_shape"):
            continue
        qmin, qmax = prop.get("qualified_min"), prop.get("qualified_max")
        if qmin is None and qmax is None:
            raise ShaclUnsupported(
                "sh:qualifiedValueShape without qualifiedMinCount/"
                "qualifiedMaxCount in %s" % sid)
        ref = prop["qualified_shape"]
        inner = by_id.get(ref)
        if inner is None:
            raise ShaclUnsupported(
                "sh:qualifiedValueShape references unknown shape %s"
                % ref)
        if ref in stack:
            raise ShaclUnsupported(
                "cyclic sh:qualifiedValueShape reference through %s"
                % ref)
        vnodes = (vals.filter((F.col("shape_id") == sid)
                              & (F.col("path") == prop["path"]))
                  .select(*gkey, "focus", "obj_value").dropDuplicates())
        if inner.get("deactivated"):
            # every value node conforms to a deactivated shape; the
            # qualified counts still apply to the full value set
            conforming = vnodes
        else:
            inner_focus = (vnodes
                           .select(F.lit(ref).alias("shape_id"), *gkey,
                                   F.col("obj_value").alias("focus"))
                           .dropDuplicates())
            inner_rep = _report_for_focus(triples, [inner], inner_focus,
                                          by_id, stack | {ref},
                                          per_graph=per_graph)
            bsel = [F.col("focus").alias("bad_node")]
            if per_graph:
                bsel.append(F.col("graph").alias("bad_g"))
            bad_nodes = inner_rep.select(*bsel).dropDuplicates()
            node_join = vnodes["obj_value"] == bad_nodes["bad_node"]
            if per_graph:
                node_join = node_join & (vnodes["graph"] == bad_nodes["bad_g"])
            conforming = vnodes.join(bad_nodes, node_join, "left_anti")
        n_q = (conforming.groupBy(*gkey, "focus")
               .agg(F.count("*").alias("n_q")))
        per_focus_q = (focus.filter(F.col("shape_id") == sid)
                       .select(*gkey, "focus")
                       .join(n_q, [*gkey, "focus"], "left")
                       .withColumn("n_q", F.coalesce(F.col("n_q"),
                                                     F.lit(0))))
        reports.append(per_focus_q.select(
            F.lit(sid).alias("shape_id"), *gkey, "focus",
            F.lit(prop["path"]).alias("path"),
            F.col("n_q").cast("string").alias("value"),
            F.explode(F.array_compact(F.array(
                F.when(F.col("n_q") < qmin, F.lit("qualifiedMinCount"))
                if qmin is not None else F.lit(None).cast("string"),
                F.when(F.col("n_q") > qmax, F.lit("qualifiedMaxCount"))
                if qmax is not None else F.lit(None).cast("string"),
            ))).alias("constraint")).select(*rcols))

    # -- sh:or / sh:and / sh:not on node shapes -----------------------------
    # Each operand (a named node shape or an inline property shape) is
    # evaluated over THIS shape's focus frame with the same recursive
    # body; per-operand conformance = absence from its report.
    # or: violated when the focus fails EVERY operand (intersection of
    # failing sets); and: fails ANY (union); not: CONFORMS (anti-join).
    for shape in shapes:
        for key in ("or", "and", "not", "xone"):
            operands = shape.get(key)
            if not operands:
                continue
            ops = [operands] if key == "not" else list(operands)
            foc_here = (focus.filter(F.col("shape_id") == shape["id"])
                        .select(*gkey, "focus"))
            failing = []
            for i, op in enumerate(ops):
                if op[0] == "ref":
                    inner = by_id.get(op[1])
                    if inner is None:
                        raise ShaclUnsupported(
                            "sh:%s references unknown shape %s"
                            % (key, op[1]))
                    if inner.get("deactivated"):
                        # a deactivated operand conforms for every focus
                        failing.append(foc_here.limit(0))
                        continue
                    if op[1] in stack:
                        raise ShaclUnsupported(
                            "cyclic sh:%s reference through %s"
                            % (key, op[1]))
                    op_id, op_stack = op[1], stack | {op[1]}
                else:
                    inner = {"id": "_:%s_%s_%d" % (key, shape["id"], i),
                             "properties": [op[1]]}
                    op_id, op_stack = inner["id"], stack
                op_focus = foc_here.select(
                    F.lit(op_id).alias("shape_id"), *gkey, "focus")
                rep = _report_for_focus(triples, [inner], op_focus,
                                        by_id, op_stack,
                                        per_graph=per_graph)
                failing.append(rep.select(*gkey, "focus").dropDuplicates())
            if key == "or":
                bad = failing[0]
                for f in failing[1:]:
                    bad = bad.join(f, [*gkey, "focus"], "left_semi")
            elif key == "and":
                bad = failing[0]
                for f in failing[1:]:
                    bad = bad.unionByName(f)
                bad = bad.dropDuplicates()
            elif key == "xone":
                # exactly one operand conforms: per-focus conform count
                # (operands minus failing memberships) must equal 1
                conform = None
                for f in failing:
                    c = foc_here.join(f, [*gkey, "focus"], "left_anti")
                    conform = c if conform is None else \
                        conform.unionByName(c)
                n_conf = (conform.groupBy(*gkey, "focus")
                          .agg(F.count("*").alias("n_conf")))
                bad = (foc_here.join(n_conf, [*gkey, "focus"], "left")
                       .withColumn("n_conf", F.coalesce(F.col("n_conf"),
                                                        F.lit(0)))
                       .filter(F.col("n_conf") != 1)
                       .select(*gkey, "focus"))
            else:
                bad = foc_here.join(failing[0], [*gkey, "focus"],
                                    "left_anti")
            reports.append(bad.select(
                F.lit(shape["id"]).alias("shape_id"), *gkey, "focus",
                F.lit("").alias("path"), F.lit(key).alias("constraint"),
                F.col("focus").alias("value")).select(*rcols))

    if not reports:
        return local_frame(
            spark,
            [], ", ".join("%s string" % c for c in rcols))
    out = reports[0]
    for part in reports[1:]:
        out = out.unionByName(part)
    return out


def conforms(triples: DataFrame, shapes) -> bool:
    """True when the report holds no ``sh:Violation``-severity result
    (SHACL §3.4.1: warnings and infos do not affect conformance).
    Control-plane limit-1 probe."""
    rep = validate(triples, shapes, with_severity=True)
    return rep.filter(F.col("severity") == SH + "Violation").isEmpty()


def report_triples(report: DataFrame,
                   report_node: str = "_:report") -> DataFrame:
    """Render a violations report as W3C SHACL validation-report RDF
    (sh:ValidationReport / sh:ValidationResult), so the publish gate's
    output feeds the repo's serializers and SPARQL like any graph.

    Per report row: one result bnode carrying sh:focusNode,
    sh:resultPath (omitted for node-level '' paths), sh:value (the
    report's value column is untyped — cardinality counts and offending
    terms alike — so its kind is re-derived heuristically: urn:/http
    prefixes render as IRIs, everything else as a literal),
    sh:sourceShape, sh:sourceConstraintComponent
    (sh:<Constraint>ConstraintComponent from the report's constraint
    label), and sh:resultSeverity when the report carries the severity
    column (validate(with_severity=True)); plus the report header
    (rdf:type sh:ValidationReport, sh:conforms true/false — computed
    from the same frame, one control-plane limit-1 probe).

    Result bnode labels derive from the md5 of the full row, so the
    rendering is deterministic and value-hash stable; duplicate report
    rows collapse to one result node.  Scale shape: one dedup exchange
    plus a row-local explode of the per-row statement array — nothing
    else.
    """
    spark = report.sparkSession
    has_sev = "severity" in report.columns
    has_graph = "graph" in report.columns
    cols = ["shape_id", "focus", "path", "constraint", "value"] \
        + (["severity"] if has_sev else [])
    rep = report.select(*cols).dropDuplicates()
    node = F.concat(F.lit("_:r"), F.md5(F.concat_ws("\x1f", *cols)))
    if has_graph:
        raise ShaclUnsupported(
            "render per-graph reports one graph at a time (filter on "
            "the graph column first)")

    def stmt(p, v, kind):
        return F.struct(F.lit(SH + p).alias("pred"),
                        v.alias("obj_value"), F.lit(kind).alias("obj_kind"))

    component = F.concat(
        F.lit(SH), F.upper(F.substring("constraint", 1, 1)),
        F.expr("substring(constraint, 2)"), F.lit("ConstraintComponent"))
    stmts = F.array_compact(F.array(
        stmt("focusNode", F.col("focus"),
             F.when(F.col("focus").startswith("_:"), "bnode")
             .otherwise("uri")),
        F.when(F.col("path") != "",
               stmt("resultPath", F.col("path"), F.lit("uri"))),
        stmt("value", F.col("value"),
             F.when(F.col("value").startswith("urn:")
                    | F.col("value").startswith("http"), "uri")
             .otherwise("literal")),
        stmt("sourceShape", F.col("shape_id"), F.lit("uri")),
        stmt("sourceConstraintComponent", component, F.lit("uri")),
        *([stmt("resultSeverity", F.col("severity"), F.lit("uri"))]
          if has_sev else [])))
    results = (rep.select(node.alias("subj"), F.explode(stmts).alias("s"))
               .select("subj", F.col("s.pred").alias("pred"),
                       F.col("s.obj_value").alias("obj_value"),
                       F.col("s.obj_kind").alias("obj_kind"),
                       F.lit(None).cast("string").alias("obj_lang")))
    links = rep.select(
        F.lit(report_node).alias("subj"),
        F.lit(SH + "result").alias("pred"),
        node.alias("obj_value"), F.lit("bnode").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_lang"))
    conforms_val = "false" if rep.limit(1).count() else "true"
    header = local_frame(
        spark,
        [(report_node, RDF_TYPE, SH + "ValidationReport", "uri", None),
         (report_node, SH + "conforms", conforms_val, "literal", None)],
        "subj string, pred string, obj_value string, obj_kind string, "
        "obj_lang string")
    return header.unionByName(results).unionByName(links)
