"""RDFS entailment materialization (forward-chaining closure).

The reference models plain graphs; a KG pipeline at scale also needs the
standard RDFS inference rules materialized so downstream SPARQL queries
over ``rdf:type`` / ``rdfs:label`` hierarchies don't each re-derive them.
Implemented fragment is the practical ρdf core:

- rdfs5  (p sp q), (q sp r)      -> (p sp r)        [sp transitivity]
- rdfs7  (p sp q), (s p o)       -> (s q o)         [property inheritance]
- rdfs2  (p dom c), (s p o)      -> (s type c)      [domain]
- rdfs3  (p rng c), (s p o:uri)  -> (o type c)      [range; literals excluded]
- rdfs11 (c sc d), (d sc e)      -> (c sc e)        [sc transitivity]
- rdfs9  (c sc d), (s type c)    -> (s type d)      [class inheritance]

Complete in a single pass PROVIDED the ontology does not redefine the
RDFS vocabulary itself (no ``X rdfs:subPropertyOf rdfs:subClassOf``
etc.) — that pathological case is detected and rejected rather than
silently under-inferred.

Scale shape — the whole point: ontologies are KB-to-MB even when
instance data is 100 TB, so ALL rule composition happens on the schema
slice.  The mutual recursion between rules (inherited predicates firing
domain/range; derived types climbing the class hierarchy) is
pre-composed into effective schema relations::

    sp*         = transitive closure of subPropertyOf
    sc*         = transitive closure of subClassOf
    dom_closed  = (id ∪ sp*) ∘ domain ∘ (id ∪ sc*)
    rng_closed  = (id ∪ sp*) ∘ range  ∘ (id ∪ sc*)

so the instance relation is scanned ONCE PER RULE (four narrow
broadcast-join branches Catalyst can pipeline), never iterated, never
joined to itself; the only instance-sized shuffles are the two final
deduplications — a 2-column one for derived (entity, class) pairs and
a 5-column one for everything else (disjoint by construction, so their
union needs no third pass).  The schema closure runs driver-local
under a size gate
(the adaptive discipline of ``kg.canonicalize``); above the gate a
semi-naive DataFrame iteration with ``localCheckpoint`` takes over.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame, functions as F

from ..fixpoint import fixpoint
from ..session import local_frame

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
RDFS_SUBPROP = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"
RDFS_DOMAIN = "http://www.w3.org/2000/01/rdf-schema#domain"
RDFS_RANGE = "http://www.w3.org/2000/01/rdf-schema#range"

_SCHEMA_PREDS = (RDFS_SUBCLASS, RDFS_SUBPROP, RDFS_DOMAIN, RDFS_RANGE)
_PAIR_SCHEMA = "a string, b string"


class RdfsVocabularyRedefined(ValueError):
    """The ontology redefines the RDFS vocabulary itself (e.g. a
    subPropertyOf chain targeting rdfs:subClassOf); the single-pass
    closure would under-infer, so refuse loudly."""


def _transitive_closure_local(
        edges: List[Tuple[str, str]]) -> List[Tuple[str, str]]:
    """Exact transitive closure of a small edge list (driver-local).
    Cycles yield the reflexive pairs the semantics imply."""
    from collections import defaultdict

    succ = defaultdict(set)
    for a, b in edges:
        succ[a].add(b)
    closure = set(edges)
    frontier = list(closure)
    while frontier:
        new = []
        for a, b in frontier:
            for c in succ.get(b, ()):
                if (a, c) not in closure:
                    closure.add((a, c))
                    new.append((a, c))
        frontier = new
    return sorted(closure)


def _transitive_closure_df(edges: DataFrame) -> DataFrame:
    """Semi-naive distributed transitive closure over (a, b) edges —
    the above-the-gate fallback (the relation is schema-sized, so the
    per-round checkpoints are cheap)."""
    def step(delta: DataFrame, _acc: DataFrame) -> DataFrame:
        return (delta.alias("l")
                .join(edges.alias("r"), F.col("l.b") == F.col("r.a"))
                .select(F.col("l.a").alias("a"), F.col("r.b").alias("b")))

    closure, _ = fixpoint(edges.dropDuplicates(["a", "b"]), step,
                          ["a", "b"], "rdfs transitive closure")
    return closure


def _compose(left: List[Tuple[str, str]],
             right: List[Tuple[str, str]]) -> List[Tuple[str, str]]:
    from collections import defaultdict

    by_a = defaultdict(set)
    for a, b in right:
        by_a[a].add(b)
    return sorted({(a, c) for a, b in left for c in by_a.get(b, ())})


def _with_identity(pairs: List[Tuple[str, str]],
                   over: List[str]) -> List[Tuple[str, str]]:
    return sorted(set(pairs) | {(x, x) for x in over})


def rdfs_closure(triples: DataFrame,
                 local_threshold: int = 1_000_000,
                 keep_schema: bool = True,
                 schema_triples: DataFrame = None) -> DataFrame:
    """Materialize the RDFS closure of a 5-column triples relation.
    Output: the input plus all inferred triples, deduplicated.

    ``schema_triples`` — the realistic entry point at scale: the caller
    usually HAS the ontology as its own small relation, so passing it
    here skips the full instance scan that otherwise mines the schema
    slice out of ``triples`` (a pure serial-fraction tax when instance
    data is TB-sized and the ontology is KB-sized).  Rows in it that are
    not RDFS vocabulary are ignored for rule composition but unioned
    into the output, so the result equals
    ``rdfs_closure(triples ∪ schema_triples)`` provided ``triples``
    itself carries no RDFS vocabulary (when given, ``schema_triples``
    is the ONLY source of rules — instance-side schema rows are treated
    as plain data).

    ``local_threshold`` gates the driver-local schema closure; schema
    slices beyond it use the distributed semi-naive loop — in practice
    never, and the gate makes that assumption measured, not assumed."""
    spark = triples.sparkSession
    cols = ["subj", "pred", "obj_value", "obj_kind", "obj_lang"]
    triples = triples.select(*cols)

    schema_src = (triples if schema_triples is None
                  else schema_triples.select(*cols))
    schema = (schema_src
              .filter(F.col("pred").isin(*_SCHEMA_PREDS)
                      & (F.col("obj_kind") != "literal"))
              .select("subj", "pred", "obj_value"))

    _VOCAB = set(_SCHEMA_PREDS) | {RDF_TYPE}

    def check_redefinition(super_props) -> None:
        if any(q in _VOCAB for q in super_props):
            raise RdfsVocabularyRedefined(
                "ontology declares a subPropertyOf whose super-property is "
                "an RDFS/rdf:type vocabulary term; the single-pass closure "
                "would under-infer")

    # ---- schema-side rule composition (KB-sized, one collect) ----------
    schema_rows = schema.limit(local_threshold + 1).collect()
    if len(schema_rows) > local_threshold:
        schema_rows = None
        bad = (schema.filter((F.col("pred") == RDFS_SUBPROP)
                             & F.col("obj_value").isin(*sorted(_VOCAB)))
               .limit(1).count())
        if bad:
            check_redefinition(_VOCAB)  # raises
    if schema_rows is not None:
        check_redefinition(r["obj_value"] for r in schema_rows
                           if r["pred"] == RDFS_SUBPROP)
        by_pred: dict = {p: [] for p in _SCHEMA_PREDS}
        for r in schema_rows:
            by_pred[r["pred"]].append((r["subj"], r["obj_value"]))
        sp = _transitive_closure_local(by_pred[RDFS_SUBPROP])
        sc = _transitive_closure_local(by_pred[RDFS_SUBCLASS])
        dom, rng = by_pred[RDFS_DOMAIN], by_pred[RDFS_RANGE]
        sp_refl = _with_identity(sp, [p for p, _ in dom + rng])
        sc_refl = _with_identity(sc, [c for _, c in dom + rng])
        dom_closed = _compose(_compose(sp_refl, dom), sc_refl)
        rng_closed = _compose(_compose(sp_refl, rng), sc_refl)

        def as_df(pairs):
            return local_frame(spark, pairs, _PAIR_SCHEMA)

        sp_df, sc_df = as_df(sp), as_df(sc)
        dom_df, rng_df = as_df(dom_closed), as_df(rng_closed)
    else:
        # distributed fallback: same algebra with schema-sized joins
        def edge_df(pred):
            return (schema.filter(F.col("pred") == pred)
                    .select(F.col("subj").alias("a"),
                            F.col("obj_value").alias("b")))

        def compose_df(left, right):
            return (left.alias("l")
                    .join(right.alias("r"), F.col("l.b") == F.col("r.a"))
                    .select(F.col("l.a").alias("a"), F.col("r.b").alias("b"))
                    .dropDuplicates(["a", "b"]))

        def with_identity_df(pairs, over):
            ident = over.select(F.col("x").alias("a"), F.col("x").alias("b"))
            return pairs.unionByName(ident).dropDuplicates(["a", "b"])

        sp_df = _transitive_closure_df(edge_df(RDFS_SUBPROP))
        sc_df = _transitive_closure_df(edge_df(RDFS_SUBCLASS))
        dom_e, rng_e = edge_df(RDFS_DOMAIN), edge_df(RDFS_RANGE)
        props = dom_e.select(F.col("a").alias("x")).unionByName(
            rng_e.select(F.col("a").alias("x"))).distinct()
        classes = dom_e.select(F.col("b").alias("x")).unionByName(
            rng_e.select(F.col("b").alias("x"))).distinct()
        sp_refl_df = with_identity_df(sp_df, props)
        sc_refl_df = with_identity_df(sc_df, classes)
        dom_df = compose_df(compose_df(sp_refl_df, dom_e), sc_refl_df)
        rng_df = compose_df(compose_df(sp_refl_df, rng_e), sc_refl_df)

    # ---- instance-side application: 4 broadcast-join branches ----------
    # The three typing rules emit (entity, class) PAIRS — pred/kind/lang
    # are constants — so their dedup exchange carries 2 narrow columns,
    # not 5.  Rule fan-out multiplies rows (every instance row fires
    # once per composed dom/rng class), so the typing branches dominate
    # the shuffled volume; at 24M synthetic triples the split cuts the
    # exchanged bytes roughly in half.  Disjointness makes the final
    # union globally distinct without a third dedup: inherited rows can
    # never be rdf:type (the vocabulary guard rejects subPropertyOf
    # chains into the RDFS/rdf vocabulary), and input rows that ARE
    # well-formed rdf:type rows are routed into the narrow branch.
    typed_dom = (                                       # rdfs2 (+7, +9)
        triples.join(F.broadcast(dom_df), triples["pred"] == dom_df["a"])
        .select("subj", F.col("b").alias("obj_value")))
    typed_rng = (                                       # rdfs3 (+7, +9)
        triples.filter(F.col("obj_kind") != "literal")
        .join(F.broadcast(rng_df), triples["pred"] == rng_df["a"])
        .select(F.col("obj_value").alias("subj"),
                F.col("b").alias("obj_value")))
    super_types = (                                     # rdfs9 on explicit
        triples.filter(F.col("pred") == RDF_TYPE)
        .join(F.broadcast(sc_df), triples["obj_value"] == sc_df["a"])
        .select("subj", F.col("b").alias("obj_value")))
    inherited = (                                       # rdfs7
        triples.join(F.broadcast(sp_df), triples["pred"] == sp_df["a"])
        .select("subj", F.col("b").alias("pred"),
                "obj_value", "obj_kind", "obj_lang"))

    wf_type = ((F.col("pred") == RDF_TYPE)
               & (F.col("obj_kind") == "uri") & F.col("obj_lang").isNull())
    narrow = [triples.filter(wf_type).select("subj", "obj_value"),
              typed_dom, typed_rng, super_types]
    wide = [triples.filter(~wf_type), inherited]
    if schema_triples is not None:
        st = schema_triples.select(*cols)
        narrow.append(st.filter(wf_type).select("subj", "obj_value"))
        wide.append(st.filter(~wf_type))
    if keep_schema:                                     # rdfs5 / rdfs11
        for pred, pairs in ((RDFS_SUBPROP, sp_df), (RDFS_SUBCLASS, sc_df)):
            wide.append(pairs.select(
                *[F.col("a").alias("subj"), F.lit(pred).alias("pred"),
                  F.col("b").alias("obj_value"),
                  F.lit("uri").alias("obj_kind"),
                  F.lit(None).cast("string").alias("obj_lang")]))

    narrow_union = narrow[0]
    for p in narrow[1:]:
        narrow_union = narrow_union.unionByName(p)
    typed = (narrow_union.dropDuplicates(["subj", "obj_value"])
             .select("subj", F.lit(RDF_TYPE).alias("pred"), "obj_value",
                     F.lit("uri").alias("obj_kind"),
                     F.lit(None).cast("string").alias("obj_lang")))
    wide_union = wide[0]
    for p in wide[1:]:
        wide_union = wide_union.unionByName(p)
    # the only two instance-sized shuffles in the whole plan
    return wide_union.dropDuplicates(cols).unionByName(typed)


def schema_cycles(triples: DataFrame,
                  preds: Tuple[str, ...] = (RDFS_SUBCLASS, RDFS_SUBPROP)
                  ) -> DataFrame:
    """Ontology-quality check: (pred, node) rows for every node lying on
    a cycle of the given schema predicate (``a subClassOf+ a``) — the
    shapes that make "the superclasses of X" ill-defined and inflate
    every closure the entailment operators compute.  A node is cyclic
    iff the transitive closure of the predicate's edge set contains its
    reflexive pair, so this is the same semi-naive closure the ρdf rules
    use, filtered to ``a = b`` — per-predicate edge slices only, the
    instance relation is never touched.  Empty frame = cycle-free.
    Self-loops count (a 1-cycle is still a cycle)."""
    parts = []
    for pred in preds:
        edges = (triples.filter(F.col("pred") == pred)
                 .filter(F.col("obj_kind") != "literal")
                 .select(F.col("subj").alias("a"),
                         F.col("obj_value").alias("b"))
                 .dropDuplicates())
        clo = _transitive_closure_df(edges)
        parts.append(clo.filter(F.col("a") == F.col("b"))
                     .select(F.lit(pred).alias("pred"),
                             F.col("a").alias("node")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates()


def rdfs_closure_quads(quads: DataFrame,
                       local_threshold: int = 1_000_000,
                       keep_schema: bool = True) -> DataFrame:
    """Per-named-graph RDFS closure of a QUAD relation in ONE job: each
    graph closes under ITS OWN ontology (the schema slice found in that
    graph), with no cross-graph leakage — the dataset analogue of
    ``rdfs_closure``, the same discipline as SHACL ``per_graph=True``.

    Soundness note: every ρdf instance rule derives from ONE instance
    row plus schema, so per-graph closure is exactly the triple closure
    applied graph-wise — the graph label rides each of the four
    broadcast-join branches as one more (null-safe) equality and each
    dedup as one more key.  Nothing iterates over graphs.

    Scale shape: identical to ``rdfs_closure`` — schema composition is
    driver-local per graph (ontologies are KB-sized; the combined slice
    is gated by ``local_threshold`` and REJECTED loudly beyond it —
    datasets with TB-sized "schema" slices should close graph-by-graph
    through the triple path), instance data is scanned once per rule,
    and the only quad-sized shuffles are the two final dedups (now
    keyed with ``context``).  The default graph participates as the
    NULL context.
    """
    spark = quads.sparkSession
    cols = ["context", "subj", "pred", "obj_value", "obj_kind",
            "obj_lang"]
    quads = quads.select(*cols)

    schema = (quads.filter(F.col("pred").isin(*_SCHEMA_PREDS)
                           & (F.col("obj_kind") != "literal"))
              .select("context", "subj", "pred", "obj_value"))
    schema_rows = schema.limit(local_threshold + 1).collect()
    if len(schema_rows) > local_threshold:
        raise ValueError(
            "combined schema slice exceeds local_threshold=%d; close "
            "oversized graphs individually via rdfs_closure" %
            local_threshold)

    _VOCAB = set(_SCHEMA_PREDS) | {RDF_TYPE}
    by_graph: dict = {}
    for r in schema_rows:
        by_graph.setdefault(r["context"], {p: [] for p in _SCHEMA_PREDS})[
            r["pred"]].append((r["subj"], r["obj_value"]))

    sp_rows, sc_rows, dom_rows, rng_rows = [], [], [], []
    for g, by_pred in by_graph.items():
        if any(q in _VOCAB for _, q in by_pred[RDFS_SUBPROP]):
            raise RdfsVocabularyRedefined(
                "graph %r declares a subPropertyOf into the RDFS/rdf "
                "vocabulary" % (g,))
        sp = _transitive_closure_local(by_pred[RDFS_SUBPROP])
        sc = _transitive_closure_local(by_pred[RDFS_SUBCLASS])
        dom, rng = by_pred[RDFS_DOMAIN], by_pred[RDFS_RANGE]
        sp_refl = _with_identity(sp, [p for p, _ in dom + rng])
        sc_refl = _with_identity(sc, [c for _, c in dom + rng])
        sp_rows += [(g, a, b) for a, b in sp]
        sc_rows += [(g, a, b) for a, b in sc]
        dom_rows += [(g, a, b)
                     for a, b in _compose(_compose(sp_refl, dom), sc_refl)]
        rng_rows += [(g, a, b)
                     for a, b in _compose(_compose(sp_refl, rng), sc_refl)]

    gp = "g string, a string, b string"

    def as_df(rows):
        return local_frame(spark, rows, gp)

    sp_df, sc_df = as_df(sp_rows), as_df(sc_rows)
    dom_df, rng_df = as_df(dom_rows), as_df(rng_rows)

    def on(pairs, key):
        return ((quads[key] == pairs["a"])
                & quads["context"].eqNullSafe(pairs["g"]))

    typed_dom = (quads.join(F.broadcast(dom_df), on(dom_df, "pred"))
                 .select("context", "subj",
                         F.col("b").alias("obj_value")))
    typed_rng = (quads.filter(F.col("obj_kind") != "literal")
                 .join(F.broadcast(rng_df), on(rng_df, "pred"))
                 .select("context", F.col("obj_value").alias("subj"),
                         F.col("b").alias("obj_value")))
    super_types = (quads.filter(F.col("pred") == RDF_TYPE)
                   .join(F.broadcast(sc_df), on(sc_df, "obj_value"))
                   .select("context", "subj",
                           F.col("b").alias("obj_value")))
    inherited = (quads.join(F.broadcast(sp_df), on(sp_df, "pred"))
                 .select("context", "subj", F.col("b").alias("pred"),
                         "obj_value", "obj_kind", "obj_lang"))

    wf_type = ((F.col("pred") == RDF_TYPE)
               & (F.col("obj_kind") == "uri") & F.col("obj_lang").isNull())
    narrow = [quads.filter(wf_type).select("context", "subj", "obj_value"),
              typed_dom, typed_rng, super_types]
    wide = [quads.filter(~wf_type), inherited]
    if keep_schema:
        for pred, pairs in ((RDFS_SUBPROP, sp_df), (RDFS_SUBCLASS, sc_df)):
            wide.append(pairs.select(
                F.col("g").alias("context"), F.col("a").alias("subj"),
                F.lit(pred).alias("pred"), F.col("b").alias("obj_value"),
                F.lit("uri").alias("obj_kind"),
                F.lit(None).cast("string").alias("obj_lang")))

    narrow_union = narrow[0]
    for p in narrow[1:]:
        narrow_union = narrow_union.unionByName(p)
    typed = (narrow_union.dropDuplicates(["context", "subj", "obj_value"])
             .select("context", "subj", F.lit(RDF_TYPE).alias("pred"),
                     "obj_value", F.lit("uri").alias("obj_kind"),
                     F.lit(None).cast("string").alias("obj_lang")))
    wide_union = wide[0]
    for p in wide[1:]:
        wide_union = wide_union.unionByName(p)
    return wide_union.dropDuplicates(cols).unionByName(typed)
