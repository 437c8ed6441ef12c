"""OWL-lite entailment materialization (forward-chaining closure).

Companion to ``operators/rdfs.py`` (ρdf) and ``operators/sameas.py``
(owl:sameAs smushing): the three property-logic axioms a KG pipeline
most often has to materialize so SPARQL consumers don't re-derive them
per query:

- owl:inverseOf          (p inv q), (s p o)        -> (o q s)
- owl:SymmetricProperty  (p a Symmetric), (s p o)  -> (o p s)
- owl:TransitiveProperty (p a Transitive),
                         (s p o), (o p z)          -> (s p z)
- owl:equivalentProperty (p eq q), (s p o)         -> (s q o)
  — an orientation-PRESERVING rename riding the same orbit relation,
  so it composes with inverseOf/symmetry/transitivity for free
- owl:equivalentClass    (c eq d), (x a c)         -> (x a d)
  — one broadcast rename join over the rdf:type rows (class
  equivalence never interacts with the property orbit: rdf:type
  itself may not carry property axioms, guarded loudly)
- owl:FunctionalProperty / owl:InverseFunctionalProperty — the
  linked-data KEY rules; not closure rules but sameAs-LINK derivation
  (``owl_key_links``): per key group the STAR (min-member, other) is
  emitted — linear output via one window exchange per rule side — and
  ``operators.sameas`` completes/rewrites.  Declared key-ness is
  propagated through the orbit (the inverse of a functional property
  is inverse-functional and vice versa)

Scale shape, same discipline as ``rdfs_closure``: ALL rule interaction
between inverseOf and symmetry is pre-composed SCHEMA-side into an
"orbit" relation.  Model each predicate at an orientation, nodes
``(p, +)`` / ``(p, -)``; ``p inv q`` connects ``(p, +)<->(q, -)`` and
``(p, -)<->(q, +)``; ``p`` symmetric connects ``(p, +)<->(p, -)``.  The
orbit of ``(p, +)`` (driver-local BFS over the KB-sized predicate
graph) is every form a single instance triple ``(s p o)`` entails:
``(s q o)`` for forward members, ``(o q s)`` for swapped members — at
most the 4 triples the group generated by {rename, swap} can produce.
Instance data therefore sees ONE broadcast join (pred -> orbit rows)
plus a pass-through branch; no instance-instance join and no iteration
for inverse/symmetric, however the axioms chain.

Transitivity is the one OWL rule that genuinely NEEDS instance-level
iteration — ``(s p o), (o p z) -> (s p z)`` joins the instance relation
to itself — so transitive predicates get a semi-naive delta closure
(join the last round's NEW edges to the base edge set, anti-join the
accumulated closure, ``localCheckpoint`` per round to cut lineage —
the ``kg.canonicalize`` discipline).  Rounds = longest path, join keys
are ``(pred, node)`` so AQE's skew splitting handles hub nodes.
Because the orbit expansion runs FIRST, every orientation of a
transitive predicate's edge set is already present, and transitive
closure commutes with renaming and with inversion (``closure(inv(E)) =
inv(closure(E))``), closing each predicate independently is exact —
no post-closure orbit pass, orbit predicates of a transitive predicate
are transitive (the OWL RDF-based entailment).

Refused loudly (``OwlUnsupportedPattern``):

- a TRANSITIVE predicate whose orbit swaps onto itself (declared
  symmetric, or an inverseOf cycle making it its own inverse): its
  closure is undirected connectivity, i.e. materializing a CLIQUE per
  connected component — O(n²) output no engine should silently write.
  Use ``operators.sameas`` / connected components for that shape.
- literals never travel to subject position: swapped emissions skip
  literal-object rows (OWL full would reject them; we just don't emit).

Oracle strategy (driver query ``owl_entailment``): the ontology is
fixed, so the DuckDB oracle hardcodes its rules — a recursive CTE for
the transitive predicate, UNION branches for the orbit forms — over the
same instance relation.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Dict, Iterable, List, Set, Tuple

from pyspark.sql import DataFrame, functions as F

from ..fixpoint import fixpoint
from ..session import local_frame

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
OWL_INVERSE_OF = "http://www.w3.org/2002/07/owl#inverseOf"
OWL_SYMMETRIC = "http://www.w3.org/2002/07/owl#SymmetricProperty"
OWL_TRANSITIVE = "http://www.w3.org/2002/07/owl#TransitiveProperty"
OWL_EQUIV_PROPERTY = "http://www.w3.org/2002/07/owl#equivalentProperty"
OWL_EQUIV_CLASS = "http://www.w3.org/2002/07/owl#equivalentClass"
OWL_FUNCTIONAL = "http://www.w3.org/2002/07/owl#FunctionalProperty"
OWL_INV_FUNCTIONAL = (
    "http://www.w3.org/2002/07/owl#InverseFunctionalProperty")
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"

_TRIPLE_COLS = ["subj", "pred", "obj_value", "obj_kind", "obj_lang"]


class OwlUnsupportedPattern(ValueError):
    """The ontology entails a closure this engine refuses to
    materialize (quadratic clique output) or cannot close in the
    single orbit+transitive pass."""


def _orbits(inverse_pairs: Iterable[Tuple[str, str]],
            symmetric: Iterable[str],
            equiv_pairs: Iterable[Tuple[str, str]] = ()
            ) -> Dict[str, List[Tuple[str, bool]]]:
    """Driver-local BFS over the (pred, orientation) graph.  Returns
    ``{p: [(q, swapped), ...]}`` for every predicate the axioms touch —
    the full emission set of one ``(s p o)`` row.  Includes the
    identity ``(p, False)``.  ``equiv_pairs`` (owl:equivalentProperty)
    are orientation-preserving renames, so they compose with inverseOf
    and symmetry for free (p ≡ q, q inverseOf r ⇒ (r, swapped) joins
    p's orbit)."""
    adj: Dict[Tuple[str, bool], Set[Tuple[str, bool]]] = defaultdict(set)
    preds: Set[str] = set()
    for p, q in inverse_pairs:
        preds.update((p, q))
        for flip in (False, True):
            adj[(p, flip)].add((q, not flip))
            adj[(q, flip)].add((p, not flip))
    for p, q in equiv_pairs:
        preds.update((p, q))
        for flip in (False, True):
            adj[(p, flip)].add((q, flip))
            adj[(q, flip)].add((p, flip))
    for p in symmetric:
        preds.add(p)
        adj[(p, False)].add((p, True))
        adj[(p, True)].add((p, False))
    orbits: Dict[str, List[Tuple[str, bool]]] = {}
    for p in preds:
        seen = {(p, False)}
        frontier = [(p, False)]
        while frontier:
            nxt = []
            for node in frontier:
                for other in adj[node]:
                    if other not in seen:
                        seen.add(other)
                        nxt.append(other)
            frontier = nxt
        orbits[p] = sorted(seen)
    return orbits


def _compose_edges(left: DataFrame, right: DataFrame) -> DataFrame:
    """One hop of a transitive predicate: ``(pred, a, c, c_kind)`` for
    every ``(pred, a, b)`` in ``left`` and ``(pred, b, c)`` in
    ``right``."""
    return (left.alias("l")
            .join(right.alias("r"), (F.col("l.pred") == F.col("r.pred"))
                  & (F.col("l.b") == F.col("r.a")))
            .select("l.pred", "l.a", "r.b", "r.b_kind"))


def _transitive_closure_edges(edges: DataFrame) -> DataFrame:
    """Semi-naive transitive closure of a ``(pred, a, b, b_kind)``
    edge relation, per predicate.  Returns only the DERIVED edges
    (closure minus base)."""
    # base checkpointed ONCE: every round joins against it, and
    # recomputing the upstream orbit expansion per round would scan
    # the instance relation L times for a depth-L closure
    base = edges.dropDuplicates(["pred", "a", "b"]).localCheckpoint()
    _, derived = fixpoint(base, lambda delta, _: _compose_edges(delta, base),
                          ["pred", "a", "b"], "owl transitive closure")
    return derived


def _equiv_classes(pairs: Iterable[Tuple[str, str]]
                   ) -> List[Tuple[str, str]]:
    """Driver-local closure of an equivalence axiom set: BFS over the
    undirected pair graph, emitting every ordered (member, other)
    rename — the full emission set of one membership row."""
    adj: Dict[str, Set[str]] = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    out: List[Tuple[str, str]] = []
    for node in sorted(adj):
        seen = {node}
        frontier = [node]
        while frontier:
            nxt = []
            for n in frontier:
                for other in adj[n]:
                    if other not in seen:
                        seen.add(other)
                        nxt.append(other)
            frontier = nxt
        out.extend((node, other) for other in sorted(seen - {node}))
    return out


class OwlSchema:
    """Compiled ontology: the orbit relation (driver-local rows for the
    broadcast join), the predicates it covers, the transitive predicate
    set (closed under orbit membership), the class-equivalence rename
    rows, and the functional / inverse-functional key predicates."""

    def __init__(self, orbit_rows, orbit_preds, trans_orbit,
                 class_rows=(), functional=(), inv_functional=()):
        self.orbit_rows: List[Tuple[str, str, bool]] = orbit_rows
        self.orbit_preds: List[str] = orbit_preds
        self.trans_orbit: Set[str] = trans_orbit
        self.class_rows: List[Tuple[str, str]] = list(class_rows)
        self.functional: List[str] = sorted(functional)
        self.inv_functional: List[str] = sorted(inv_functional)


_AXIOM_CLASSES = (OWL_SYMMETRIC, OWL_TRANSITIVE, OWL_FUNCTIONAL,
                  OWL_INV_FUNCTIONAL)


def compile_owl_schema(schema_src: DataFrame,
                       local_threshold: int = 1_000_000) -> OwlSchema:
    """Collect the (KB-sized) axiom rows and pre-compose all
    inverse/symmetry/equivalence interaction into the orbit and
    class-rename relations; applies the quadratic-pattern guard."""
    is_axiom = (F.col("pred").isin(OWL_INVERSE_OF, OWL_EQUIV_PROPERTY,
                                   OWL_EQUIV_CLASS)
                | ((F.col("pred") == RDF_TYPE)
                   & F.col("obj_value").isin(*_AXIOM_CLASSES)))
    axiom_rows = (schema_src.select(*_TRIPLE_COLS).filter(is_axiom)
                  .select("subj", "pred", "obj_value")
                  .limit(local_threshold + 1).collect())
    if len(axiom_rows) > local_threshold:
        raise OwlUnsupportedPattern(
            "more than %d OWL axiom rows; the schema slice is expected "
            "to be KB-sized" % local_threshold)

    inverse_pairs = [(r["subj"], r["obj_value"]) for r in axiom_rows
                     if r["pred"] == OWL_INVERSE_OF]
    equiv_prop_pairs = [(r["subj"], r["obj_value"]) for r in axiom_rows
                        if r["pred"] == OWL_EQUIV_PROPERTY]
    equiv_class_pairs = [(r["subj"], r["obj_value"]) for r in axiom_rows
                         if r["pred"] == OWL_EQUIV_CLASS]
    symmetric = {r["subj"] for r in axiom_rows
                 if r["pred"] == RDF_TYPE
                 and r["obj_value"] == OWL_SYMMETRIC}
    transitive = {r["subj"] for r in axiom_rows
                  if r["pred"] == RDF_TYPE
                  and r["obj_value"] == OWL_TRANSITIVE}
    functional = {r["subj"] for r in axiom_rows
                  if r["pred"] == RDF_TYPE
                  and r["obj_value"] == OWL_FUNCTIONAL}
    inv_functional = {r["subj"] for r in axiom_rows
                      if r["pred"] == RDF_TYPE
                      and r["obj_value"] == OWL_INV_FUNCTIONAL}

    orbits = _orbits(inverse_pairs, symmetric, equiv_prop_pairs)
    # predicates whose orbit touches a transitive predicate are
    # transitive too (inverse/rename of a transitive relation)
    trans_orbit: Set[str] = set()
    for p, members in orbits.items():
        if transitive & ({p} | {q for q, _ in members}):
            trans_orbit.add(p)
            trans_orbit.update(q for q, _ in members)
    trans_orbit |= transitive
    for p in sorted(trans_orbit):
        if (p, True) in orbits.get(p, []):
            raise OwlUnsupportedPattern(
                "predicate %r is transitive and its own inverse/"
                "symmetric: its closure is a clique per connected "
                "component (quadratic output) — use connected "
                "components (operators.sameas / kg.canonicalize) "
                "instead of materializing it" % p)

    if RDF_TYPE in orbits:
        raise OwlUnsupportedPattern(
            "property axioms over rdf:type itself are not supported "
            "(the class-equivalence pass assumes typing rows keep "
            "their predicate)")
    axiom_vocab = set(_AXIOM_CLASSES)
    if any(c in axiom_vocab or d in axiom_vocab
           for c, d in _equiv_classes(equiv_class_pairs)):
        raise OwlUnsupportedPattern(
            "owl:equivalentClass over the OWL axiom vocabulary itself "
            "would change which predicates are declared "
            "symmetric/transitive/functional — rejected (mirror of the "
            "RDFS vocabulary-redefinition guard)")

    # key-ness travels the orbit: q = rename of a functional p is
    # functional; q = inverse of a functional p is INVERSE-functional
    # ((o q s) pairs are exactly (s p o) pairs), and symmetrically
    for p in sorted(functional):
        for q, swapped in orbits.get(p, []):
            (inv_functional if swapped else functional).add(q)
    for p in sorted(inv_functional):
        for q, swapped in orbits.get(p, []):
            (functional if swapped else inv_functional).add(q)

    orbit_rows = [(p, q, swapped) for p, members in orbits.items()
                  for q, swapped in members]
    return OwlSchema(orbit_rows, sorted(orbits), trans_orbit,
                     class_rows=_equiv_classes(equiv_class_pairs),
                     functional=functional, inv_functional=inv_functional)


def orbit_expand(triples: DataFrame, schema: OwlSchema) -> DataFrame:
    """One broadcast orbit join: every inverse/symmetric emission form
    of every instance row (identity included); rows whose predicate the
    axioms never touch pass through untouched."""
    if not schema.orbit_rows:
        return triples.select(*_TRIPLE_COLS)
    triples = triples.select(*_TRIPLE_COLS)
    spark = triples.sparkSession
    orbit_df = local_frame(
        spark,
        schema.orbit_rows, "a string, b string, swapped boolean")
    hit = triples.join(F.broadcast(orbit_df),
                       triples["pred"] == orbit_df["a"])
    forward = (hit.filter(~F.col("swapped"))
               .select("subj", F.col("b").alias("pred"),
                       "obj_value", "obj_kind", "obj_lang"))
    # literals never travel to subject position
    swapped = (hit.filter(F.col("swapped")
                          & (F.col("obj_kind") != "literal"))
               .select(F.col("obj_value").alias("subj"),
                       F.col("b").alias("pred"),
                       F.col("subj").alias("obj_value"),
                       # subjects are strings; the "_:" prefix IS the
                       # bnode marker (reference convention)
                       F.when(F.col("subj").startswith("_:"),
                              F.lit("bnode")).otherwise(F.lit("uri"))
                       .alias("obj_kind"),
                       F.lit(None).cast("string").alias("obj_lang")))
    passthrough = triples.filter(~F.col("pred").isin(*schema.orbit_preds))
    return forward.unionByName(swapped).unionByName(passthrough)


def class_expand(triples: DataFrame, schema: OwlSchema) -> DataFrame:
    """The derived ``rdf:type`` rows of owl:equivalentClass: one
    broadcast rename join against the (KB-sized) class-equivalence
    relation — returns ONLY the new rows (the caller unions + dedups).
    Classes are graph nodes, so a ``_:`` prefix marks a bnode class."""
    if not schema.class_rows:
        return triples.select(*_TRIPLE_COLS).limit(0)
    spark = triples.sparkSession
    cls_df = local_frame(spark, schema.class_rows, "c string, d string")
    return (triples.select(*_TRIPLE_COLS)
            .filter(F.col("pred") == RDF_TYPE)
            .join(F.broadcast(cls_df), F.col("obj_value") == F.col("c"))
            .select("subj", F.lit(RDF_TYPE).alias("pred"),
                    F.col("d").alias("obj_value"),
                    F.when(F.col("d").startswith("_:"), F.lit("bnode"))
                    .otherwise(F.lit("uri")).alias("obj_kind"),
                    F.lit(None).cast("string").alias("obj_lang")))


def owl_key_links(triples: DataFrame,
                  schema_triples: DataFrame = None,
                  local_threshold: int = 1_000_000) -> DataFrame:
    """Identity links entailed by owl:FunctionalProperty /
    owl:InverseFunctionalProperty declarations — the classic
    linked-data key rules ((s p o1), (s p o2) -> o1 sameAs o2 for a
    functional p; (s1 p o), (s2 p o) -> s1 sameAs s2 for an
    inverse-functional p).  Returns an ``(a, b)`` link relation.

    Scale shape: per key group we emit the STAR (min-member, other) —
    linear output, never the quadratic pairset; symmetric-transitive
    completion is the smusher's job (``operators.sameas``), which runs
    connected components over links only.  One window exchange per rule
    side, scalar per-group state (a min), so hot keys (a shared fake
    email at corpus scale) cannot blow up a task.  Declared key-ness is
    propagated through the inverse/equivalence orbit at compile time,
    so links are found whichever orbit form the instance data uses.
    Functional links are only derived between non-literal objects
    (literals have no identity to merge); inverse-functional keys MAY
    be literals (the mbox case) — the key includes (value, kind, lang)
    so a literal key never collides with an IRI of equal spelling."""
    from pyspark.sql import Window

    triples = triples.select(*_TRIPLE_COLS)
    schema_src = (triples if schema_triples is None
                  else schema_triples.select(*_TRIPLE_COLS))
    schema = compile_owl_schema(schema_src, local_threshold=local_threshold)
    spark = triples.sparkSession
    parts = []
    if schema.functional:
        fp = (triples.filter(F.col("pred").isin(*schema.functional)
                             & (F.col("obj_kind") != "literal")))
        w = Window.partitionBy("pred", "subj")
        parts.append(fp.withColumn("_rep", F.min("obj_value").over(w))
                     .filter(F.col("obj_value") != F.col("_rep"))
                     .select(F.col("_rep").alias("a"),
                             F.col("obj_value").alias("b")))
    if schema.inv_functional:
        ifp = triples.filter(F.col("pred").isin(*schema.inv_functional))
        w = Window.partitionBy("pred", "obj_value", "obj_kind", "obj_lang")
        parts.append(ifp.withColumn("_rep", F.min("subj").over(w))
                     .filter(F.col("subj") != F.col("_rep"))
                     .select(F.col("_rep").alias("a"),
                             F.col("subj").alias("b")))
    if not parts:
        return local_frame(spark, [], "a string, b string")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["a", "b"])


def owl_key_sameas_triples(triples: DataFrame,
                           schema_triples: DataFrame = None,
                           local_threshold: int = 1_000_000) -> DataFrame:
    """``owl_key_links`` rendered as 5-column ``owl:sameAs`` triples —
    union these into a corpus and ``operators.sameas`` smushes the
    entailed identities."""
    links = owl_key_links(triples, schema_triples=schema_triples,
                          local_threshold=local_threshold)
    return links.select(
        F.col("a").alias("subj"), F.lit(OWL_SAMEAS).alias("pred"),
        F.col("b").alias("obj_value"),
        F.when(F.col("b").startswith("_:"), F.lit("bnode"))
        .otherwise(F.lit("uri")).alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_lang"))


def transitive_edges(expanded: DataFrame, schema: OwlSchema) -> DataFrame:
    """The (pred, a, b, b_kind) edge slice of an orbit-expanded relation
    restricted to transitive predicates."""
    return (expanded
            .filter(F.col("pred").isin(*sorted(schema.trans_orbit))
                    & (F.col("obj_kind") != "literal"))
            .select("pred", F.col("subj").alias("a"),
                    F.col("obj_value").alias("b"),
                    F.col("obj_kind").alias("b_kind")))


def owl_closure(triples: DataFrame,
                schema_triples: DataFrame = None,
                local_threshold: int = 1_000_000) -> DataFrame:
    """Materialize the inverseOf/Symmetric/Transitive closure of a
    5-column triples relation.  Output: the input plus all inferred
    triples, deduplicated.

    ``schema_triples`` — the realistic entry point at scale (the caller
    holds the KB-sized ontology): when given, it is the ONLY source of
    axioms (instance-side axiom rows are treated as plain data) and its
    rows are unioned into the output, mirroring ``rdfs_closure``."""
    triples = triples.select(*_TRIPLE_COLS)
    schema_src = (triples if schema_triples is None
                  else schema_triples.select(*_TRIPLE_COLS))
    schema = compile_owl_schema(schema_src, local_threshold=local_threshold)
    expanded = orbit_expand(triples, schema)

    out_parts = [expanded]
    if schema.class_rows:
        # rdf:type is never an orbit/transitive predicate, so one rename
        # pass over the raw type rows is the complete fixpoint
        out_parts.append(class_expand(triples, schema))
    if schema.trans_orbit:
        edges = transitive_edges(expanded, schema)
        derived = _transitive_closure_edges(edges)
        out_parts.append(derived.select(
            F.col("a").alias("subj"), "pred",
            F.col("b").alias("obj_value"),
            F.col("b_kind").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang")))
    if schema_triples is not None:
        out_parts.append(schema_triples.select(*_TRIPLE_COLS))

    out = out_parts[0]
    for part in out_parts[1:]:
        out = out.unionByName(part)
    return out.dropDuplicates(_TRIPLE_COLS)


OWL_PROPERTY_CHAIN = "http://www.w3.org/2002/07/owl#propertyChainAxiom"
RDF_FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
RDF_REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
RDF_NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"


def compile_chain_axioms(schema_src: DataFrame,
                         local_threshold: int = 1_000_000
                         ) -> List[Tuple[str, Tuple[str, ...]]]:
    """Collect ``owl:propertyChainAxiom`` declarations (OWL RL
    prp-spo2): each axiom is (head, RDF list of step predicates) —
    ``hasGrandparent owl:propertyChainAxiom (hasParent hasParent)``.
    Steps must be IRIs (``ObjectInverseOf`` steps are rejected loudly;
    declare an explicit inverse predicate via ``owl:inverseOf`` and
    chain that instead).  Driver-side like ``compile_owl_schema`` —
    the axiom slice is KB-sized."""
    rows = (schema_src.select(*_TRIPLE_COLS)
            .filter(F.col("pred").isin(OWL_PROPERTY_CHAIN, RDF_FIRST,
                                       RDF_REST))
            .select("subj", "pred", "obj_value")
            .limit(local_threshold + 1).collect())
    if len(rows) > local_threshold:
        raise OwlUnsupportedPattern(
            "more than %d chain-axiom rows; the schema slice is "
            "expected to be KB-sized" % local_threshold)
    firsts = {r["subj"]: r["obj_value"] for r in rows
              if r["pred"] == RDF_FIRST}
    rests = {r["subj"]: r["obj_value"] for r in rows
             if r["pred"] == RDF_REST}
    chains: List[Tuple[str, Tuple[str, ...]]] = []
    for r in rows:
        if r["pred"] != OWL_PROPERTY_CHAIN:
            continue
        head, node = r["subj"], r["obj_value"]
        if head.startswith("_:"):
            raise OwlUnsupportedPattern(
                "chain head must be a named predicate (got %s)" % head)
        steps: List[str] = []
        while node != RDF_NIL:
            if node not in firsts:
                raise OwlUnsupportedPattern(
                    "malformed chain list at %s" % node)
            step = firsts[node]
            if step.startswith("_:"):
                raise OwlUnsupportedPattern(
                    "inverse (ObjectInverseOf) chain steps are not "
                    "supported — declare a named inverse via "
                    "owl:inverseOf and chain that predicate")
            steps.append(step)
            node = rests.get(node, RDF_NIL)
        if len(steps) < 2:
            raise OwlUnsupportedPattern(
                "property chain needs at least two steps (got %d)"
                % len(steps))
        chains.append((head, tuple(steps)))
    return sorted(chains)


def owl_chain_closure(triples: DataFrame,
                      schema_triples: DataFrame = None,
                      local_threshold: int = 1_000_000) -> DataFrame:
    """Materialize ``owl:propertyChainAxiom`` consequences (OWL RL
    prp-spo2): for each axiom p <- p1∘...∘pn, every instance walk
    s -p1-> x1 ... -pn-> o emits (s, p, o).  Output: input plus derived
    triples, deduplicated (schema rows included when passed).

    Plan: the working pool is restricted to the predicates any chain
    mentions (head or body) — one pushdown filter, the rest of the
    corpus never enters.  Each round recomposes every chain over the
    pool with per-predicate slice joins on (value, non-literal) and
    anti-joins the pool; rounds iterate because a chain head can feed
    another chain's body (or its own — p <- p∘q is a recursive axiom
    and converges like a transitive closure)."""
    triples = triples.select(*_TRIPLE_COLS)
    schema_src = (triples if schema_triples is None
                  else schema_triples.select(*_TRIPLE_COLS))
    chains = compile_chain_axioms(schema_src,
                                  local_threshold=local_threshold)
    out = triples
    if schema_triples is not None:
        out = out.unionByName(schema_triples.select(*_TRIPLE_COLS))
    if not chains:
        return out.dropDuplicates(_TRIPLE_COLS)

    relevant = sorted({p for h, steps in chains for p in (h,) + steps})
    key = ["subj", "pred", "obj_value", "obj_kind"]

    def compose(pool: DataFrame, head: str,
                steps: Tuple[str, ...]) -> DataFrame:
        e = pool.filter(F.col("pred") == steps[0])
        for s in steps[1:]:
            nxt = pool.filter(F.col("pred") == s)
            e = (e.filter(F.col("obj_kind") != "literal").alias("l")
                 .join(nxt.alias("r"),
                       F.col("l.obj_value") == F.col("r.subj"))
                 .select(F.col("l.subj").alias("subj"),
                         F.col("r.obj_value").alias("obj_value"),
                         F.col("r.obj_kind").alias("obj_kind"),
                         F.col("r.obj_lang").alias("obj_lang")))
        return e.select("subj", F.lit(head).alias("pred"),
                        "obj_value", "obj_kind", "obj_lang")

    def step(_delta: DataFrame, pool: DataFrame) -> DataFrame:
        parts = [compose(pool, h, steps) for h, steps in chains]
        cand = parts[0]
        for p in parts[1:]:
            cand = cand.unionByName(p)
        return cand

    seed = (triples.filter(F.col("pred").isin(relevant))
            .dropDuplicates(key))
    _, derived = fixpoint(seed, step, key, "owl property chain")
    return out.unionByName(derived).dropDuplicates(_TRIPLE_COLS)


# --------------------------------------------------------------------------
# per-named-graph closure via reserved-vocabulary graph encoding
# --------------------------------------------------------------------------

_RESERVED_NS = ("http://www.w3.org/1999/02/22-rdf-syntax-ns#",
                "http://www.w3.org/2000/01/rdf-schema#",
                "http://www.w3.org/2002/07/owl#")
_GSEP = "\x1f"
_DEFAULT_G = "\x00"


def _is_reserved(col):
    cond = F.lit(False)
    for ns in _RESERVED_NS:
        cond = cond | col.startswith(ns)
    return cond


def _g_prefix(gcol, col, kind_col=None):
    skip = _is_reserved(col)
    if kind_col is not None:
        skip = skip | (kind_col == "literal")
    return F.when(skip, col).otherwise(
        F.concat(gcol, F.lit(_GSEP), col))


def _g_strip(col):
    i = F.instr(col, _GSEP)
    return F.when(i > 0,
                  col.substr(i + 1, F.lit(2_000_000_000))).otherwise(col)


def _g_of(col):
    i = F.instr(col, _GSEP)
    return F.when(i > 0, col.substr(F.lit(1), i - 1))


def owl_closure_quads(quads: DataFrame,
                      schema_quads: DataFrame = None,
                      local_threshold: int = 1_000_000) -> DataFrame:
    """Per-named-graph OWL closure of a QUAD relation in ONE job: each
    graph closes under its own axioms, no cross-graph leakage — the
    dataset analogue of ``owl_closure`` (and the OWL sibling of
    ``rdfs.rdfs_closure_quads``).

    Unlike RDFS, transitivity does NOT decompose into per-row rules, so
    the graph label cannot simply ride the joins of the existing plan.
    Instead the quad relation is GRAPH-ENCODED: every term outside the
    reserved rdf/rdfs/owl vocabularies is prefixed with its graph label
    (literals untouched), the ordinary triple closure runs once over
    the encoded union, and the output decodes back to quads.  Sound
    because every closure rule joins exclusively through non-reserved
    terms (user predicates and nodes) — prefixed terms can never match
    across graphs — while the vocabulary constants the axiom mining
    keys on stay bare.  One encode projection + one decode projection;
    the closure plan itself is untouched, so the scale shape is exactly
    ``owl_closure``'s.

    Loudly rejected (``OwlUnsupportedPattern``), two shapes whose graph
    label cannot survive the encoding:

    - rows whose subject AND predicate are reserved vocabulary with a
      literal/reserved object (their graph label would be unrecoverable
      after decoding — e.g. an annotation ON owl:Thing itself);
    - AXIOM rows (``owl:equivalentClass`` / ``owl:equivalentProperty``
      / ``owl:inverseOf``) whose subject or object is itself a reserved
      term (``c owl:equivalentClass owl:Thing``): those predicates join
      through BOTH endpoints, so a bare reserved endpoint would merge
      every graph's orbit through it — the exact cross-graph leak the
      encoding exists to prevent.  Each graph must state such axioms
      over its own (non-reserved) terms, or be closed explicitly.

    ``schema_quads`` mirrors ``schema_triples``: per-graph axiom
    relations supplied by the caller.
    """
    cols = ["context", "subj", "pred", "obj_value", "obj_kind",
            "obj_lang"]

    def encode(q):
        g = F.coalesce(F.col("context"), F.lit(_DEFAULT_G))
        return q.select(
            _g_prefix(g, F.col("subj")).alias("subj"),
            _g_prefix(g, F.col("pred")).alias("pred"),
            _g_prefix(g, F.col("obj_value"), F.col("obj_kind"))
            .alias("obj_value"),
            "obj_kind", "obj_lang")

    # Predicates whose rule joins through BOTH subj and obj: a reserved
    # (hence unprefixed) endpoint on either side would act as a shared
    # hub merging orbits across graphs.
    _AXIOM_PREDS = (OWL_EQUIV_CLASS, OWL_EQUIV_PROPERTY, OWL_INVERSE_OF)

    def check_encodable(q, what):
        bad = (q.filter(_is_reserved(F.col("subj"))
                        & _is_reserved(F.col("pred"))
                        & ((F.col("obj_kind") == "literal")
                           | _is_reserved(F.col("obj_value"))))
               .limit(1).count())
        if bad:
            raise OwlUnsupportedPattern(
                "%s contains rows entirely inside the reserved "
                "rdf/rdfs/owl vocabularies; their graph cannot be "
                "encoded — close those rows per graph explicitly" % what)
        leaky = (q.filter(F.col("pred").isin(*_AXIOM_PREDS)
                          & (_is_reserved(F.col("subj"))
                             | (F.col("obj_kind") == "literal")
                             | _is_reserved(F.col("obj_value"))))
                 .limit(1).count())
        if leaky:
            raise OwlUnsupportedPattern(
                "%s contains an equivalentClass/equivalentProperty/"
                "inverseOf axiom over a reserved rdf/rdfs/owl term (or "
                "a literal endpoint); reserved terms stay unprefixed, "
                "so such an axiom would leak entailments across graphs "
                "— restate it per graph over non-reserved terms" % what)

    quads = quads.select(*cols)
    check_encodable(quads, "quads")
    enc = encode(quads)
    enc_schema = None
    if schema_quads is not None:
        schema_quads = schema_quads.select(*cols)
        check_encodable(schema_quads, "schema_quads")
        enc_schema = encode(schema_quads)

    out = owl_closure(enc, schema_triples=enc_schema,
                      local_threshold=local_threshold)
    graph = F.coalesce(
        _g_of(F.col("subj")), _g_of(F.col("pred")),
        F.when(F.col("obj_kind") != "literal",
               _g_of(F.col("obj_value"))))
    ctx = F.when(graph == _DEFAULT_G,
                 F.lit(None).cast("string")).otherwise(graph)
    return out.select(
        ctx.alias("context"),
        _g_strip(F.col("subj")).alias("subj"),
        _g_strip(F.col("pred")).alias("pred"),
        F.when(F.col("obj_kind") == "literal", F.col("obj_value"))
        .otherwise(_g_strip(F.col("obj_value"))).alias("obj_value"),
        "obj_kind", "obj_lang")
