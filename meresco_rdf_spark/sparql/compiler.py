"""Compile the parsed SPARQL subset to a DataFrame plan.

Each solution mapping is a row; every variable ``?v`` occupies three
columns — ``v`` (lexical value), ``v_kind`` (uri/bnode/literal),
``v_lang`` — mirroring the engine's triple encoding (SURVEY.md §1.4) and
the output convention of ``operators.graph_ops.match_patterns``.

Plan shape (the one you'd hand-write):
- every triple pattern is an aliased scan of the SAME triples relation
  with its constant terms pushed as filters (they reach the parquet scan
  as ``PushedFilters``);
- shared variables become equi-join conditions on full term identity
  (value + kind + lang, null-safe on lang) — hash joins that AQE
  broadcast-converts when a selective pattern shrinks one side;
- OPTIONAL is a left outer join of the group's sub-plan on the shared
  variables; UNION is ``unionByName`` with absent variables padded to
  typed NULLs; FILTER compiles to a Column predicate applied at the
  group boundary (nulls propagate to false, matching SPARQL
  error-elimination for the supported functions).

No collect, no Python row loops: the full query — parse → compile →
execute — is a single Catalyst plan over the (bucketed, at scale)
triples table.

Join ORDER within a BGP is left syntactic by default; pass
``pattern_stats`` (see ``operators.graph_ops.predicate_stats``) to
greedily reorder patterns most-selective-first — the classic RDF-store
heuristic, applied BEFORE Catalyst so the logical join tree starts from
the small relations even when CBO statistics are absent.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional as Opt, Sequence, Set, Tuple

from pyspark.sql import Column, DataFrame, functions as F

from ..fixpoint import fixpoint
from ..session import local_frame
from .parser import (
    Arith,
    BindPattern,
    BNodeRef,
    BoolOp,
    Cmp,
    ExistsPattern,
    Filter,
    FuncCall,
    GroupPattern,
    Iri,
    Lit,
    MinusPattern,
    NamedGraphPattern,
    NegatedSet,
    NotExpr,
    Num,
    OptionalPattern,
    PathOpt,
    PathPlus,
    PathStar,
    SelectQuery,
    SubSelect,
    TriplesBlock,
    UnionPattern,
    UpdateQuery,
    ValuesPattern,
    Var,
    parse_query,
)


class SparqlCompileError(ValueError):
    pass


# ---------------------------------------------------------------------------
# frames: (DataFrame, set-of-variable-names); each var = 3 columns
# ---------------------------------------------------------------------------

def _var_cols(v: str) -> Tuple[str, str, str]:
    return v, "%s_kind" % v, "%s_lang" % v


def _null_str() -> Column:
    return F.lit(None).cast("string")


def _pattern_vars(pattern) -> Set[str]:
    return {t.name for t in pattern if isinstance(t, Var)}


def _subj_kind() -> Column:
    """Term kind of a subject column: uri or bnode, never literal."""
    return (F.when(F.col("subj").startswith("_:"), F.lit("bnode"))
            .otherwise(F.lit("uri")))


def _path_base_edges(triples: DataFrame, preds: Sequence[str],
                     branches: Sequence[Sequence[Tuple[str, str]]] = (),
                     with_ctx: bool = False) -> DataFrame:
    """The one-step edge relation a quantified path closes over —
    distinct ``(src, src_kind, src_lang, dst, dst_kind, dst_lang[, ctx])``
    rows carrying FULL term identity on both ends (an inverse step makes
    a literal a path SOURCE, so src is not always uri/bnode).

    ``preds`` (bare-IRI alternation, the common ``rdfs:subClassOf*``
    shape): one predicate-set filter over the relation — a single scan,
    pushdown-eligible.  ``branches`` (any ``|``/``/``/``^`` combination):
    each branch is a sequence of ('fwd'|'inv', iri) steps compiled to a
    chain of equi-joins on full term identity (composed edges), branches
    unioned.  Each step filters to ONE predicate before joining, so the
    join inputs are the per-predicate slices, never the whole relation.
    """
    ctx = [F.col("context").alias("ctx")] if with_ctx else []
    if not branches:
        return (triples.filter(F.col("pred").isin(list(preds)))
                .select(F.col("subj").alias("src"),
                        _subj_kind().alias("src_kind"),
                        _null_str().alias("src_lang"),
                        F.col("obj_value").alias("dst"),
                        F.col("obj_kind").alias("dst_kind"),
                        F.col("obj_lang").alias("dst_lang"), *ctx)
                .distinct())

    def atomic(direction: str, payload) -> DataFrame:
        # payload: one IRI for fwd/inv; a tuple of excluded IRIs for the
        # negated-set steps negf/negi (SS18.4 NPS inside a quantifier —
        # the edge relation is the predicate COMPLEMENT, still one
        # pushdown-eligible NOT-IN filter)
        if direction in ("negf", "negi"):
            t = triples.filter(~F.col("pred").isin(list(payload)))
            forward = direction == "negf"
        else:
            t = triples.filter(F.col("pred") == payload)
            forward = direction == "fwd"
        if forward:
            return t.select(
                F.col("subj").alias("src"), _subj_kind().alias("src_kind"),
                _null_str().alias("src_lang"),
                F.col("obj_value").alias("dst"),
                F.col("obj_kind").alias("dst_kind"),
                F.col("obj_lang").alias("dst_lang"), *ctx)
        return t.select(
            F.col("obj_value").alias("src"),
            F.col("obj_kind").alias("src_kind"),
            F.col("obj_lang").alias("src_lang"),
            F.col("subj").alias("dst"), _subj_kind().alias("dst_kind"),
            _null_str().alias("dst_lang"), *ctx)

    per_branch = []
    for steps in branches:
        edge = atomic(*steps[0])
        for direction, uri in steps[1:]:
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
            edge = (edge.alias("l")
                    .join(atomic(direction, uri).alias("r"), cond)
                    .select(*sel))
        per_branch.append(edge)
    out = per_branch[0]
    for e in per_branch[1:]:
        out = out.unionByName(e)
    return out.distinct()


def _path_plus_edges(triples: DataFrame, preds: Sequence[str],
                     branches: Sequence[Sequence[Tuple[str, str]]] = (),
                     seed: Opt[Tuple[str, str, Opt[str]]] = None,
                     with_ctx: bool = False) -> DataFrame:
    """Transitive closure of the ``_path_base_edges`` relation — the
    runtime of a SPARQL ``p+`` path.  Returns
    ``(src, src_kind, src_lang, dst, dst_kind, dst_lang)`` for every
    path of length ≥ 1.

    Semi-naive frontier iteration: each round extends only the NEWLY
    reached pairs by one base edge and anti-joins the accumulated closure,
    so per-round work tracks the frontier, not the closure; lineage is cut
    with ``localCheckpoint`` per round and the loop is bounded by the
    longest simple path.  When the subject is a constant (``seed``, a
    full (value, kind, lang) term) the closure is seeded from that node
    only — reachability, not the full closure.  On the ``preds`` fast
    path traversal continues through uri/bnode objects only (a literal
    can terminate a path but never extends one); with ``branches`` the
    extension joins on full term identity instead — an inverse step can
    legitimately continue FROM a literal.

    With ``with_ctx`` (property path inside ``GRAPH ?g``) the relation is
    a quad view and every frame carries a ``ctx`` column: extension joins
    add ``ctx`` equality so paths never cross graph boundaries — one
    closure job computes all graphs' closures at once (the context is
    just one more join key, NOT a per-graph loop), and the output gains
    a ``ctx`` column.
    """
    if seed is not None and branches:
        # Seeded reachability must NOT materialize the composed edge
        # relation (for a branch like p/^p that is |members|^2 per hub
        # — quadratic in the data, measured 15s at sf0.1): walk a NODE
        # frontier through the per-predicate step slices instead, one
        # frontier-sized join per step per round.
        return _seeded_branch_closure(triples, branches, seed,
                                      with_ctx=with_ctx)
    base = _path_base_edges(triples, preds, branches, with_ctx=with_ctx)
    if seed is not None:
        start = (base.filter(F.col("src") == seed[0])
                 .filter(F.col("src_kind") == seed[1])
                 .filter(F.col("src_lang").eqNullSafe(
                     F.lit(seed[2]).cast("string"))))
    else:
        start = base
    return closure_of_edges(base, start=start,
                            full_term_join=bool(branches),
                            prune_literal_dst=not branches,
                            with_ctx=with_ctx)


def _seeded_branch_closure(triples: DataFrame,
                           branches: Sequence[Sequence[Tuple[str, str]]],
                           seed: Tuple[str, str, Opt[str]],
                           with_ctx: bool = False) -> DataFrame:
    """Reachability closure of a branch path from ONE constant source:
    semi-naive over a frontier of (node, kind, lang[, ctx]) TERMS —
    each round walks the frontier through every branch's step slices
    (per-predicate filters joined on full term identity), so the work
    per round is frontier-sized and the composed branch relation is
    never built.  Returns the same frame shape as the unseeded closure:
    ``(src, src_kind, src_lang, dst, dst_kind, dst_lang[, ctx])`` with
    the src columns pinned to the seed."""
    spark = triples.sparkSession
    node_cols = ["node", "kind", "lang"] + (["ctx"] if with_ctx else [])

    def atomic(direction: str, payload) -> DataFrame:
        if direction in ("negf", "negi"):
            t = triples.filter(~F.col("pred").isin(list(payload)))
            forward = direction == "negf"
        else:
            t = triples.filter(F.col("pred") == payload)
            forward = direction == "fwd"
        ctx = [F.col("context").alias("ctx")] if with_ctx else []
        sk = (F.when(F.col("subj").startswith("_:"), F.lit("bnode"))
              .otherwise(F.lit("uri")))
        if forward:
            return t.select(
                F.col("subj").alias("src"), sk.alias("src_kind"),
                _null_str().alias("src_lang"),
                F.col("obj_value").alias("dst"),
                F.col("obj_kind").alias("dst_kind"),
                F.col("obj_lang").alias("dst_lang"), *ctx)
        return t.select(
            F.col("obj_value").alias("src"),
            F.col("obj_kind").alias("src_kind"),
            F.col("obj_lang").alias("src_lang"),
            F.col("subj").alias("dst"), sk.alias("dst_kind"),
            _null_str().alias("dst_lang"), *ctx)

    def walk(front: DataFrame,
             steps: Sequence[Tuple[str, str]]) -> DataFrame:
        cur = front
        for direction, uri in steps:
            cond = ((F.col("f.node") == F.col("s.src"))
                    & (F.col("f.kind") == F.col("s.src_kind"))
                    & F.col("f.lang").eqNullSafe(F.col("s.src_lang")))
            if with_ctx:
                cond = cond & (F.col("f.ctx") == F.col("s.ctx"))
            sel = [F.col("s.dst").alias("node"),
                   F.col("s.dst_kind").alias("kind"),
                   F.col("s.dst_lang").alias("lang")]
            if with_ctx:
                sel.append(F.col("f.ctx").alias("ctx"))
            cur = (cur.alias("f")
                   .join(atomic(direction, uri).alias("s"), cond)
                   .select(*sel))
        return cur

    def walk_all(front: DataFrame) -> DataFrame:
        parts = [walk(front, steps) for steps in branches]
        cand = parts[0]
        for p in parts[1:]:
            cand = cand.unionByName(p)
        return cand

    start = spark.range(1).select(
        F.lit(seed[0]).alias("node"), F.lit(seed[1]).alias("kind"),
        F.lit(seed[2]).cast("string").alias("lang"))
    if with_ctx:
        # the seed exists in every named graph's zero-walk position;
        # reachability is evaluated per graph
        start = (triples.select(F.col("context").alias("ctx"))
                 .dropDuplicates().crossJoin(start)
                 .select(*node_cols))
    # p+ has length >= 1: the first walk is the seed, so the start node
    # is in the closure only when a cycle leads back to it
    visited, _ = fixpoint(walk_all(start).dropDuplicates(node_cols),
                          lambda delta, _acc: walk_all(delta), node_cols,
                          "sparql seeded path")
    out = [F.lit(seed[0]).alias("src"), F.lit(seed[1]).alias("src_kind"),
           F.lit(seed[2]).cast("string").alias("src_lang"),
           F.col("node").alias("dst"), F.col("kind").alias("dst_kind"),
           F.col("lang").alias("dst_lang")]
    if with_ctx:
        out.append("ctx")
    return visited.select(*out)


def closure_of_edges(base: DataFrame, start: Opt[DataFrame] = None,
                     full_term_join: bool = True,
                     prune_literal_dst: bool = False,
                     with_ctx: bool = False) -> DataFrame:
    """Transitive closure of a distinct 6-column edge relation
    ``(src, src_kind, src_lang, dst, dst_kind, dst_lang[, ctx])`` — the
    shared runtime of quantified SPARQL paths and SHACL zero/one-or-more
    property paths.  ``start`` (default: ``base``) is the length-1 seed
    frame, possibly filtered to one source node (reachability).

    ``full_term_join``: extension joins match on full (value, kind,
    lang) term identity — required when edges can START at a literal
    (inverse steps).  With it off, joins on value only, which is exact
    when every source is uri/bnode (bare-predicate edge sets), and
    ``prune_literal_dst`` drops literal-destination frontier rows
    before the join (a literal can terminate but never extend).

    Semi-naive frontier iteration: each round extends only the NEWLY
    reached pairs by one base edge and anti-joins the accumulated
    closure, so per-round work tracks the frontier, not the closure;
    lineage is cut with ``localCheckpoint`` per round and the loop is
    bounded by the longest simple path.
    """
    def step(frontier: DataFrame, _acc: DataFrame) -> DataFrame:
        join_cond = F.col("f.dst") == F.col("b.src")
        if full_term_join:
            join_cond = (join_cond
                         & (F.col("f.dst_kind") == F.col("b.src_kind"))
                         & F.col("f.dst_lang").eqNullSafe(
                             F.col("b.src_lang")))
        if with_ctx:
            join_cond = join_cond & (F.col("f.ctx") == F.col("b.ctx"))
        out = [F.col("f.src").alias("src"),
               F.col("f.src_kind").alias("src_kind"),
               F.col("f.src_lang").alias("src_lang"),
               F.col("b.dst").alias("dst"),
               F.col("b.dst_kind").alias("dst_kind"),
               F.col("b.dst_lang").alias("dst_lang")]
        if with_ctx:
            out.append(F.col("f.ctx").alias("ctx"))
        if prune_literal_dst:
            frontier = frontier.filter(F.col("dst_kind") != "literal")
        return (frontier.alias("f")
                .join(base.alias("b"), join_cond)
                .select(*out))

    start = base if start is None else start
    closure, _ = fixpoint(start, step, start.columns, "sparql path closure")
    return closure


def _graph_terms(triples: DataFrame, with_ctx: bool = False) -> DataFrame:
    """(node, kind, lang) for every RDF term of the graph (subjects ∪
    objects) — the zero-length-path domain (SPARQL 1.1 §18.4,
    ZeroLengthPath over both-variable endpoints).  With ``with_ctx`` the
    domain is per named graph: each term is listed with the ``ctx`` of
    the graph(s) it appears in."""
    extra = [F.col("context").alias("ctx")] if with_ctx else []
    subjects = triples.select(
        F.col("subj").alias("node"),
        F.when(F.col("subj").startswith("_:"), F.lit("bnode"))
         .otherwise(F.lit("uri")).alias("kind"),
        _null_str().alias("lang"), *extra)
    objects = triples.select(
        F.col("obj_value").alias("node"),
        F.col("obj_kind").alias("kind"),
        F.col("obj_lang").alias("lang"), *extra)
    return subjects.unionByName(objects).distinct()


def _term_const(t) -> Opt[Tuple[str, str, Opt[str]]]:
    """(value, kind, lang) of a constant term, None for variables."""
    if isinstance(t, Iri):
        return (t.uri, "uri", None)
    if isinstance(t, BNodeRef):
        return (t.label, "bnode", None)
    if isinstance(t, Lit):
        return (t.value, "literal", t.lang)
    return None


def _compile_path_closure(triples: DataFrame, s, p, o, plus: bool,
                          graph_var: Opt[str] = None
                          ) -> Tuple[DataFrame, Set[str]]:
    """(s, p*, o) / (s, p?, o) -> bindings frame: the zero-length
    identity matches UNION the length>=1 matches (the full transitive
    closure for ``*``, the base edge set for ``?``).

    Zero-length semantics: a constant endpoint contributes its own
    identity row; with both endpoints variables, every RDF term of the
    graph matches itself (so ``?x p* ?x`` binds every term).  The frame
    carries explicit (src, src_kind, src_lang) because zero-length
    matches can bind a LITERAL to the subject position — the uri/bnode
    derivation used for real path sources does not apply to them.

    With ``graph_var`` (path inside ``GRAPH ?g``) the relation is a quad
    view; paths are confined to a single named graph (the context rides
    the closure joins as one more key — ONE job evaluates every graph's
    closure, no per-graph loop), the zero-length domain is per graph (a
    constant endpoint matches itself in EVERY named graph; variable
    endpoints match each graph's own terms), and ``?g`` binds from the
    quad context."""
    with_ctx = graph_var is not None
    seed = _term_const(s)
    if plus:
        step6 = _path_plus_edges(triples, p.preds, p.branches, seed=seed,
                                 with_ctx=with_ctx)
    else:
        step6 = _path_base_edges(triples, p.preds, p.branches,
                                 with_ctx=with_ctx)
        if seed is not None:
            step6 = (step6.filter(F.col("src") == seed[0])
                     .filter(F.col("src_kind") == seed[1])
                     .filter(F.col("src_lang").eqNullSafe(
                         F.lit(seed[2]).cast("string"))))
    ctx_sel = ["ctx"] if with_ctx else []

    const = _term_const(s) or _term_const(o)
    if const is not None:
        node, kind, lang = const
        if with_ctx:
            ident = (triples.select(F.col("context").alias("ctx"))
                     .distinct()
                     .select(F.lit(node).alias("node"),
                             F.lit(kind).alias("kind"),
                             F.lit(lang).cast("string").alias("lang"),
                             "ctx"))
        else:
            spark = triples.sparkSession
            ident = spark.range(1).select(
                F.lit(node).alias("node"), F.lit(kind).alias("kind"),
                F.lit(lang).cast("string").alias("lang"))
    else:
        ident = _graph_terms(triples, with_ctx=with_ctx)
    zero6 = ident.select(
        F.col("node").alias("src"), F.col("kind").alias("src_kind"),
        F.col("lang").alias("src_lang"),
        F.col("node").alias("dst"), F.col("kind").alias("dst_kind"),
        F.col("lang").alias("dst_lang"), *ctx_sel)
    df = zero6.unionByName(step6).dropDuplicates()

    sc, oc = _term_const(s), _term_const(o)
    if sc is not None:
        df = (df.filter(F.col("src") == sc[0])
              .filter(F.col("src_kind") == sc[1])
              .filter(F.col("src_lang").eqNullSafe(
                  F.lit(sc[2]).cast("string"))))
    if oc is not None:
        df = (df.filter(F.col("dst") == oc[0])
              .filter(F.col("dst_kind") == oc[1])
              .filter(F.col("dst_lang").eqNullSafe(
                  F.lit(oc[2]).cast("string"))))

    # GRAPH ?g: bind the graph label, or unify it with a same-named
    # endpoint variable (GRAPH ?g { ?g p* ?x }) via an equality filter
    gcols: List[Column] = []
    gvars: Set[str] = set()
    if with_ctx:
        ctx_kind = (F.when(F.col("ctx").startswith("_:"), F.lit("bnode"))
                    .otherwise(F.lit("uri")))
        unified = False
        if isinstance(s, Var) and s.name == graph_var:
            df = df.filter((F.col("src") == F.col("ctx"))
                           & (F.col("src_kind") == ctx_kind))
            unified = True
        if isinstance(o, Var) and o.name == graph_var:
            df = df.filter((F.col("dst") == F.col("ctx"))
                           & (F.col("dst_kind") == ctx_kind))
            unified = True
        if not unified:
            v, k, lg = _var_cols(graph_var)
            gcols = [F.col("ctx").alias(v), ctx_kind.alias(k),
                     _null_str().alias(lg)]
            gvars = {graph_var}

    if isinstance(s, Var) and isinstance(o, Var) and s.name == o.name:
        df = df.filter(
            (F.col("src") == F.col("dst"))
            & (F.col("src_kind") == F.col("dst_kind"))
            & F.col("src_lang").eqNullSafe(F.col("dst_lang")))
        v, k, lg = _var_cols(s.name)
        return (df.select(F.col("src").alias(v),
                          F.col("src_kind").alias(k),
                          F.col("src_lang").alias(lg),
                          *gcols).dropDuplicates(),
                {s.name} | gvars)
    cols: List[Column] = []
    vars_: Set[str] = set()
    if isinstance(s, Var):
        v, k, lg = _var_cols(s.name)
        cols.extend([F.col("src").alias(v), F.col("src_kind").alias(k),
                     F.col("src_lang").alias(lg)])
        vars_.add(s.name)
    if isinstance(o, Var) and o.name not in vars_:
        v, k, lg = _var_cols(o.name)
        cols.extend([F.col("dst").alias(v), F.col("dst_kind").alias(k),
                     F.col("dst_lang").alias(lg)])
        vars_.add(o.name)
    cols.extend(gcols)
    vars_ |= gvars
    if not cols:
        return df.limit(1).select(F.lit(1).alias("_ground")), set()
    # no dedup needed: df is already distinct and every dropped column
    # (a constant endpoint, or ctx when unified with an endpoint) is
    # functionally determined by the kept ones
    return df.select(*cols), vars_


def _compile_path_plus(triples: DataFrame, s, p: PathPlus, o,
                       graph_var: Opt[str] = None
                       ) -> Tuple[DataFrame, Set[str]]:
    """(s, p+, o) -> bindings frame over the closure relation.  With
    ``graph_var`` (path inside ``GRAPH ?g``) the closure is per named
    graph — the quad context rides the closure joins as one more key —
    and ``?g`` binds from it."""
    with_ctx = graph_var is not None
    df = _path_plus_edges(triples, p.preds, p.branches,
                          seed=_term_const(s), with_ctx=with_ctx)
    if isinstance(o, Iri):
        df = (df.filter(F.col("dst") == o.uri)
              .filter(F.col("dst_kind") == "uri"))
    elif isinstance(o, BNodeRef):
        df = (df.filter(F.col("dst") == o.label)
              .filter(F.col("dst_kind") == "bnode"))
    elif isinstance(o, Lit):
        df = (df.filter(F.col("dst") == o.value)
              .filter(F.col("dst_kind") == "literal")
              .filter(F.col("dst_lang").eqNullSafe(
                  F.lit(o.lang).cast("string"))))
    gcols: List[Column] = []
    gvars: Set[str] = set()
    if with_ctx:
        ctx_kind = (F.when(F.col("ctx").startswith("_:"), F.lit("bnode"))
                    .otherwise(F.lit("uri")))
        unified = False
        if isinstance(s, Var) and s.name == graph_var:
            df = df.filter((F.col("src") == F.col("ctx"))
                           & (F.col("src_kind") == ctx_kind))
            unified = True
        if isinstance(o, Var) and o.name == graph_var:
            df = df.filter((F.col("dst") == F.col("ctx"))
                           & (F.col("dst_kind") == ctx_kind))
            unified = True
        if not unified:
            v, k, lg = _var_cols(graph_var)
            gcols = [F.col("ctx").alias(v), ctx_kind.alias(k),
                     _null_str().alias(lg)]
            gvars = {graph_var}
    cols: List[Column] = []
    vars_: Set[str] = set()
    if isinstance(s, Var):
        v, k, lg = _var_cols(s.name)
        cols.extend([F.col("src").alias(v),
                     F.col("src_kind").alias(k),
                     F.col("src_lang").alias(lg)])
        vars_.add(s.name)
    if isinstance(o, Var):
        if isinstance(s, Var) and o.name == s.name:
            # cyclic reachability ?x p+ ?x: full term identity (a
            # literal can cycle through an inverse step)
            df = (df.filter(F.col("dst") == F.col("src"))
                  .filter(F.col("dst_kind") == F.col("src_kind"))
                  .filter(F.col("dst_lang").eqNullSafe(
                      F.col("src_lang"))))
        else:
            v, k, lg = _var_cols(o.name)
            cols.extend([F.col("dst").alias(v),
                         F.col("dst_kind").alias(k),
                         F.col("dst_lang").alias(lg)])
            vars_.add(o.name)
    cols.extend(gcols)
    vars_ |= gvars
    if not cols:
        return df.limit(1).select(F.lit(1).alias("_ground")), set()
    out = df.select(*cols)
    if gvars and not (isinstance(s, Var) or isinstance(o, Var)):
        # ground endpoints + GRAPH ?g: one row per graph where the path
        # holds (the projection to ctx alone can repeat per path)
        out = out.dropDuplicates()
    return out, vars_


def _active_graph(triples: DataFrame, graph) -> Tuple[DataFrame, Opt[str]]:
    """Resolve the active graph for a group: (view, graph_var).

    ``graph`` is None (default graph), ("iri", uri) or ("var", name).
    On a plain 5-column triple relation only the default graph exists.
    On a quad relation (extra ``context`` column — the multi-document
    ingest shape), the default graph is the context-IS-NULL rows; GRAPH
    scopes to non-null contexts.  Query the union of all graphs by
    passing ``quads.drop("context")``.  The context filter is a plain
    pushdown-eligible predicate either way."""
    if "context" not in triples.columns:
        if graph is not None:
            raise SparqlCompileError(
                "GRAPH requires a quad relation (a 'context' column); "
                "this relation has only the default graph")
        return triples, None
    ctx = F.col("context")
    if graph is None:
        return triples.filter(ctx.isNull()).drop("context"), None
    kind, val = graph
    if kind == "iri":
        return triples.filter(ctx == val).drop("context"), None
    return triples.filter(ctx.isNotNull()), val  # var: keep context


def _compile_pattern(triples: DataFrame, pattern,
                     graph_var: Opt[str] = None) -> Tuple[DataFrame,
                                                          Set[str]]:
    """One triple pattern -> (bindings frame, vars). Constant terms become
    pushed filters; variable terms become the binding columns.  With
    ``graph_var`` the frame additionally binds the quad's context as that
    variable (GRAPH ?g scope)."""
    s, p, o = pattern
    if isinstance(p, PathPlus):
        return _compile_path_plus(triples, s, p, o, graph_var=graph_var)
    if isinstance(p, PathStar):
        return _compile_path_closure(triples, s, p, o, plus=True,
                                     graph_var=graph_var)
    if isinstance(p, PathOpt):
        return _compile_path_closure(triples, s, p, o, plus=False,
                                     graph_var=graph_var)
    df = triples

    # constant filters (pushdown-eligible)
    if isinstance(s, Iri):
        df = df.filter(F.col("subj") == s.uri)
    elif isinstance(s, BNodeRef):
        df = df.filter(F.col("subj") == s.label)
    elif isinstance(s, Lit):
        # grammar-legal but unsatisfiable on RDF data: no triple has a
        # literal subject, so a plain pattern never matches (paths
        # differ — an inverse step CAN start at a literal, handled in
        # the path compilers via _term_const seeds)
        df = df.filter(F.lit(False))
    if isinstance(p, Iri):
        df = df.filter(F.col("pred") == p.uri)
    elif isinstance(p, NegatedSet):
        # §9.1: any predicate OUTSIDE the set; binds no variable.  The
        # NOT-IN reaches the scan as a pushed filter like any equality.
        df = df.filter(~F.col("pred").isin(list(p.preds)))
    elif not isinstance(p, Var):
        raise SparqlCompileError("predicate must be IRI or variable")
    if isinstance(o, Iri):
        df = (df.filter(F.col("obj_value") == o.uri)
                .filter(F.col("obj_kind") == "uri"))
    elif isinstance(o, BNodeRef):
        df = (df.filter(F.col("obj_value") == o.label)
                .filter(F.col("obj_kind") == "bnode"))
    elif isinstance(o, Lit):
        df = (df.filter(F.col("obj_value") == o.value)
                .filter(F.col("obj_kind") == "literal")
                .filter(F.col("obj_lang").eqNullSafe(
                    F.lit(o.lang).cast("string"))))

    cols: List[Column] = []
    seen: Dict[str, int] = {}
    same_var_conds: List[Column] = []

    def bind(var: str, value: Column, kind: Column, lang: Column, pos: int):
        if var in seen:
            # repeated var inside one pattern (?x ?p ?x): value equality
            same_var_conds.append(value == F.col(var))
            return
        seen[var] = pos
        v, k, lg = _var_cols(var)
        cols.extend([value.alias(v), kind.alias(k), lang.alias(lg)])

    if isinstance(s, Var):
        bind(s.name, F.col("subj"),
             F.when(F.col("subj").startswith("_:"), F.lit("bnode"))
              .otherwise(F.lit("uri")), _null_str(), 0)
    if isinstance(p, Var):
        bind(p.name, F.col("pred"), F.lit("uri"), _null_str(), 1)
    if isinstance(o, Var):
        if o.name in seen:
            # ?x in s/p and again in o: term equality against the earlier
            # binding — non-literal kinds only (subject/predicate space)
            df = df.filter(F.col("obj_kind") != "literal")
            df = df.filter(F.col("obj_value") == (
                F.col("subj") if seen[o.name] == 0 else F.col("pred")))
            df = df.filter(F.col("obj_lang").isNull())
        else:
            bind(o.name, F.col("obj_value"), F.col("obj_kind"),
                 F.col("obj_lang"), 2)

    gvars: Set[str] = set()
    if graph_var is not None:
        if graph_var in seen:
            # GRAPH ?g { ... ?g ... }: unify the context with the
            # already-bound position instead of binding twice
            src = ("subj", "pred", "obj_value")[seen[graph_var]]
            df = df.filter(F.col("context") == F.col(src))
        else:
            v, k, lg = _var_cols(graph_var)
            # graph labels are IRIs or blank nodes (TriG/N-Quads admit
            # both; the .nq/.trig readers keep bnode labels verbatim)
            kind = F.when(F.col("context").startswith("_:"),
                          F.lit("bnode")).otherwise(F.lit("uri"))
            cols.extend([F.col("context").alias(v), kind.alias(k),
                         _null_str().alias(lg)])
            gvars = {graph_var}

    if not cols:
        # fully ground pattern: existence check contributes a row iff present
        frame = df.limit(1).select(F.lit(1).alias("_ground"))
        return frame, set()
    frame = df.select(*cols)
    for cond in same_var_conds:
        frame = frame.filter(cond)
    return frame, set(seen) | gvars


def _strict_cond(shared: Sequence[str]) -> Column:
    """Full-term-identity equi-join condition (value + kind, null-safe
    lang) between frames aliased ``l`` and ``r``."""
    cond = None
    for v in shared:
        val, kind, lang = _var_cols(v)
        c = ((F.col("l.%s" % val) == F.col("r.%s" % val))
             & (F.col("l.%s" % kind) == F.col("r.%s" % kind))
             & F.col("l.%s" % lang).eqNullSafe(F.col("r.%s" % lang)))
        cond = c if cond is None else (cond & c)
    return cond


def _join_frames(left: Tuple[DataFrame, Set[str]],
                 right: Tuple[DataFrame, Set[str]],
                 how: str = "inner") -> Tuple[DataFrame, Set[str]]:
    ldf, lvars = left
    rdf, rvars = right
    shared = sorted(lvars & rvars)
    l, r = ldf.alias("l"), rdf.alias("r")
    if shared:
        joined = l.join(r, _strict_cond(shared), how)
    else:
        if how == "left":
            # OPTIONAL with no shared vars: every left row pairs with every
            # right solution (or nulls when the right side is empty)
            joined = l.join(r, F.lit(True), "left")
        else:
            joined = l.crossJoin(r)
    out: List[Column] = []
    for v in sorted(lvars):
        for c in _var_cols(v):
            out.append(F.col("l.%s" % c).alias(c))
    for v in sorted(rvars - lvars):
        for c in _var_cols(v):
            out.append(F.col("r.%s" % c).alias(c))
    carry = [c for c in ldf.columns if c == "_ground"]
    if carry and not lvars:
        out.append(F.col("l._ground"))
    return joined.select(*out) if out else joined, lvars | rvars


def _apply_exists(frame: Tuple[DataFrame, Set[str]],
                  sub: Tuple[DataFrame, Set[str]],
                  positive: bool) -> Tuple[DataFrame, Set[str]]:
    """FILTER (NOT) EXISTS = left-semi (left-anti) join on the shared
    variables' full term identity — Catalyst plans the semi/anti side as
    a broadcast when the sub-group is selective.  With no shared
    variables the sub-group is an uncorrelated existence test: all rows
    survive (positive) / are dropped (negative) iff it has a solution."""
    ldf, lvars = frame
    rdf, rvars = sub
    shared = sorted(lvars & rvars)
    how = "left_semi" if positive else "left_anti"
    l, r = ldf.alias("l"), rdf.alias("r")
    cond = _strict_cond(shared) if shared else F.lit(True)
    return l.join(r, cond, how), lvars


def _apply_minus(frame: Tuple[DataFrame, Set[str]],
                 sub: Tuple[DataFrame, Set[str]]) -> Tuple[DataFrame,
                                                           Set[str]]:
    """SPARQL 1.1 §8.3 MINUS: drop a solution iff some sub-group solution
    is compatible on every shared variable AND at least one shared
    variable is bound on BOTH sides (disjoint domains remove nothing).
    An unbound side (NULL kind, e.g. from OPTIONAL) is compatible with
    anything.  One left-anti join; no Python in the data path."""
    ldf, lvars = frame
    rdf, rvars = sub
    shared = sorted(lvars & rvars)
    if not shared:
        return frame
    l, r = ldf.alias("l"), rdf.alias("r")
    compat: Opt[Column] = None
    any_both: Opt[Column] = None
    for v in shared:
        val, kind, lang = _var_cols(v)
        lb = F.col("l.%s" % kind).isNotNull()
        rb = F.col("r.%s" % kind).isNotNull()
        eq = ((F.col("l.%s" % val) == F.col("r.%s" % val))
              & (F.col("l.%s" % kind) == F.col("r.%s" % kind))
              & F.col("l.%s" % lang).eqNullSafe(F.col("r.%s" % lang)))
        c = (~lb) | (~rb) | eq
        compat = c if compat is None else (compat & c)
        b = lb & rb
        any_both = b if any_both is None else (any_both | b)
    return l.join(r, compat & any_both, "left_anti"), lvars


def _values_term_tuple(term) -> Tuple[Opt[str], Opt[str], Opt[str]]:
    if term is None:  # UNDEF
        return None, None, None
    if isinstance(term, Iri):
        return term.uri, "uri", None
    if isinstance(term, BNodeRef):
        return term.label, "bnode", None
    if isinstance(term, Lit):
        return term.value, "literal", term.lang
    if isinstance(term, Num):
        return term.text, "literal", None
    raise SparqlCompileError("unsupported VALUES term %r" % (term,))


def _compile_values(spark, part: ValuesPattern) -> Tuple[DataFrame, Set[str]]:
    """Inline solution sequence -> a small local frame (always broadcast
    at the join: it is driver-literal data, never larger than the query
    text)."""
    from pyspark.sql.types import StringType, StructField, StructType

    fields = [StructField(c, StringType(), True)
              for v in part.variables for c in _var_cols(v)]
    rows = []
    for row in part.rows:
        flat: List[Opt[str]] = []
        for term in row:
            flat.extend(_values_term_tuple(term))
        rows.append(tuple(flat))
    df = local_frame(spark, rows, StructType(fields))
    return df, set(part.variables)


def _join_values(frame: Tuple[DataFrame, Set[str]],
                 vpiece: Tuple[DataFrame, Set[str]]) -> Tuple[DataFrame,
                                                              Set[str]]:
    """Join the current solutions with a VALUES block.  Compatibility per
    shared variable: VALUES row has UNDEF, solution is unbound, or the
    terms are identical; the merged binding prefers the bound side."""
    ldf, lvars = frame
    rdf, rvars = vpiece
    shared = sorted(lvars & rvars)
    l, r = ldf.alias("l"), F.broadcast(rdf).alias("r")
    if shared:
        cond: Opt[Column] = None
        for v in shared:
            val, kind, lang = _var_cols(v)
            undef = F.col("r.%s" % kind).isNull()
            lunb = F.col("l.%s" % kind).isNull()
            eq = ((F.col("l.%s" % val) == F.col("r.%s" % val))
                  & (F.col("l.%s" % kind) == F.col("r.%s" % kind))
                  & F.col("l.%s" % lang).eqNullSafe(F.col("r.%s" % lang)))
            c = undef | lunb | eq
            cond = c if cond is None else (cond & c)
        joined = l.join(r, cond, "inner")
    else:
        joined = l.crossJoin(r)
    out: List[Column] = []
    for v in sorted(lvars | rvars):
        _, kind, _ = _var_cols(v)
        for c in _var_cols(v):
            if v in lvars and v in rvars:
                out.append(F.when(F.col("l.%s" % kind).isNotNull(),
                                  F.col("l.%s" % c))
                           .otherwise(F.col("r.%s" % c)).alias(c))
            elif v in lvars:
                out.append(F.col("l.%s" % c).alias(c))
            else:
                out.append(F.col("r.%s" % c).alias(c))
    return joined.select(*out), lvars | rvars


# ---------------------------------------------------------------------------
# BGP join ordering
# ---------------------------------------------------------------------------

def _pattern_weight(pattern, stats: Opt[Dict[str, int]],
                    total: Opt[int]) -> float:
    """Estimated cardinality: predicate-bound patterns cost their predicate
    count (from stats); extra constant terms shrink the estimate; an
    all-variable pattern costs the whole relation."""
    s, p, o = pattern
    if stats is not None and isinstance(p, Iri):
        base = float(stats.get(p.uri, 0))
    else:
        base = float(total if total is not None else 1 << 40)
    if not isinstance(s, Var):
        base /= 1000.0
    if not isinstance(o, Var):
        base /= 1000.0
    return base


def _order_patterns(patterns: Sequence, stats: Opt[Dict[str, int]],
                    total: Opt[int]) -> List:
    """Greedy selectivity ordering: start from the cheapest pattern, then
    repeatedly take the cheapest pattern CONNECTED to the bound variables
    (avoiding Cartesian steps), falling back to the global cheapest."""
    if stats is None:
        return list(patterns)
    remaining = list(patterns)
    ordered: List = []
    bound: Set[str] = set()
    while remaining:
        connected = [pt for pt in remaining if _pattern_vars(pt) & bound] \
            if bound else remaining
        pool = connected or remaining
        best = min(pool, key=lambda pt: _pattern_weight(pt, stats, total))
        remaining.remove(best)
        ordered.append(best)
        bound |= _pattern_vars(best)
    return ordered


# ---------------------------------------------------------------------------
# filter expressions
# ---------------------------------------------------------------------------

# functions whose result participates in numeric (not term) comparisons
_NUMERIC_FUNCS = frozenset(("strlen", "abs", "ceil", "floor", "round",
                            "year", "month", "day", "hours", "minutes",
                            "seconds", "rand"))

# §17.4.5 dateTime component accessors, compiled as LEXICAL extraction
# from the ISO 8601 string rather than a timestamp cast: Spark's
# to_timestamp converts into the session timezone, which would shift the
# hour, while SPARQL returns the component of the literal's OWN lexical
# form ("2011-01-10T14:45:13.815-05:00" -> HOURS = 14).  The term model
# carries no datatype (reference meresco/rdf/graph/literal.py:39 —
# datatype explicitly absent), so dateTime-ness is lexical here too.
_DT_COMPONENT_PATTERNS = {
    "year": r"^(-?\d{4,})-",
    "month": r"^-?\d{4,}-(\d{2})",
    "day": r"^-?\d{4,}-\d{2}-(\d{2})",
    "hours": r"T(\d{2})",
    "minutes": r"T\d{2}:(\d{2})",
    "seconds": r"T\d{2}:\d{2}:(\d{2}(?:\.\d+)?)",
}


def _num_lexical(d: Column) -> Column:
    """xsd-style lexical form of a numeric result: integral values render
    without a trailing ``.0`` (matching SPARQL's xsd:integer output for
    STRLEN/CEIL/FLOOR/ROUND and keeping oracle string-compare stable)."""
    return (F.when(d.isNull(), _null_str())
            .when(d == F.floor(d),
                  F.coalesce(d.try_cast("long").cast("string"),
                             d.cast("string")))
            .otherwise(d.cast("string")))


def _term_cols(e, frame_vars: Set[str],
               scalar_vars: Set[str] = frozenset()) -> Tuple[Column, Column,
                                                             Column]:
    """(value, kind, lang) columns for an expression term.
    ``scalar_vars`` names single-column (aggregate-alias) bindings —
    the HAVING namespace — read as plain literals."""
    if isinstance(e, Var):
        if e.name in scalar_vars:
            return (F.col(e.name).cast("string"), F.lit("literal"),
                    _null_str())
        if e.name not in frame_vars:
            # unbound var: all-NULL term (comparisons eliminate the row)
            return _null_str(), _null_str(), _null_str()
        v, k, lg = _var_cols(e.name)
        return F.col(v), F.col(k), F.col(lg)
    if isinstance(e, Lit):
        return (F.lit(e.value), F.lit("literal"),
                F.lit(e.lang).cast("string"))
    if isinstance(e, Iri):
        return F.lit(e.uri), F.lit("uri"), _null_str()
    if isinstance(e, Num):
        return F.lit(e.text), F.lit("literal"), _null_str()
    if isinstance(e, Arith):
        lv = _term_cols(e.left, frame_vars,
                        scalar_vars)[0].try_cast("double")
        rv = _term_cols(e.right, frame_vars,
                        scalar_vars)[0].try_cast("double")
        d = {"+": lv + rv, "-": lv - rv, "*": lv * rv,
             "/": F.try_divide(lv, rv)}[e.op]
        # non-numeric operands / division by zero yield NULL = SPARQL
        # error: the row is eliminated (FILTER) or left unbound (BIND)
        return _num_lexical(d), F.lit("literal"), _null_str()
    if isinstance(e, FuncCall):
        return _func_term_cols(e, frame_vars, scalar_vars)
    raise SparqlCompileError("unsupported term in expression: %r" % (e,))


def _lit_pattern(arg, what: str) -> str:
    if not isinstance(arg, Lit):
        raise SparqlCompileError("%s must be a string literal" % what)
    return arg.value


def _apply_regex_flags(pattern: str, flags: str, what: str) -> str:
    """Map the XPath regex flags SPARQL REGEX/REPLACE accept onto the
    Java regex the JVM executes: ``i``/``s``/``m``/``x`` become inline
    ``(?...)`` flags, ``q`` escapes the pattern so every character
    matches literally (``Pattern.quote`` semantics — applied compile-time
    since SPARQL patterns are literals).  Unknown flags raise instead of
    silently changing match semantics."""
    unknown = set(flags) - set("ismxq")
    if unknown:
        raise SparqlCompileError(
            "unsupported %s flags: %s" % (what, "".join(sorted(unknown))))
    if "q" in flags:
        pattern = re.escape(pattern)
    inline = "".join(f for f in "ismx" if f in flags)
    if inline:
        pattern = "(?%s)%s" % (inline, pattern)
    return pattern


def _func_term_cols(e: FuncCall, frame_vars: Set[str],
                    scalar_vars: Set[str]) -> Tuple[Column, Column, Column]:
    """Term-valued SPARQL built-ins compiled to JVM column expressions —
    every one stays inside whole-stage codegen (no Python UDFs)."""
    def term(i: int) -> Tuple[Column, Column, Column]:
        return _term_cols(e.args[i], frame_vars, scalar_vars)

    name = e.name
    if name == "str":
        v, _, _ = term(0)
        return v, F.lit("literal"), _null_str()
    if name == "lang":
        _, _, lg = term(0)
        return F.coalesce(lg, F.lit("")), F.lit("literal"), _null_str()
    if name == "encode_for_uri":
        v, _, _ = term(0)
        # url_encode is form-encoding (space -> '+'); a literal '+' in
        # the input becomes %2B first, so the replace is collision-free
        return (F.replace(F.url_encode(v), F.lit("+"), F.lit("%20")),
                F.lit("literal"), _null_str())
    if name in ("ucase", "lcase"):
        v, _, lg = term(0)
        out = F.upper(v) if name == "ucase" else F.lower(v)
        return out, F.lit("literal"), lg  # case ops preserve the lang tag
    if name == "strlen":
        v, _, _ = term(0)
        return _num_lexical(F.length(v).cast("double")), \
            F.lit("literal"), _null_str()
    if name == "substr":
        if len(e.args) not in (2, 3):
            raise SparqlCompileError("substr(source, start [, length])")
        v, _, lg = term(0)
        start = term(1)[0].try_cast("int")  # 1-based, like Spark
        if len(e.args) == 3:
            out = F.substr(v, start, term(2)[0].try_cast("int"))
        else:
            out = F.substr(v, start)
        return out, F.lit("literal"), lg
    if name == "concat":
        parts = [term(i) for i in range(len(e.args))]
        val = F.concat(*[p[0] for p in parts])
        # result keeps a lang tag only when every argument carries the
        # same one (SPARQL 1.1 §17.4.3.12 argument-compatibility rules)
        lang = parts[0][2]
        same = F.lit(True)
        for p in parts[1:]:
            same = same & lang.eqNullSafe(p[2])
        return val, F.lit("literal"), F.when(same, lang)
    if name in ("strbefore", "strafter"):
        if len(e.args) != 2:
            raise SparqlCompileError("%s(source, needle)" % name)
        v, _, lg = term(0)
        sep, _, _ = term(1)
        pos = F.instr(v, sep)
        if name == "strbefore":
            # empty needle -> "" (spec); no match -> ""
            out = (F.when(F.length(sep) == 0, F.lit(""))
                   .when(pos > 0, F.substr(v, F.lit(1), pos - 1))
                   .otherwise(F.lit("")))
        else:
            out = (F.when(F.length(sep) == 0, v)
                   .when(pos > 0, F.substr(v, pos + F.length(sep)))
                   .otherwise(F.lit("")))
        # lang is preserved on a match, dropped on the empty fallback is
        # spec-ambiguous; we keep the source lang (matches Jena/Virtuoso)
        return out, F.lit("literal"), lg
    if name == "replace":
        if len(e.args) not in (3, 4):
            raise SparqlCompileError("replace(source, pattern, repl"
                                     " [, flags])")
        v, _, lg = term(0)
        pattern = _lit_pattern(e.args[1], "replace() pattern")
        repl = _lit_pattern(e.args[2], "replace() replacement")
        if len(e.args) == 4:
            pattern = _apply_regex_flags(
                pattern, _lit_pattern(e.args[3], "replace() flags"),
                "replace()")
        return F.regexp_replace(v, pattern, repl), F.lit("literal"), lg
    if name == "coalesce":
        parts = [term(i) for i in range(len(e.args))]
        val = F.coalesce(*[p[0] for p in parts])
        # kind/lang follow whichever argument supplied the value
        kind: Column = _null_str()
        lang: Column = _null_str()
        for v, k, lg in reversed(parts):
            kind = F.when(v.isNotNull(), k).otherwise(kind)
            lang = F.when(v.isNotNull(), lg).otherwise(lang)
        return val, kind, lang
    if name == "if":
        if len(e.args) != 3:
            raise SparqlCompileError("if(condition, then, else)")
        cond = _compile_expr(e.args[0], frame_vars, scalar_vars)
        tv, tk, tlg = term(1)
        ev, ek, elg = term(2)
        # a NULL condition is a SPARQL error: the result is unbound
        return (F.when(cond, tv).when(~cond, ev),
                F.when(cond, tk).when(~cond, ek),
                F.when(cond, tlg).when(~cond, elg))
    if name in ("md5", "sha1", "sha256", "sha384", "sha512"):
        if len(e.args) != 1:
            raise SparqlCompileError("%s(literal)" % name)
        v = term(0)[0]
        if name == "md5":
            out = F.md5(v)
        elif name == "sha1":
            out = F.sha1(v)
        else:
            out = F.sha2(v, int(name[3:]))
        return out, F.lit("literal"), _null_str()
    if name in _DT_COMPONENT_PATTERNS:
        if len(e.args) != 1:
            raise SparqlCompileError("%s(dateTime)" % name)
        comp = F.regexp_extract(term(0)[0], _DT_COMPONENT_PATTERNS[name], 1)
        # no match -> '' -> NULL: a non-dateTime argument is a SPARQL
        # error (row eliminated / unbound), same shape as try_cast
        out = F.nullif(comp, F.lit("")).try_cast("double")
        return _num_lexical(out), F.lit("literal"), _null_str()
    if name == "tz":
        if len(e.args) != 1:
            raise SparqlCompileError("tz(dateTime)")
        v = term(0)[0]
        isdt = v.rlike(r"^-?\d{4,}-\d{2}-\d{2}T")
        # "" when the dateTime has no timezone (spec); error otherwise
        out = F.when(isdt, F.regexp_extract(
            v, r"(Z|[+-]\d{2}:\d{2})$", 1))
        return out, F.when(isdt, F.lit("literal")), _null_str()
    if name == "timezone":
        if len(e.args) != 1:
            raise SparqlCompileError("timezone(dateTime)")
        v = term(0)[0]
        part = F.regexp_extract(v, r"(Z|[+-]\d{2}:\d{2})$", 1)
        hh = F.nullif(F.regexp_extract(part, r"^[+-](\d{2}):", 1),
                      F.lit("")).try_cast("int")
        mm = F.nullif(F.regexp_extract(part, r":(\d{2})$", 1),
                      F.lit("")).try_cast("int")
        nonzero = (hh > 0) | (mm > 0)
        sign = F.when(part.startswith("-") & nonzero,
                      F.lit("-")).otherwise(F.lit(""))
        dur = (F.when((part == "Z") | ~nonzero, F.lit("PT0S"))
               .otherwise(F.concat(
                   sign, F.lit("PT"),
                   F.when(hh > 0, F.concat(hh.cast("string"), F.lit("H")))
                   .otherwise(F.lit("")),
                   F.when(mm > 0, F.concat(mm.cast("string"), F.lit("M")))
                   .otherwise(F.lit("")))))
        # xsd:dayTimeDuration of the offset; absent timezone is an error
        out = F.when(part != "", dur)
        return out, F.when(part != "", F.lit("literal")), _null_str()
    if name in ("uuid", "struuid", "now", "rand"):
        if e.args:
            raise SparqlCompileError("%s() takes no arguments" % name)
        if name == "uuid":
            return (F.concat(F.lit("urn:uuid:"), F.expr("uuid()")),
                    F.lit("uri"), _null_str())
        if name == "struuid":
            return F.expr("uuid()"), F.lit("literal"), _null_str()
        if name == "now":
            # current_timestamp is query-constant in Spark = one fixed
            # instant per query execution, exactly the §17.4.5.1 contract
            return (F.date_format(F.current_timestamp(),
                                  "yyyy-MM-dd'T'HH:mm:ss.SSSxxx"),
                    F.lit("literal"), _null_str())
        return _num_lexical(F.rand()), F.lit("literal"), _null_str()
    if name == "bnode":
        if len(e.args) > 1:
            raise SparqlCompileError("bnode([literal])")
        if not e.args:
            # fresh bnode per solution row
            return (F.concat(F.lit("_:b"),
                             F.expr("replace(uuid(), '-', '')")),
                    F.lit("bnode"), _null_str())
        # BNODE(str): stable per lexical value query-wide — a coarser
        # identification than the spec's per-solution-mapping scope
        # (conservative: never splits bnodes the spec would unify)
        v = term(0)[0]
        return (F.concat(F.lit("_:b"), F.md5(v)), F.lit("bnode"),
                _null_str())
    if name in ("abs", "ceil", "floor", "round"):
        d = term(0)[0].try_cast("double")
        if name == "abs":
            out = F.abs(d)
        elif name == "ceil":
            out = F.ceil(d).cast("double")
        elif name == "floor":
            out = F.floor(d).cast("double")
        else:
            # XPath fn:round: ties go toward positive infinity
            # (round(-2.5) = -2), unlike Spark's HALF_UP
            out = F.floor(d + F.lit(0.5)).cast("double")
        return _num_lexical(out), F.lit("literal"), _null_str()
    if name == "datatype":
        # §17.4.2.7 under the datatype-less term model (reference
        # meresco/rdf/graph.py Literal carries language only): a
        # language-tagged literal is rdf:langString, any other literal
        # xsd:string; DATATYPE of a uri/bnode is a type error -> the
        # all-NULL term (row eliminated in FILTER, unbound in BIND)
        _, k, lg = term(0)
        is_lit = k == "literal"
        dt = (F.when(is_lit & lg.isNotNull(),
                     F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                           "langString"))
              .when(is_lit,
                    F.lit("http://www.w3.org/2001/XMLSchema#string")))
        return dt, F.when(is_lit, F.lit("uri")), _null_str()
    if name in ("iri", "uri"):
        # §17.4.2.8: IRI of an IRI is itself; of a plain literal, the
        # IRI with that lexical form (absolute IRIs only — the subset
        # declares no BASE, so there is nothing to resolve against);
        # any other operand is a type error -> all-NULL term
        v, k, lg = term(0)
        ok = (k == "uri") | ((k == "literal") & lg.isNull())
        return F.when(ok, v), F.when(ok, F.lit("uri")), _null_str()
    if name == "strlang":
        # §17.4.2.12: both operands must be plain (lang-less) literals;
        # tags normalize to lowercase exactly like parsed LANGTAGs
        if len(e.args) != 2:
            raise SparqlCompileError("strlang(lexical, langtag)")
        v0, k0, lg0 = term(0)
        v1, k1, lg1 = term(1)
        ok = ((k0 == "literal") & lg0.isNull() & (k1 == "literal")
              & lg1.isNull() & (v1 != F.lit("")))
        return (F.when(ok, v0), F.when(ok, F.lit("literal")),
                F.when(ok, F.lower(v1)))
    raise SparqlCompileError("unsupported term in expression: %r" % (e,))


def _expr_vars(e) -> Set[str]:
    """Variables referenced anywhere in an expression tree."""
    if isinstance(e, Var):
        return {e.name}
    if isinstance(e, BoolOp):
        out: Set[str] = set()
        for p in e.parts:
            out |= _expr_vars(p)
        return out
    if isinstance(e, NotExpr):
        return _expr_vars(e.inner)
    if isinstance(e, (Cmp, Arith)):
        return _expr_vars(e.left) | _expr_vars(e.right)
    if isinstance(e, FuncCall):
        out = set()
        for a in e.args:
            out |= _expr_vars(a)
        return out
    return set()


def _is_numeric(e, scalar_vars: Set[str] = frozenset()) -> bool:
    return isinstance(e, (Num, Arith)) or (
        isinstance(e, Var) and e.name in scalar_vars) or (
        isinstance(e, FuncCall) and e.name in _NUMERIC_FUNCS)


def _compile_expr(e, frame_vars: Set[str],
                  scalar_vars: Set[str] = frozenset()) -> Column:
    if isinstance(e, BoolOp):
        parts = [_compile_expr(p, frame_vars, scalar_vars) for p in e.parts]
        out = parts[0]
        for p in parts[1:]:
            out = (out & p) if e.op == "and" else (out | p)
        return out
    if isinstance(e, NotExpr):
        return ~_compile_expr(e.inner, frame_vars, scalar_vars)
    if isinstance(e, Cmp):
        lv, lk, llg = _term_cols(e.left, frame_vars, scalar_vars)
        rv, rk, rlg = _term_cols(e.right, frame_vars, scalar_vars)
        numeric = _is_numeric(e.left, scalar_vars) \
            or _is_numeric(e.right, scalar_vars)
        if numeric:
            lhs, rhs = lv.try_cast("double"), rv.try_cast("double")
        else:
            lhs, rhs = lv, rv
        if e.op == "=":
            base = lhs == rhs
            if not numeric:
                base = base & (lk == rk) & llg.eqNullSafe(rlg)
            return base
        if e.op == "!=":
            base = (lhs == rhs)
            if not numeric:
                base = base & (lk == rk) & llg.eqNullSafe(rlg)
            # SPARQL != is an error (row eliminated) when either side is
            # unbound — propagate null, don't resurrect via negation
            return F.when(lhs.isNull() | rhs.isNull(),
                          F.lit(None).cast("boolean")).otherwise(~base)
        op_map = {"<": lhs < rhs, ">": lhs > rhs,
                  "<=": lhs <= rhs, ">=": lhs >= rhs}
        return op_map[e.op]
    if isinstance(e, FuncCall):
        if e.name == "bound":
            arg = e.args[0]
            if not isinstance(arg, Var):
                raise SparqlCompileError("bound() takes a variable")
            if arg.name not in frame_vars:
                return F.lit(False)
            return F.col(arg.name).isNotNull()
        if e.name == "regex":
            if len(e.args) not in (2, 3):
                raise SparqlCompileError("regex(text, pattern [, flags])")
            val, _, _ = _term_cols(e.args[0], frame_vars, scalar_vars)
            pat = e.args[1]
            if not isinstance(pat, Lit):
                raise SparqlCompileError("regex pattern must be a literal")
            pattern = pat.value
            if len(e.args) == 3:
                pattern = _apply_regex_flags(
                    pattern, _lit_pattern(e.args[2], "regex() flags"),
                    "regex()")
            return val.rlike(pattern)
        if e.name in ("isuri", "isblank", "isliteral"):
            _, kind, _ = _term_cols(e.args[0], frame_vars, scalar_vars)
            want = {"isuri": "uri", "isblank": "bnode",
                    "isliteral": "literal"}[e.name]
            return kind == want
        if e.name == "isnumeric":
            # datatype-less term model: numeric = plain (untagged)
            # literal whose lexical form is a valid xsd numeric
            v, kind, lg = _term_cols(e.args[0], frame_vars, scalar_vars)
            return ((kind == "literal") & lg.isNull()
                    & v.rlike(r"^[+-]?(\d+(\.\d*)?|\.\d+)"
                              r"([eE][+-]?\d+)?$"))
        if e.name in ("contains", "strstarts", "strends"):
            if len(e.args) != 2:
                raise SparqlCompileError("%s(text, needle)" % e.name)
            lv, _, _ = _term_cols(e.args[0], frame_vars, scalar_vars)
            rv, _, _ = _term_cols(e.args[1], frame_vars, scalar_vars)
            if e.name == "contains":
                return lv.contains(rv)
            if e.name == "strstarts":
                return lv.startswith(rv)
            return lv.endswith(rv)
        if e.name == "sameterm":
            if len(e.args) != 2:
                raise SparqlCompileError("sameterm(a, b)")
            lv, lk, llg = _term_cols(e.args[0], frame_vars, scalar_vars)
            rv, rk, rlg = _term_cols(e.args[1], frame_vars, scalar_vars)
            return (lv == rv) & (lk == rk) & llg.eqNullSafe(rlg)
        if e.name == "langmatches":
            if len(e.args) != 2:
                raise SparqlCompileError("langmatches(tag, range)")
            tag, _, _ = _term_cols(e.args[0], frame_vars, scalar_vars)
            rng = _lit_pattern(e.args[1], "langmatches() range")
            if rng == "*":
                return tag != ""
            low = F.lower(tag)
            return (low == rng.lower()) | low.startswith(rng.lower() + "-")
        if e.name == "if":
            # boolean-valued IF: both branches as predicates
            cond = _compile_expr(e.args[0], frame_vars, scalar_vars)
            t = _compile_expr(e.args[1], frame_vars, scalar_vars)
            f = _compile_expr(e.args[2], frame_vars, scalar_vars)
            return F.when(cond, t).when(~cond, f)
    raise SparqlCompileError("unsupported filter expression: %r" % (e,))


# ---------------------------------------------------------------------------
# group patterns
# ---------------------------------------------------------------------------

def _compile_group(triples: DataFrame, group: GroupPattern,
                   stats: Opt[Dict[str, int]],
                   total: Opt[int], graph=None) -> Tuple[DataFrame,
                                                         Set[str]]:
    active, graph_var = _active_graph(triples, graph)
    frame: Opt[Tuple[DataFrame, Set[str]]] = None
    filters: List = []
    exists_parts: List[ExistsPattern] = []
    for part in group.parts:
        if isinstance(part, TriplesBlock):
            for pattern in _order_patterns(part.patterns, stats, total):
                piece = _compile_pattern(active, pattern, graph_var)
                frame = piece if frame is None else _join_frames(frame, piece)
        elif isinstance(part, OptionalPattern):
            sub = _compile_group(triples, part.group, stats, total, graph)
            if frame is None:
                raise SparqlCompileError("OPTIONAL requires a preceding pattern")
            frame = _join_frames(frame, sub, how="left")
        elif isinstance(part, NamedGraphPattern):
            gspec = (("iri", part.term.uri) if isinstance(part.term, Iri)
                     else ("var", part.term.name))
            sub = _compile_group(triples, part.group, stats, total, gspec)
            frame = sub if frame is None else _join_frames(frame, sub)
        elif isinstance(part, UnionPattern):
            branches = [_compile_group(triples, g, stats, total, graph)
                        for g in part.groups]
            all_vars: Set[str] = set()
            for _, vs in branches:
                all_vars |= vs
            aligned: List[DataFrame] = []
            for df, vs in branches:
                cols: List[Column] = []
                for v in sorted(all_vars):
                    val, kind, lang = _var_cols(v)
                    if v in vs:
                        cols.extend([F.col(val), F.col(kind), F.col(lang)])
                    else:
                        cols.extend([_null_str().alias(val),
                                     _null_str().alias(kind),
                                     _null_str().alias(lang)])
                aligned.append(df.select(*cols))
            union = aligned[0]
            for df in aligned[1:]:
                union = union.unionByName(df)
            piece = (union, all_vars)
            frame = piece if frame is None else _join_frames(frame, piece)
        elif isinstance(part, Filter):
            filters.append(part.expr)
        elif isinstance(part, ExistsPattern):
            # FILTER (NOT) EXISTS is a filter: applies to the whole
            # group's solutions, after the other parts have joined
            exists_parts.append(part)
        elif isinstance(part, MinusPattern):
            if frame is None:
                raise SparqlCompileError("MINUS requires a preceding pattern")
            sub = _compile_group(triples, part.group, stats, total, graph)
            frame = _apply_minus(frame, sub)
        elif isinstance(part, ValuesPattern):
            vpiece = _compile_values(triples.sparkSession, part)
            frame = vpiece if frame is None else _join_values(frame, vpiece)
        elif isinstance(part, SubSelect):
            # SPARQL 1.1 §12: the sub-select evaluates bottom-up against
            # the whole dataset; its projected solutions (and aggregate
            # aliases, surfaced as plain literals) join the enclosing
            # group on the shared variables.  Inside GRAPH <iri> the
            # sub-select sees that graph as ITS dataset (active view);
            # inside GRAPH ?var the scoping is per-solution — unsupported
            if graph_var is not None:
                raise SparqlCompileError(
                    "a sub-select inside GRAPH ?%s is not supported; "
                    "use a constant graph IRI" % graph_var)
            if part.query.from_graphs or part.query.from_named:
                raise SparqlCompileError(
                    "FROM/FROM NAMED are not allowed in a sub-select")
            sub_df, proj, aliases = _compile_select(
                active if graph is not None else triples,
                part.query, stats, total)
            cols = [F.col(c) for v in proj for c in _var_cols(v)]
            for a in aliases:
                val, kind, lang = _var_cols(a)
                cols.extend([
                    F.col(a).cast("string").alias(val),
                    F.when(F.col(a).isNotNull(),
                           F.lit("literal")).alias(kind),
                    _null_str().alias(lang)])
            piece = (sub_df.select(*cols), set(proj) | set(aliases))
            frame = piece if frame is None else _join_frames(frame, piece)
        elif isinstance(part, BindPattern):
            if frame is None:
                raise SparqlCompileError("BIND requires a preceding pattern")
            df, vars_ = frame
            if part.alias in vars_:
                raise SparqlCompileError(
                    "BIND alias ?%s is already bound" % part.alias)
            try:
                bv, bk, blg = _term_cols(part.expr, vars_)
            except SparqlCompileError as term_err:
                # boolean-valued expression: xsd:boolean lexical forms;
                # an error (NULL) leaves the variable unbound, row kept
                try:
                    cond = _compile_expr(part.expr, vars_)
                except SparqlCompileError:
                    # neither term- nor boolean-compilable: the term
                    # path's error (e.g. a specific arity message) is
                    # the diagnostic one — don't mask it
                    raise term_err
                bv = (F.when(cond, F.lit("true"))
                      .when(~cond, F.lit("false")))
                bk, blg = F.when(bv.isNotNull(), F.lit("literal")), \
                    _null_str()
            # kind must be NULL exactly when the value is (unbound marker)
            bk = F.when(bv.isNotNull(), bk)
            a_val, a_kind, a_lang = _var_cols(part.alias)
            frame = (df.select("*", bv.alias(a_val), bk.alias(a_kind),
                               blg.alias(a_lang)),
                     vars_ | {part.alias})
        else:  # pragma: no cover
            raise SparqlCompileError("unknown group part %r" % (part,))
    if frame is None:
        raise SparqlCompileError("empty group pattern")
    for part in exists_parts:
        sub = _compile_group(triples, part.group, stats, total, graph)
        frame = _apply_exists(frame, sub, part.positive)
    df, vars_ = frame
    for expr in filters:
        cond = _compile_expr(expr, vars_)
        df = df.filter(cond)
    return df, vars_


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def sparql_select(triples: DataFrame, query: str,
                  pattern_stats: Opt[Dict[str, int]] = None,
                  total_triples: Opt[int] = None) -> DataFrame:
    """Execute a SPARQL SELECT (supported subset) over the triples relation.

    Returns a DataFrame with columns ``v, v_kind, v_lang`` per projected
    variable.  ``pattern_stats`` (predicate -> row count, from
    ``operators.graph_ops.predicate_stats``) enables selectivity-ordered
    BGP joins; without it, syntactic order is kept and Catalyst/AQE still
    reorders physically where it can.
    """
    ast = parse_query(query)
    if isinstance(ast, UpdateQuery):
        raise SparqlCompileError("update request: use sparql_update()")
    if ast.construct_template is not None:
        raise SparqlCompileError(
            "CONSTRUCT query: use sparql_construct(), which returns a "
            "triples relation, not a solution table")
    if ast.ask:
        raise SparqlCompileError("ASK query: use sparql_ask()")
    if ast.describe_terms is not None:
        raise SparqlCompileError("DESCRIBE query: use sparql_describe()")
    if pattern_stats is not None and total_triples is None:
        total_triples = pattern_stats.get("__total__")
    out, _, _ = _compile_select(triples, ast, pattern_stats, total_triples)
    return out


def _apply_dataset(triples: DataFrame, ast: SelectQuery) -> DataFrame:
    """§13.2 dataset clauses: when any FROM / FROM NAMED is present, the
    query's dataset is described ONLY by the clauses — default graph =
    the merge of the FROM graphs (contexts nulled), named graphs = the
    FROM NAMED list.  Both are plain IN-list pushdown filters."""
    if not (ast.from_graphs or ast.from_named):
        return triples
    if "context" not in triples.columns:
        raise SparqlCompileError(
            "FROM/FROM NAMED require a quad relation (a 'context' column)")
    ctx = F.col("context")
    parts = []
    if ast.from_graphs:
        parts.append(triples.filter(ctx.isin(ast.from_graphs))
                     .withColumn("context", _null_str()))
    if ast.from_named:
        parts.append(triples.filter(ctx.isin(ast.from_named)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _compile_select(triples: DataFrame, ast: SelectQuery,
                    pattern_stats: Opt[Dict[str, int]],
                    total_triples: Opt[int]
                    ) -> Tuple[DataFrame, List[str], List[str]]:
    """Compile one SELECT (top-level or sub-select) to its solution frame.
    Returns (frame, projected variable names, aggregate alias names) —
    variables occupy 3 columns each, aggregate aliases one scalar
    column."""
    triples = _apply_dataset(triples, ast)
    df, vars_ = _compile_group(triples, ast.where, pattern_stats,
                               total_triples)

    agg_aliases: List[str] = []
    if ast.aggregates:
        # one hash aggregation: group on the GROUP BY variables' full term
        # identity (value/kind/lang), partial+final (map-side combined)
        group_cols: List[str] = []
        for v in ast.group_by:
            if v not in vars_:
                raise SparqlCompileError(
                    "GROUP BY unbound variable ?%s" % v)
            group_cols.extend(_var_cols(v))
        aggs: List[Column] = []
        for a in ast.aggregates:
            if a.var is None and a.expr is None:  # COUNT(*)
                e = F.count(F.lit(1))
            elif a.expr is not None:
                # aggregate over an expression: evaluate the term value
                # per row (same codegen path as BIND), then aggregate
                tv, tk, tl = _term_cols(a.expr, vars_)
                ev = tv
                numeric = _is_numeric(a.expr)
                if a.func == "count":
                    # DISTINCT counts full term identity (value/kind/lang)
                    # — same discipline as the variable path, so e.g.
                    # COALESCE(?x, ?y) yielding equal strings of different
                    # kind/lang is not undercounted
                    e = (F.countDistinct(
                            F.when(tv.isNotNull(), F.struct(tv, tk, tl)))
                         if a.distinct else F.count(ev))
                elif a.func in ("sum", "avg"):
                    e = getattr(F, a.func)(ev.try_cast("double"))
                elif a.func == "sample":
                    e = F.min(ev)
                elif a.func == "group_concat":
                    vals = (F.collect_set(ev) if a.distinct
                            else F.collect_list(ev))
                    e = F.array_join(F.array_sort(vals), a.separator)
                elif numeric:
                    # numeric expr: order numerically, render lexically
                    e = _num_lexical(
                        getattr(F, a.func)(ev.try_cast("double")))
                else:
                    e = getattr(F, a.func)(ev)
            else:
                if a.var not in vars_:
                    raise SparqlCompileError(
                        "aggregate over unbound variable ?%s" % a.var)
                val, kind, lang = _var_cols(a.var)
                if a.func == "count":
                    e = (F.countDistinct(
                            F.when(F.col(val).isNotNull(),
                                   F.struct(val, kind, lang)))
                         if a.distinct else F.count(F.col(val)))
                elif a.func in ("sum", "avg"):
                    e = getattr(F, a.func)(
                        F.col(val).try_cast("double"))
                elif a.func == "sample":
                    # SAMPLE may return any value (SPARQL 1.1 §18.5.1.7);
                    # we pin the lexical minimum so plans are deterministic
                    # across partitionings and resumable runs re-produce
                    # identical output
                    e = F.min(F.col(val))
                elif a.func == "group_concat":
                    # deterministic refinement: lexically sorted before
                    # joining (the spec leaves the order undefined);
                    # collect_list/collect_set are partial-aggregatable so
                    # this stays one hash-agg exchange.  Scale caveat: the
                    # buffer is O(group size) by the OPERATOR'S NATURE
                    # (the result string is that large) — a hot key needs
                    # a LIMIT-shaped rewrite upstream, not salting
                    # (concatenation is order-sensitive across salt legs)
                    vals = (F.collect_set(F.col(val)) if a.distinct
                            else F.collect_list(F.col(val)))
                    e = F.array_join(F.array_sort(vals), a.separator)
                else:  # min / max: lexical order over the value space
                    e = getattr(F, a.func)(F.col(val))
            aggs.append(e.alias(a.alias))
            agg_aliases.append(a.alias)
        df = (df.groupBy(*[F.col(c) for c in group_cols]).agg(*aggs)
              if group_cols else df.agg(*aggs))
        vars_ = set(ast.group_by)
        # HAVING: post-aggregation filter over the aggregate aliases
        # (scalar columns) and the grouping variables — same hash-agg
        # stage, no extra exchange
        for expr in ast.having:
            df = df.filter(_compile_expr(expr, vars_,
                                         scalar_vars=set(agg_aliases)))
        # hidden _hav<N> aliases (inline HAVING aggregates) are consumed
        # by the filter above and never projected
        agg_aliases = [a for a in agg_aliases if not a.startswith("_hav")]

    if ast.variables == "*":
        # internal ?_pathN join variables from path desugaring are not
        # user-visible bindings
        proj = sorted(v for v in vars_ if not v.startswith("_path"))
    else:
        proj = list(ast.variables)
        missing = [v for v in proj if v not in vars_]
        if missing:
            raise SparqlCompileError(
                "projected variables not bound in WHERE: %s"
                % ", ".join("?" + v for v in missing))
    cols: List[Column] = []
    for v in proj:
        for c in _var_cols(v):
            cols.append(F.col(c))
    for alias in agg_aliases:
        cols.append(F.col(alias))
    out = df.select(*cols)

    if ast.distinct:
        out = out.dropDuplicates()
    if ast.order_by:
        order_cols = []
        for var, asc in ast.order_by:
            if not isinstance(var, str):
                # expression order condition (§15.1 OrderCond =
                # BrackettedExpression | Constraint): evaluated over the
                # PROJECTED columns — an expression over a var the
                # projection dropped has nothing to read
                missing = _expr_vars(var) - set(proj) - set(agg_aliases)
                if missing:
                    raise SparqlCompileError(
                        "ORDER BY expression uses non-projected "
                        "variable(s): %s"
                        % ", ".join("?" + v for v in sorted(missing)))
                try:
                    tv, tk, tl = _term_cols(var, set(proj),
                                            scalar_vars=set(agg_aliases))
                except SparqlCompileError:
                    cond = _compile_expr(var, set(proj),
                                         scalar_vars=set(agg_aliases))
                    tv = (F.when(cond, F.lit("true"))
                          .when(~cond, F.lit("false")))
                    tk, tl = F.lit("literal"), _null_str()
                if _is_numeric(var, set(agg_aliases)):
                    keys = [tv.try_cast("double"), tv]
                else:
                    rank = (F.when(tk.isNull(), 0)
                            .when(tk == "bnode", 1)
                            .when(tk == "uri", 2)
                            .otherwise(3))
                    keys = [rank, tv, tl]
                order_cols.extend(
                    [k.asc_nulls_first() for k in keys] if asc
                    else [k.desc_nulls_last() for k in keys])
                continue
            if var not in vars_ and var not in agg_aliases:
                raise SparqlCompileError("ORDER BY unbound variable ?%s" % var)
            if var in agg_aliases:
                # aggregate aliases may be numeric rendered lexically
                # (MIN/MAX via _num_lexical): order numerically when the
                # values parse, fall back to lexical for string aggregates
                # (try_cast -> all-NULL -> ties -> second key decides)
                keys: List[Column] = [F.col(var).try_cast("double"),
                                      F.col(var)]
            else:
                # SPARQL §15.1 total order: unbound < bnode < IRI <
                # literal, then by value, lang as the final tiebreaker
                val, kind, lang = _var_cols(var)
                rank = (F.when(F.col(kind).isNull(), 0)
                        .when(F.col(kind) == "bnode", 1)
                        .when(F.col(kind) == "uri", 2)
                        .otherwise(3))
                keys = [rank, F.col(val), F.col(lang)]
            order_cols.extend(
                [k.asc_nulls_first() for k in keys] if asc
                else [k.desc_nulls_last() for k in keys])
        out = out.orderBy(*order_cols)
    if ast.offset:
        out = out.offset(ast.offset)
    if ast.limit is not None:
        out = out.limit(ast.limit)
    return out, proj, agg_aliases


# ---------------------------------------------------------------------------
# ASK / DESCRIBE
# ---------------------------------------------------------------------------

def sparql_ask(triples: DataFrame, query: str,
               pattern_stats: Opt[Dict[str, int]] = None,
               total_triples: Opt[int] = None) -> DataFrame:
    """Execute a SPARQL ASK: does the WHERE group have at least one
    solution?  Returns a one-row DataFrame with a boolean ``ask`` column.
    The plan is the compiled group under a LIMIT 1 — Spark stops the scan
    at the first produced row (LocalLimit short-circuit), so a true ASK
    touches almost nothing."""
    ast = parse_query(query)
    if isinstance(ast, UpdateQuery) or not ast.ask:
        raise SparqlCompileError("not an ASK query; use sparql_select")
    if pattern_stats is not None and total_triples is None:
        total_triples = pattern_stats.get("__total__")
    df, _ = _compile_group(_apply_dataset(triples, ast), ast.where,
                           pattern_stats, total_triples)
    return (df.limit(1)
            .agg(F.count(F.lit(1)).alias("_n"))
            .select((F.col("_n") > 0).alias("ask")))


def sparql_describe(triples: DataFrame, query: str,
                    pattern_stats: Opt[Dict[str, int]] = None,
                    total_triples: Opt[int] = None) -> DataFrame:
    """Execute a SPARQL DESCRIBE as a Concise Bounded Description (the
    de-facto standard, and exactly the closure the reference serializer
    walks when rendering a resource — reference triples2rdfxml.py:140-149
    follows bnode objects into nested descriptions): all triples whose
    subject is a described resource, plus, recursively, the triples of
    every blank node reachable through object position.

    Plan: seeds = constant IRIs ∪ non-literal bindings of the DESCRIBE
    variables from the WHERE group; a fixpoint over NODES closes them
    under "bnode object of a described subject" (each node expanded
    once — bnode chains are document-scoped and shallow, so the loop is
    short); the output is one semi-join of the relation against the
    closed node set.  Returns the 5-column triples relation."""
    ast = parse_query(query)
    if isinstance(ast, UpdateQuery) or ast.describe_terms is None:
        raise SparqlCompileError("not a DESCRIBE query; use sparql_select")
    if pattern_stats is not None and total_triples is None:
        total_triples = pattern_stats.get("__total__")
    spark = triples.sparkSession
    triples = _apply_dataset(triples, ast)
    # the CBD closure walks the DEFAULT graph (pattern semantics); on a
    # plain 5-column relation this is the identity
    closure_rel, _ = _active_graph(triples, None)

    seeds: Opt[DataFrame] = None
    consts = [t.uri for t in ast.describe_terms if isinstance(t, Iri)]
    if consts:
        seeds = local_frame(spark, [(c,) for c in consts], "node string")
    var_terms = [t for t in ast.describe_terms if isinstance(t, Var)]
    if var_terms:
        df, vars_ = _compile_group(triples, ast.where, pattern_stats,
                                   total_triples)
        for t in var_terms:
            if t.name not in vars_:
                raise SparqlCompileError(
                    "DESCRIBE variable ?%s not bound in WHERE" % t.name)
            val, kind, _ = _var_cols(t.name)
            piece = (df.filter(F.col(kind) != "literal")
                     .select(F.col(val).alias("node")))
            seeds = piece if seeds is None else seeds.unionByName(piece)
    assert seeds is not None  # parser guarantees >= 1 term

    def step(frontier: DataFrame, _acc: DataFrame) -> DataFrame:
        return (closure_rel.alias("t")
                .join(frontier.alias("s"),
                      F.col("t.subj") == F.col("s.node"), "left_semi")
                .filter(F.col("obj_kind") == "bnode")
                .select(F.col("obj_value").alias("node")))

    nodes, _ = fixpoint(seeds.distinct(), step, ["node"], "sparql describe")
    return (closure_rel.alias("t")
            .join(nodes.alias("s"), F.col("t.subj") == F.col("s.node"),
                  "left_semi")
            .dropDuplicates(
                ["subj", "pred", "obj_value", "obj_kind", "obj_lang"]))


# ---------------------------------------------------------------------------
# CONSTRUCT
# ---------------------------------------------------------------------------

def sparql_construct(triples: DataFrame, query: str,
                     pattern_stats: Opt[Dict[str, int]] = None,
                     total_triples: Opt[int] = None) -> DataFrame:
    """Execute a SPARQL CONSTRUCT: instantiate the template once per
    (distinct) WHERE solution and return the resulting GRAPH as a
    5-column triples relation (``subj, pred, obj_value, obj_kind,
    obj_lang``) — composable with every other operator in the engine.

    Plan shape: one compiled WHERE plan, then one narrow projection per
    template triple unioned together and deduplicated (RDF graphs are
    sets).  Template blank nodes are FRESH per solution (SPARQL 1.1
    §16.2.1): their ids are a sha1 of the solution's full binding vector,
    so the output is deterministic and identical solutions map to the
    same node — exactly the set semantics the dedup enforces.  Invalid
    instantiations are dropped, not errors: unbound template variables,
    literal subjects, non-IRI predicates (§16.2: "those triples are not
    included in the output graph")."""
    ast = parse_query(query)
    if isinstance(ast, UpdateQuery):
        raise SparqlCompileError("update request: use sparql_update()")
    if ast.construct_template is None:
        raise SparqlCompileError("not a CONSTRUCT query; use sparql_select")
    if pattern_stats is not None and total_triples is None:
        total_triples = pattern_stats.get("__total__")
    df, vars_ = _compile_group(_apply_dataset(triples, ast), ast.where,
                               pattern_stats, total_triples)
    if ast.offset:
        df = df.offset(ast.offset)
    if ast.limit is not None:
        df = df.limit(ast.limit)
    return _instantiate_template(df, vars_, ast.construct_template)


def _instantiate_template(df: DataFrame, vars_: Set[str],
                          template: Sequence,
                          what: str = "CONSTRUCT") -> DataFrame:
    """Instantiate a triple template once per solution row of ``df`` and
    return the resulting graph as a deduplicated 5-column triples
    relation.  Shared by CONSTRUCT and the INSERT/DELETE halves of
    ``sparql_update`` (SPARQL 1.1 §16.2 / Update §3.1.3 share the
    instantiation rules: unbound variables, literal subjects and non-IRI
    predicates drop the triple, never error)."""
    user_vars = sorted(v for v in vars_ if not v.startswith("_path"))
    sol_cols = [c for v in user_vars for c in _var_cols(v)]
    sol_hash = F.sha1(F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c), F.lit("\x00")) for c in sol_cols]))

    def bnode_col(label: str) -> Column:
        return F.concat(F.lit("_:c%s_" % label), sol_hash)

    pieces: List[DataFrame] = []
    for s, p, o in template:
        conds: List[Column] = []
        # subject: IRI or blank node only
        if isinstance(s, Var):
            if s.name not in vars_:
                raise SparqlCompileError(
                    "%s template variable ?%s not bound in WHERE"
                    % (what, s.name))
            sv, sk, _ = _var_cols(s.name)
            subj = F.col(sv)
            conds.append(F.col(sk).isin("uri", "bnode"))
        elif isinstance(s, Iri):
            subj = F.lit(s.uri)
        elif isinstance(s, BNodeRef):
            subj = bnode_col(s.label)
        else:
            raise SparqlCompileError("invalid %s subject %r" % (what, s))
        # predicate: IRI only
        if isinstance(p, Var):
            if p.name not in vars_:
                raise SparqlCompileError(
                    "%s template variable ?%s not bound in WHERE"
                    % (what, p.name))
            pv, pk, _ = _var_cols(p.name)
            pred = F.col(pv)
            conds.append(F.col(pk) == "uri")
        elif isinstance(p, Iri):
            pred = F.lit(p.uri)
        else:
            raise SparqlCompileError("invalid %s predicate %r" % (what, p))
        # object: any term
        if isinstance(o, Var):
            if o.name not in vars_:
                raise SparqlCompileError(
                    "%s template variable ?%s not bound in WHERE"
                    % (what, o.name))
            ov_, ok_, olg_ = _var_cols(o.name)
            ov, ok, olg = F.col(ov_), F.col(ok_), F.col(olg_)
        elif isinstance(o, Iri):
            ov, ok, olg = F.lit(o.uri), F.lit("uri"), _null_str()
        elif isinstance(o, BNodeRef):
            ov, ok, olg = bnode_col(o.label), F.lit("bnode"), _null_str()
        elif isinstance(o, Lit):
            ov, ok, olg = (F.lit(o.value), F.lit("literal"),
                           F.lit(o.lang).cast("string"))
        elif isinstance(o, Num):
            ov, ok, olg = F.lit(o.text), F.lit("literal"), _null_str()
        else:
            raise SparqlCompileError("invalid %s object %r" % (what, o))
        src = df
        for c in conds:  # kind guards reference solution columns: pre-select
            src = src.filter(c)
        piece = (src.select(subj.alias("subj"), pred.alias("pred"),
                            ov.alias("obj_value"), ok.alias("obj_kind"),
                            olg.alias("obj_lang"))
                 .filter(F.col("subj").isNotNull()
                         & F.col("pred").isNotNull()
                         & F.col("obj_kind").isNotNull()))
        pieces.append(piece)
    out = pieces[0]
    for piece in pieces[1:]:
        out = out.unionByName(piece)
    return out.dropDuplicates(
        ["subj", "pred", "obj_value", "obj_kind", "obj_lang"])


# ---------------------------------------------------------------------------
# UPDATE (INSERT DATA / DELETE DATA / DELETE WHERE / DELETE-INSERT WHERE)
# ---------------------------------------------------------------------------

def _ground_row(s, p, o) -> tuple:
    """One ground (constant-only) template triple -> a 5-tuple row."""
    if isinstance(s, Iri):
        subj = s.uri
    elif isinstance(s, BNodeRef):
        subj = s.label
    else:
        raise SparqlCompileError("invalid ground subject %r" % (s,))
    if not isinstance(p, Iri):
        raise SparqlCompileError("invalid ground predicate %r" % (p,))
    if isinstance(o, Iri):
        obj = (o.uri, "uri", None)
    elif isinstance(o, BNodeRef):
        obj = (o.label, "bnode", None)
    elif isinstance(o, Lit):
        obj = (o.value, "literal", o.lang)
    else:
        raise SparqlCompileError("invalid ground object %r" % (o,))
    return (subj, p.uri) + obj


def _ground_template_df(spark, template) -> DataFrame:
    """Ground (constant-only) template -> a local 5-column triples frame.
    Driver-literal data: never larger than the request text, so the
    anti-join/union it feeds always broadcasts it."""
    from pyspark.sql.types import StringType, StructField, StructType

    rows = [_ground_row(s, p, o) for s, p, o in template]
    schema = StructType([StructField(c, StringType(), True)
                         for c in ("subj", "pred", "obj_value",
                                   "obj_kind", "obj_lang")])
    return local_frame(spark, rows, schema).dropDuplicates()


def sparql_update_sets(triples: DataFrame, request: str,
                       pattern_stats: Opt[Dict[str, int]] = None,
                       total_triples: Opt[int] = None
                       ) -> Tuple[Opt[DataFrame], Opt[DataFrame]]:
    """Compile a SPARQL 1.1 Update request into its (deletes, inserts)
    triple sets — both instantiated against the CURRENT graph state, per
    the spec's simultaneous-evaluation rule.  Either side is None when
    the request has no such clause.

    This is the composition point with the engine's materialized-table
    path: feed the two frames to ``kg.snapshots.snapshot_merge``
    (deletes=…, adds=…) for the partition-pruned per-bucket MERGE instead
    of rewriting the whole relation."""
    ast = parse_query(request)
    if not isinstance(ast, UpdateQuery):
        raise SparqlCompileError("not an update request; use sparql_select")
    if ast.uses_quads():
        raise SparqlCompileError(
            "request uses named-graph update forms (WITH / GRAPH "
            "templates / graph management); use sparql_update_quads on a "
            "quad relation")
    if pattern_stats is not None and total_triples is None:
        total_triples = pattern_stats.get("__total__")
    spark = triples.sparkSession
    if ast.where is None:
        dels = (_ground_template_df(spark, ast.delete_template)
                if ast.delete_template else None)
        ins = (_ground_template_df(spark, ast.insert_template)
               if ast.insert_template else None)
        return dels, ins
    df, vars_ = _compile_group(triples, ast.where, pattern_stats,
                               total_triples)
    dels = (_instantiate_template(df, vars_, ast.delete_template,
                                  what="DELETE")
            if ast.delete_template else None)
    ins = (_instantiate_template(df, vars_, ast.insert_template,
                                 what="INSERT")
           if ast.insert_template else None)
    return dels, ins


def sparql_update(triples: DataFrame, request: str,
                  pattern_stats: Opt[Dict[str, int]] = None,
                  total_triples: Opt[int] = None) -> DataFrame:
    """Execute a SPARQL 1.1 Update request against the triples relation
    and return the NEW graph state (immutable semantics: the input frame
    is untouched — reference Graph.addTriple/removeTriple set semantics,
    graph.py:45-68, re-expressed as one plan).

    Plan: deletes = null-safe left-anti join on the full 5-column key
    (the delete set is template-instantiated, usually small -> AQE
    broadcasts it); inserts = unionByName + 5-column dropDuplicates (the
    set-insert dedup).  Deletes apply before inserts, both computed from
    the pre-update state (spec §3.1.3: the WHERE solutions are evaluated
    once, against the graph before modification)."""
    from ..operators.graph_ops import add_triples, remove_triples

    dels, ins = sparql_update_sets(triples, request, pattern_stats,
                                   total_triples)
    out = triples
    if dels is not None:
        out = remove_triples(out, dels)
    if ins is not None:
        out = add_triples(out, ins)
    return out


# ---------------------------------------------------------------------------
# Quad-aware UPDATE (WITH / GRAPH templates / graph management)
# ---------------------------------------------------------------------------

_QUAD_COLS = ["context", "subj", "pred", "obj_value", "obj_kind", "obj_lang"]


def _require_quads(df: DataFrame, what: str) -> None:
    if "context" not in df.columns:
        raise SparqlCompileError(
            "%s requires a quad relation (a 'context' column); triple "
            "relations have a single unnamed graph" % what)


def _apply_graph_manage(quads: DataFrame, m) -> DataFrame:
    """CLEAR/DROP/CREATE/ADD/COPY/MOVE/LOAD as pure column transforms.
    With no graph catalog, graphs exist implicitly (CREATE is a no-op
    and DROP ≡ CLEAR — the documented difference is catalog
    bookkeeping); SILENT never swallows errors on those forms.  LOAD
    supports ``file:`` document IRIs (no network in this engine): the
    document goes through the five-format multi-source reader, every
    loaded quad is re-homed to the destination graph (the spec loads
    "the graph" of the document; intrinsic TriG/N-Quads labels are
    subsumed by INTO GRAPH), and set semantics dedupe the union.
    SILENT turns a failed/unsupported LOAD into the spec's no-op."""
    ctx = F.col("context")
    if m.op == "CREATE":
        return quads
    if m.op == "LOAD":
        from ..sources.rdf_source import read_rdf_directory

        try:
            uri = m.src
            if uri.startswith("file://"):
                path = uri[len("file://"):]
            elif uri.startswith("file:"):
                path = uri[len("file:"):]
            else:
                raise SparqlCompileError(
                    "LOAD supports file: IRIs only (no network fetch "
                    "in this engine): %r" % uri)
            loaded = read_rdf_directory(quads.sparkSession, path)
        except Exception:
            if m.silent:
                return quads
            raise
        dst_value = (F.lit(None).cast("string") if m.dst == "DEFAULT"
                     else F.lit(m.dst))
        loaded = loaded.withColumn("context", dst_value).select(*_QUAD_COLS)
        return quads.unionByName(loaded).dropDuplicates(_QUAD_COLS)
    if m.op in ("CLEAR", "DROP"):
        if m.src == "ALL":
            return quads.limit(0)
        if m.src == "NAMED":
            return quads.filter(ctx.isNull())
        if m.src == "DEFAULT":
            return quads.filter(ctx.isNotNull())
        return quads.filter(~ctx.eqNullSafe(F.lit(m.src)))

    # ADD / COPY / MOVE — src/dst are IRIs or 'DEFAULT'
    def graph_pred(label):
        return ctx.isNull() if label == "DEFAULT" else ctx.eqNullSafe(
            F.lit(label))

    if m.src == m.dst:
        return quads  # spec: same-graph ADD/COPY/MOVE is a no-op
    dst_value = (F.lit(None).cast("string") if m.dst == "DEFAULT"
                 else F.lit(m.dst))
    moved = quads.filter(graph_pred(m.src)).withColumn("context", dst_value)
    if m.op == "ADD":
        return quads.unionByName(moved).dropDuplicates(_QUAD_COLS)
    remaining = quads.filter(~graph_pred(m.dst))
    if m.op == "MOVE":
        remaining = remaining.filter(~graph_pred(m.src))
    return remaining.unionByName(moved)


def _with_dataset(quads: DataFrame, with_graph: Opt[str]) -> DataFrame:
    """Update §3.1.3 WITH: the WHERE clause's default graph becomes the
    WITH graph; named graphs stay visible to GRAPH patterns."""
    if with_graph is None:
        return quads
    ctx = F.col("context")
    dflt = (quads.filter(ctx.eqNullSafe(F.lit(with_graph)))
            .withColumn("context", _null_str()))
    return dflt.unionByName(quads.filter(ctx.isNotNull()))


def _instantiate_quads(df: DataFrame, vars_: Set[str], template,
                       graphs, with_graph: Opt[str],
                       what: str) -> DataFrame:
    """Template + per-pattern graph labels -> deduplicated 6-column quad
    relation (context = pattern's GRAPH label, else the WITH graph,
    else NULL = default graph)."""
    pieces = []
    by_label: Dict = {}
    if graphs is None:  # DELETE WHERE: the pattern doubles as template
        graphs = [None] * len(template)
    for pat, label in zip(template, graphs):
        by_label.setdefault(label if label is not None else with_graph,
                            []).append(pat)
    for label, pats in by_label.items():
        frame = _instantiate_template(df, vars_, pats, what=what)
        pieces.append(frame.select(
            (F.lit(label).cast("string") if label is not None
             else _null_str()).alias("context"), *frame.columns))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(_QUAD_COLS)


def _ground_quads_df(spark, template, graphs) -> DataFrame:
    """Ground quad template -> a local 6-column frame (driver-literal)."""
    from pyspark.sql.types import StringType, StructField, StructType

    rows = [(label,) + _ground_row(s, p, o)
            for (s, p, o), label in zip(template, graphs)]
    schema = StructType([StructField(c, StringType(), True)
                         for c in _QUAD_COLS])
    return local_frame(spark, rows, schema).dropDuplicates()


def remove_quads(quads: DataFrame, dels: DataFrame) -> DataFrame:
    """Null-safe set difference on the full 6-column quad key."""
    cond = None
    for c in _QUAD_COLS:
        eq = quads[c].eqNullSafe(dels[c])
        cond = eq if cond is None else cond & eq
    return quads.join(dels, cond, "left_anti")


def sparql_update_quads(quads: DataFrame, request: str,
                        pattern_stats: Opt[Dict[str, int]] = None,
                        total_triples: Opt[int] = None) -> DataFrame:
    """Execute a SPARQL 1.1 Update request against a QUAD relation and
    return the new quad state (immutable semantics, like
    ``sparql_update``).  Handles everything the triple form does PLUS
    the named-graph forms: ``WITH <g>``, ``GRAPH <g> { }`` blocks in
    templates and QuadData, and CLEAR / DROP / CREATE / ADD / COPY /
    MOVE graph management.

    Scale shape: management ops are pure filters/projections (one scan,
    no shuffle except ADD's set-dedup); template updates follow the
    triple path — template-instantiated delete sets broadcast into a
    null-safe anti-join, inserts are one union + 6-column dedup."""
    ast = parse_query(request)
    if not isinstance(ast, UpdateQuery):
        raise SparqlCompileError("not an update request; use sparql_select")
    _require_quads(quads, "sparql_update_quads")
    quads = quads.select(*_QUAD_COLS)
    if ast.manage is not None:
        return _apply_graph_manage(quads, ast.manage)
    if pattern_stats is not None and total_triples is None:
        total_triples = pattern_stats.get("__total__")
    spark = quads.sparkSession

    if ast.where is None:
        dels = (_ground_quads_df(spark, ast.delete_template,
                                 ast.delete_graphs)
                if ast.delete_template else None)
        ins = (_ground_quads_df(spark, ast.insert_template,
                                ast.insert_graphs)
               if ast.insert_template else None)
    else:
        dataset = _with_dataset(quads, ast.with_graph)
        df, vars_ = _compile_group(dataset, ast.where, pattern_stats,
                                   total_triples)
        dels = (_instantiate_quads(df, vars_, ast.delete_template,
                                   ast.delete_graphs, ast.with_graph,
                                   what="DELETE")
                if ast.delete_template else None)
        ins = (_instantiate_quads(df, vars_, ast.insert_template,
                                  ast.insert_graphs, ast.with_graph,
                                  what="INSERT")
               if ast.insert_template else None)

    out = quads
    if dels is not None:
        out = remove_quads(out, dels)
    if ins is not None:
        out = out.unionByName(ins).dropDuplicates(_QUAD_COLS)
    return out
