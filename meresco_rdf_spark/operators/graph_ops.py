"""Graph semantics as DataFrame operators (SURVEY.md §2.1, O1-O11).

The reference's in-memory ``Graph`` (dict-of-sets, 8-way exhaustive index,
``meresco/rdf/graph/graph.py:40-143``) maps onto ONE columnar triples
relation.  The 8-way index is replaced by what Catalyst gives
declaratively: equality filters on bound positions push down to the
parquet/Iceberg scan (row-group stats + partition pruning on a
subject-bucketed layout), so every masked lookup is a pruned scan, not a
full pass.  All operators below are pure DataFrame -> DataFrame functions —
no collect, no Python row loops — so they compose into plans that run
unchanged at 100 TB.

Scale notes per operator are inline; the only shuffles are the ones the
semantics require (dedup on add, hash-agg for label resolution, joins for
BGP matching), and every shuffle key is stated explicitly.
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..model import (
    LABEL_PREDICATES,
    RDF_SUBJECT,
    node_to_row,
    triple_schema,
)
from ..namespaces import namespaces as default_namespaces
from ..session import local_frame

TRIPLE_COLS = ["subj", "pred", "obj_value", "obj_kind", "obj_lang"]


# ---------------------------------------------------------------------------
# construction / mutation (O1-O3)
# ---------------------------------------------------------------------------

def triples_df(spark: SparkSession, triples: Iterable[tuple]) -> DataFrame:
    """Local (s, p, node) triples -> triples DataFrame (test-scale entry;
    the scale path produces triple rows directly from extraction UDFs)."""
    rows = [node_to_row(s, p, o) for s, p, o in triples]
    return local_frame(spark, rows, triple_schema())


def add_triples(df: DataFrame, new: DataFrame) -> DataFrame:
    """Set-semantics insert (reference graph.py:45-55: adding an existing
    triple is a no-op).  Scale: one hash-partitioned dedup shuffle on all 5
    columns; against a MATERIALIZED snapshot table use
    ``kg.snapshots.snapshot_merge(adds=...)`` (copy-on-write per-bucket
    MERGE, untouched buckets never opened)."""
    return df.unionByName(new).dropDuplicates(TRIPLE_COLS)


def _full_key_condition(left: DataFrame, right: DataFrame) -> Column:
    """Null-safe equality on the full 5-column triple key."""
    cond = None
    for c in TRIPLE_COLS:
        clause = left[c].eqNullSafe(right[c])
        cond = clause if cond is None else (cond & clause)
    return cond


def remove_triples(df: DataFrame, doomed: DataFrame) -> DataFrame:
    """Delete (reference graph.py:57-68) = left-anti join on all 5 columns
    (null-safe on the nullable ones).  Scale: broadcast the doomed side
    when small; against a materialized snapshot table,
    ``kg.snapshots.snapshot_merge(deletes=...)`` executes the Iceberg
    ``MERGE ... WHEN MATCHED THEN DELETE`` shape per bucket."""
    return df.join(doomed, _full_key_condition(df, doomed), "left_anti")


def diff_triples(before: DataFrame, after: DataFrame) -> DataFrame:
    """Snapshot change detection: rows only in ``after`` tagged ``op='+'``,
    rows only in ``before`` tagged ``op='-'`` — the audit/compaction
    complement to ``snapshot_merge`` (what changed between two
    materialized graph versions; ``snapshots.snapshot_diff`` is the
    manifest-pruned form for two versions of one snapshot table).

    Two null-safe anti-joins on the full triple key.  Scale: both
    snapshots of one table share the ``bucket(N, subj)`` layout, so the
    joins co-locate per bucket (no cross-bucket shuffle); across unrelated
    inputs they shuffle on the key like any equi-join."""
    added = after.join(
        before, _full_key_condition(after, before), "left_anti"
    ).withColumn("op", F.lit("+"))
    removed = before.join(
        after, _full_key_condition(before, after), "left_anti"
    ).withColumn("op", F.lit("-"))
    return added.unionByName(removed)


# ---------------------------------------------------------------------------
# masked scan / projection (O4, O5, O8, O11)
# ---------------------------------------------------------------------------

def _object_condition(df: DataFrame,
                      obj_value: Optional[str] = None,
                      obj_kind: Optional[str] = None,
                      obj_lang: Optional[str] = ...) -> Optional[Column]:
    conds = []
    if obj_value is not None:
        conds.append(df.obj_value == obj_value)
    if obj_kind is not None:
        conds.append(df.obj_kind == obj_kind)
    if obj_lang is not ...:
        conds.append(df.obj_lang.eqNullSafe(F.lit(obj_lang).cast("string")))
    if not conds:
        return None
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def scan(df: DataFrame,
         subject: Optional[str] = None,
         predicate: Optional[str] = None,
         obj_value: Optional[str] = None,
         obj_kind: Optional[str] = None,
         obj_lang: Optional[str] = ...) -> DataFrame:
    """Masked lookup (reference ``Graph.triples``, graph.py:70-71): filter
    only the bound positions.  ``obj_lang=...`` means "don't care"; pass
    None to require lang-less (the reference's no-guessing equality,
    graphtest.py:138-140).

    Scale: pure narrow filter — Catalyst pushes every clause into the scan
    (verify via .explain: PushedFilters); zero shuffle."""
    out = df
    if subject is not None:
        out = out.filter(out.subj == subject)
    if predicate is not None:
        out = out.filter(out.pred == predicate)
    cond = _object_condition(out, obj_value, obj_kind, obj_lang)
    if cond is not None:
        out = out.filter(cond)
    return out


def objects(df: DataFrame, subject: Optional[str] = None,
            predicate: Optional[str] = None, curie: Optional[str] = None,
            namespaces=None) -> DataFrame:
    """Projection (reference ``Graph.objects``, graph.py:73-78)."""
    if predicate is None and curie is not None:
        predicate = (namespaces or default_namespaces).curie_to_uri(curie)
    return scan(df, subject=subject, predicate=predicate).select(
        "obj_value", "obj_kind", "obj_lang")


def contains(df: DataFrame, subject=None, predicate=None, obj_value=None,
             obj_kind=None, obj_lang=...) -> bool:
    """Existence check (reference ``__contains__``, graph.py:99-100).
    Scale: limit(1) short-circuits the scan."""
    return bool(
        scan(df, subject, predicate, obj_value, obj_kind, obj_lang)
        .limit(1).take(1))


# ---------------------------------------------------------------------------
# first-literal extraction (O6) — all subjects at once
# ---------------------------------------------------------------------------

def literal_values(df: DataFrame, predicate: Optional[str] = None) -> DataFrame:
    """Per (subj, pred) first truthy literal (reference ``literalValue``,
    graph.py:80-83; 'first' deterministically = min (obj_value, obj_lang),
    SURVEY.md §2.4).

    Scale: single hash aggregation keyed (subj, pred) with map-side
    partial min_by — no window, no sort."""
    candidates = df.filter(
        (F.col("obj_kind") == "literal") & (F.col("obj_value") != ""))
    if predicate is not None:
        candidates = candidates.filter(F.col("pred") == predicate)
    order = F.struct(F.col("obj_value"), F.coalesce(F.col("obj_lang"), F.lit("")))
    return candidates.groupBy("subj", "pred").agg(
        F.min_by(F.col("obj_value"), order).alias("literal_value"))


# ---------------------------------------------------------------------------
# priority label resolution (O7) — all subjects at once
# ---------------------------------------------------------------------------

def find_labels(df: DataFrame,
                label_predicates: Sequence[str] = tuple(LABEL_PREDICATES),
                lang_priority: Sequence[str] = ("nl", "en")) -> DataFrame:
    """Per-subject top-1 label (reference ``findLabel``, graph.py:85-97;
    exact tie-break refinement from SURVEY.md §2.4):

    - rank languages ``nl`` < ``en`` < lang-less; other langs never win
    - a higher-priority language wins across predicate priorities
      (an nl skos:prefLabel beats an en rdfs:label — graphtest.py:153-160)
    - within a language, the highest-priority predicate wins
    - within (lang, predicate), min obj_value (reference: undefined)

    Scale: one hash-agg shuffle keyed subj; ``min_by`` over a rank struct
    keeps it fully partial-aggregatable (no window sort, no skew risk
    beyond hot subjects, which AQE handles)."""
    preds = list(label_predicates)
    if not preds:
        return local_frame(
            df.sparkSession,
            [], "subj string, label_value string, label_lang string")
    langs = list(lang_priority)
    lang_rank = F.when(F.col("obj_lang").isNull(), F.lit(len(langs)))
    for i, lang in enumerate(langs):
        lang_rank = F.when(F.col("obj_lang") == lang, F.lit(i)).otherwise(lang_rank)
    pred_rank = F.array_position(
        F.array(*[F.lit(p) for p in preds]), F.col("pred"))

    candidates = (
        df.filter(F.col("pred").isin(preds))
        .filter(F.col("obj_kind") == "literal")
        .withColumn("lang_rank", lang_rank)
        .filter(F.col("lang_rank") <= len(langs))  # drop other-language labels
        .withColumn("pred_rank", pred_rank)
    )
    order = F.struct(
        F.col("lang_rank"), F.col("pred_rank"),
        F.col("obj_value"), F.coalesce(F.col("obj_lang"), F.lit("")))
    return candidates.groupBy("subj").agg(
        F.min_by(F.col("obj_value"), order).alias("label_value"),
        F.min_by(F.col("obj_lang"), order).alias("label_lang"))


# ---------------------------------------------------------------------------
# in-degree (serializer support; triples2rdfxml.py:151-152)
# ---------------------------------------------------------------------------

def in_degrees(df: DataFrame) -> DataFrame:
    """Distinct non-rdf:subject referrers per object node
    (``_leftHandSides`` as one aggregation over the whole graph).
    Scale: hash-agg keyed (obj_value, obj_kind); count-distinct expands to
    a two-stage partial agg."""
    return (
        df.filter(F.col("pred") != RDF_SUBJECT)
        .groupBy(F.col("obj_value"), F.col("obj_kind"))
        .agg(F.countDistinct("subj").alias("in_degree"))
    )


# ---------------------------------------------------------------------------
# BGP conjunctive pattern matching (O9) — n-way self-join
# ---------------------------------------------------------------------------

def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


def match_patterns(df: DataFrame, patterns: Sequence[tuple]) -> DataFrame:
    """Conjunctive BGP match (reference ``matchTriplePatterns``,
    graph.py:102-131) as a cascade of self-joins of the triples relation.

    Pattern terms: constant str (s/p positions), a node (Uri/BNode/Literal)
    or (value, kind, lang) tuple for the object position, ``'?var'`` to
    bind, ``None`` wildcard (non-binding).

    Binding semantics replicate the reference exactly (graph.py:121,127):
    s/p-position bindings are typed ``uri`` regardless of the underlying
    label; object bindings keep (value, kind, lang); a variable bound in an
    s/p position and reused in an object position joins on value AND
    requires obj_kind='uri' (the reference's Uri-wrap lookup).

    Output: one column triple per variable — ``v``, ``v_kind``, ``v_lang``
    — deduplicated (reference dedups on sorted binding items).

    Scale: each pattern is an aliased pruned scan of the same relation;
    equi-joins on shared variables shuffle on the variable values.  Join
    order is left as given — Catalyst CBO/AQE reorders and
    broadcast-converts selective patterns at runtime, strictly better than
    the reference's fixed left-to-right nested loop (SURVEY.md §4)."""
    result: Optional[DataFrame] = None
    bound: dict[str, tuple] = {}  # var -> (value_col, kind_col, lang_col) names

    for i, pattern in enumerate(patterns):
        if len(pattern) != 3:
            raise ValueError("%r should have been a triple" % (pattern,))
        alias = "p%d" % i
        t = df.alias(alias)
        col = lambda name: F.col("%s.%s" % (alias, name))  # noqa: E731

        filters = []
        join_on = []
        selects = {}

        for pos, term in enumerate(pattern):
            pos_cols = (
                ("subj", None, None), ("pred", None, None),
                ("obj_value", "obj_kind", "obj_lang"))[pos]
            value_col = col(pos_cols[0])
            if term is None:
                continue
            if _is_var(term):
                var = term[1:]
                if var in bound:
                    prev_value, prev_kind, prev_lang = bound[var]
                    if pos < 2:
                        # reuse in s/p position: unwrap to value
                        join_on.append(value_col == F.col(prev_value))
                    else:
                        # reuse in object position: node equality — value,
                        # kind ('uri' when previously bound from s/p), lang
                        join_on.append(value_col == F.col(prev_value))
                        if prev_kind is None:
                            filters.append(col("obj_kind") == "uri")
                            filters.append(col("obj_lang").isNull())
                        else:
                            join_on.append(col("obj_kind") == F.col(prev_kind))
                            join_on.append(col("obj_lang").eqNullSafe(F.col(prev_lang)))
                else:
                    if pos < 2:
                        selects["b_%s" % var] = value_col
                        bound[var] = ("b_%s" % var, None, None)
                    else:
                        selects["b_%s" % var] = value_col
                        selects["b_%s_kind" % var] = col("obj_kind")
                        selects["b_%s_lang" % var] = col("obj_lang")
                        bound[var] = ("b_%s" % var, "b_%s_kind" % var,
                                      "b_%s_lang" % var)
            else:
                # constant term
                if pos < 2:
                    filters.append(value_col == str(term))
                else:
                    value, kind, lang = _object_constant(term)
                    filters.append(col("obj_value") == value)
                    filters.append(col("obj_kind") == kind)
                    filters.append(col("obj_lang").eqNullSafe(F.lit(lang).cast("string")))

        for cond in filters:
            t = t.filter(cond)
        new_cols = [v.alias(k) for k, v in selects.items()]
        if result is None:
            result = t.select(*new_cols) if new_cols else t.select(F.lit(1).alias("_one"))
        else:
            on = join_on[0] if join_on else F.lit(True)
            for extra in join_on[1:]:
                on = on & extra
            result = result.join(t, on, "inner").select(
                *[result[c] for c in result.columns], *new_cols)

    assert result is not None, "at least one pattern required"
    out_cols = []
    for var, (value_col, kind_col, lang_col) in bound.items():
        out_cols.append(F.col(value_col).alias(var))
        if kind_col is None:
            out_cols.append(F.lit("uri").alias("%s_kind" % var))
            out_cols.append(F.lit(None).cast("string").alias("%s_lang" % var))
        else:
            out_cols.append(F.col(kind_col).alias("%s_kind" % var))
            out_cols.append(F.col(lang_col).alias("%s_lang" % var))
    if not out_cols:
        return result.limit(1).select(F.lit(True).alias("matched"))
    return result.select(*out_cols).dropDuplicates()


def predicate_stats(df: DataFrame) -> dict:
    """Per-predicate row counts + total, as a tiny driver-side dict — the
    control-plane statistics for selectivity-ordered BGP joins
    (``sparql.compiler``, ``match_patterns(reorder=...)``).

    Scale: one partial-aggregatable groupBy over the predicate column
    (column-pruned scan — only ``pred`` is read); the result is
    |distinct predicates| rows, which for real RDF vocabularies is
    O(100-10k) — safe to collect, like any catalog statistic.  Compute it
    once per materialized table version and cache alongside the manifest,
    not per query."""
    rows = df.groupBy("pred").count().collect()
    stats = {r["pred"]: r["count"] for r in rows}
    stats["__total__"] = sum(stats.values())
    return stats


def _object_constant(term) -> tuple:
    """Normalize an object-position constant to (value, kind, lang)."""
    if hasattr(term, "isLiteral"):
        from ..model import node_to_row

        _, _, value, kind, lang = node_to_row("", "", term)
        return value, kind, lang
    if isinstance(term, tuple):
        value, kind, lang = (term + (None,))[:3] if len(term) == 2 else term
        return value, kind, lang
    value = str(term)
    if value.startswith("_:"):
        return value, "bnode", None
    return value, "literal", None
