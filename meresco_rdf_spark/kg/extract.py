"""Transcript -> mention detection + entity-link scoring + triple emission.

The scale input is the transcripts table (``conv_id:string, turn_idx:int,
role:string, text:string, tool:string, ts:timestamp`` — the authoritative
``BASELINE.json.input_hint`` shape).  Stage layout (north_star):

1. ``detect_mentions`` — batched, vectorized mention detection + link
   scoring inside ``applyInPandas`` grouped by ``conv_id`` with turns
   stably ordered by ``turn_idx``.  The gazetteer is tiny and rides into
   the UDF closure (the cluster equivalent of a broadcast variable); the
   matcher is one compiled longest-first alternation, executed once per
   turn — per-conversation batches of turns arrive as a single Arrow
   RecordBatch, no per-row Python UDFs anywhere.
2. ``mention_triples`` — pure JVM-side column expressions that turn each
   mention row into its triple fan-out (explode of a literal struct
   array): whole-stage-codegen, zero Python.

Scale posture: the only shuffle in stage 1 is the hash partition on
``conv_id`` that ``groupBy.applyInPandas`` requires — the same key the
input Iceberg table is bucketed by, so on a bucketed table AQE elides it.
Stage 2 is narrow.  Mention ids are deterministic, document-scoped bnode
labels (``sha1(conv_id, turn_idx, start)``; SURVEY.md §1.4) so re-running
any partition is idempotent — the checkpoint/resume path relies on that.

Reference parity: emitted nodes follow the meresco node model — mention
nodes are BNodes, entities are Uris, surfaces are lang-less Literals and
labels carry language tags (``meresco/rdf/graph/abstract.py:28-57``,
``literal.py:33-64``); mention annotations are typed ``oa:Annotation``,
the type the reference serializer promotes and sorts first
(``triples2rdfxml.py:188-191``).
"""

from __future__ import annotations

import re
from typing import Iterable, Optional

from pyspark.sql import DataFrame, functions as F

from ..namespaces import namespaces as _ns

# --------------------------------------------------------------------------
# KG vocabulary (constants; kg: is our pipeline namespace, oa:/foaf: are
# the reference's own prefixes — triples2rdfxml.py:177-191)
# --------------------------------------------------------------------------

KG = "http://data.example.org/kg#"
OA_ANNOTATION = _ns.curie_to_uri("oa:Annotation")
RDF_TYPE = _ns.curie_to_uri("rdf:type")
FOAF_NAME = _ns.curie_to_uri("foaf:name")
SKOS_ALTLABEL = _ns.curie_to_uri("skos:altLabel")
OWL_SAMEAS = _ns.curie_to_uri("owl:sameAs")

KG_SURFACE = KG + "surface"          # mention -> Literal(matched text)
KG_CANDIDATE = KG + "candidate"      # mention -> Uri(surface entity)
KG_CONVERSATION = KG + "conversation"  # mention -> Uri(conversation)
KG_TURN = KG + "turn"                # mention -> Literal(turn index)
KG_SCORE = KG + "score"              # mention -> Literal(link score)
KG_MENTIONS = KG + "mentions"        # conversation -> Uri(surface entity)

CONV_URI_PREFIX = "urn:conv:"
SURFACE_URI_PREFIX = "urn:surface:"

MENTION_SCHEMA = (
    "conv_id string, turn_idx int, start int, end int, surface string, "
    "surface_key string, score double"
)


def normalize_surface(surface: str) -> str:
    """Deterministic surface normalization -> blocking/join key."""
    return re.sub(r"[^a-z0-9]+", " ", surface.lower()).strip()


def surface_uri(surface_key: str) -> str:
    return SURFACE_URI_PREFIX + surface_key.replace(" ", "-")


def _compile_matcher(aliases: Iterable[str]) -> re.Pattern:
    """Longest-first alternation with word boundaries: one C-level scan per
    turn text; longest-first makes overlapping aliases resolve to the most
    specific match (e.g. 'Apache Spark engine' over 'Apache Spark')."""
    ordered = sorted(set(aliases), key=lambda a: (-len(a), a))
    pattern = "|".join(re.escape(a) for a in ordered)
    return re.compile(r"(?<![0-9A-Za-z])(?:%s)(?![0-9A-Za-z])" % pattern)


def detect_mentions(transcripts: DataFrame,
                    aliases: Optional[Iterable[str]] = None,
                    assume_conv_partitioned: bool = False) -> DataFrame:
    """Mentions per turn via grouped pandas UDF (one group per conv_id,
    turns stably sorted by ``turn_idx`` inside the group — the per-row
    invariant from ``BASELINE.json.input_hint``).

    Link score per mention = alias-length specificity, boosted by
    within-conversation co-occurrence support (number of earlier turns in
    the same conversation that mention the same normalized surface) —
    deterministic, order-stable, and computed entirely inside the batch.

    ``assume_conv_partitioned=True`` elides the conv_id exchange — THE
    only O(input) shuffle in the pipeline (BENCH/BASELINE.md) — for
    inputs whose storage already co-locates conversations (an Iceberg
    table with ``bucket(N, conv_id)``, a bucketed Hive table, or any
    upstream stage that hash-partitioned on conv_id).  The per-partition
    turn sort stays (narrow, spillable); correctness only needs
    conv-locality, which the caller asserts by passing the flag.

    Returns: ``conv_id, turn_idx, start, end, surface, surface_key, score``.
    """
    if aliases is None:
        from ..sources.transcripts import GAZETTEER

        aliases = [a for names in GAZETTEER.values() for a in names]
    matcher = _compile_matcher(aliases)

    def find(pdfs):  # executes on executors; Arrow batches in/out
        import pandas as pd

        # STREAMING over pre-sorted batches: the JVM sortWithinPartitions
        # below delivers each conversation contiguously in turn order, so
        # this loop holds ONLY the current conversation's support counts —
        # O(1) memory, no pandas concat/sort of the partition, and state
        # carries across Arrow batch boundaries because the dict lives
        # outside the batch loop (a conversation may span batches).
        support: dict[str, int] = {}
        current_conv = None
        for pdf in pdfs:
            out = {k: [] for k in ("conv_id", "turn_idx", "start", "end",
                                   "surface", "surface_key", "score")}
            for conv_id, turn_idx, text in zip(
                    pdf["conv_id"].values, pdf["turn_idx"].values,
                    pdf["text"].values):
                if conv_id != current_conv:
                    support.clear()
                    current_conv = conv_id
                if not text:
                    continue
                for m in matcher.finditer(text):
                    surface = m.group(0)
                    key = normalize_surface(surface)
                    seen = support.get(key, 0)
                    out["conv_id"].append(conv_id)
                    out["turn_idx"].append(int(turn_idx))
                    out["start"].append(m.start())
                    out["end"].append(m.end())
                    out["surface"].append(surface)
                    out["surface_key"].append(key)
                    out["score"].append(float(len(key)) + float(seen))
                    support[key] = seen + 1
            yield pd.DataFrame(out)

    # mapInPandas after an explicit conv_id repartition (not groupBy.apply:
    # mention detection needs no cross-conversation state, so a partition-
    # local iterator avoids per-group invocation overhead).  The stable
    # turn ordering the scorer needs is restored by a JVM Tungsten sort
    # (spillable, cache-friendly) — NOT in Python: buffering + sorting a
    # whole partition in pandas measured ~5x wall at 12M-row partitions.
    # Partition count = spark.sql.shuffle.partitions, passed EXPLICITLY:
    # a bare repartition("conv_id") lets AQE coalesce the exchange to its
    # ~64MB byte target, which collapses this CPU-bound Python stage to a
    # couple of partitions (measured 3x wall at local[32]); a count pinned
    # to the driver's defaultParallelism would ignore cluster-level
    # configuration.  The conf value is the operator's width knob and
    # scales with the deployment.
    base = transcripts.select("conv_id", "turn_idx", "text")
    if not assume_conv_partitioned:
        spark = transcripts.sparkSession
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        base = base.repartition(width, "conv_id")
    return (
        base.sortWithinPartitions("conv_id", "turn_idx")
        .mapInPandas(find, schema=MENTION_SCHEMA)
    )


def _mention_bnode():
    """Deterministic document-scoped bnode label per mention:
    ``_:b<sha1(conv, turn, start)[:20]>`` (SURVEY.md §1.4) — idempotent
    re-execution of any partition emits identical subjects."""
    return F.concat(
        F.lit("_:b"),
        F.substring(F.sha1(F.concat_ws(
            "\x00", F.col("conv_id"), F.col("turn_idx"), F.col("start"))), 1, 20))


def _conv_uri():
    return F.concat(F.lit(CONV_URI_PREFIX), F.col("conv_id"))


def _with_node_ids(mentions: DataFrame) -> DataFrame:
    """``mentions`` plus its bnode label (``_bnode``) and conversation URI
    (``_conv_uri``) as columns, projected once before a fan-out: written
    inline in the exploded array, each is computed once per emitted
    triple (six ``sha1`` per mention), not once per mention."""
    return mentions.select(
        "*", _mention_bnode().alias("_bnode"), _conv_uri().alias("_conv_uri"))


def _triple(subj, pred, obj_value, kind, lang=None):
    """One five-column triple as a struct (for explode fan-outs)."""
    return F.struct(
        subj.alias("subj"), F.lit(pred).alias("pred"),
        obj_value.cast("string").alias("obj_value"),
        F.lit(kind).alias("obj_kind"),
        (F.lit(None).cast("string") if lang is None else F.lit(lang)).alias("obj_lang"))


def _mention_fanout(bnode, conv_uri, candidate_uri):
    """The six bnode-subject triples every mention emits (type, surface,
    turn, score, conversation, candidate) — shared by the raw and the
    canonical emission paths, which differ only in the candidate URI."""
    return [
        _triple(bnode, RDF_TYPE, F.lit(OA_ANNOTATION), "uri"),
        _triple(bnode, KG_SURFACE, F.col("surface"), "literal"),
        _triple(bnode, KG_TURN, F.col("turn_idx"), "literal"),
        _triple(bnode, KG_SCORE, F.format_number(F.col("score"), 1), "literal"),
        _triple(bnode, KG_CONVERSATION, conv_uri, "uri"),
        _triple(bnode, KG_CANDIDATE, candidate_uri, "uri"),
    ]


def mention_triples(mentions: DataFrame) -> DataFrame:
    """Mention rows -> triples (SURVEY.md §1.4 five-column schema), pure
    column expressions (whole-stage codegen; no Python).

    Per mention (bnode ``_:b<sha1(conv, turn, start)>``):
      - rdf:type          oa:Annotation
      - kg:surface        Literal(matched text)
      - kg:turn           Literal(turn index)
      - kg:score          Literal(score)
      - kg:conversation   Uri(urn:conv:<conv_id>)
      - kg:candidate      Uri(urn:surface:<key>)
    Plus the conversation-level edge ``conv kg:mentions surface-entity``.
    Dedup is deferred to the caller (set semantics, reference
    graph.py:45-51): one hash shuffle at the end of the stage.
    """
    surf_uri = F.concat(
        F.lit(SURFACE_URI_PREFIX), F.replace(F.col("surface_key"), F.lit(" "), F.lit("-")))
    m = _with_node_ids(mentions).withColumn("_surf_uri", surf_uri)
    bnode, conv_uri, surf_uri = F.col("_bnode"), F.col("_conv_uri"), F.col("_surf_uri")
    fanout = F.array(
        *_mention_fanout(bnode, conv_uri, surf_uri),
        _triple(conv_uri, KG_MENTIONS, surf_uri, "uri"),
    )
    return m.select(F.explode(fanout).alias("t")).select("t.*")


def pipeline_triples(mentions: DataFrame, canon: DataFrame) -> DataFrame:
    """Fused canonical triple emission — the scale path used by
    ``kg.pipeline.run_pipeline``.

    The canonical map (surface_key -> canonical_uri; tiny = distinct
    surfaces) is broadcast-joined onto the mention stream BEFORE fan-out,
    so entity references are born canonical — no post-hoc rewrite join and,
    critically, **no global dedup shuffle**: every emitted component is
    unique by construction:

    - bnode-subject triples: bnode = sha1(conv, turn, start) is unique per
      mention, and each mention emits one triple per distinct predicate;
    - conversation->entity edges: explicit ``distinct`` on the (tiny-per-
      conv) pair set after canonicalization;
    - per-entity label triples: produced by one aggregation keyed on the
      output subject;
    - owl:sameAs provenance: one row per non-identity map entry.

    Replacing the former emit-then-dropDuplicates(5 string cols) plan
    (a full-width shuffle of every triple) with these narrow/pre-aggregated
    paths cut pipeline wall time ~2x at both measured parallelism levels.
    """
    from .canonicalize import sameas_triples

    canon_b = F.broadcast(canon.select("surface_key", "canonical_uri"))
    m = _with_node_ids(mentions.join(canon_b, "surface_key"))

    conv_uri = F.col("_conv_uri")
    fanout = F.array(*_mention_fanout(
        F.col("_bnode"), conv_uri, F.col("canonical_uri")))
    bnode_triples = m.select(F.explode(fanout).alias("t")).select("t.*")

    conv_edges = (
        m.select(conv_uri.alias("subj"), F.col("canonical_uri").alias("obj_value"))
        .dropDuplicates(["subj", "obj_value"])
        .select(
            "subj", F.lit(KG_MENTIONS).alias("pred"), "obj_value",
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"))
    )

    # label triples keyed on the canonical entity (aggregations -> unique)
    counts = m.groupBy("canonical_uri", "surface").agg(F.count("*").alias("n"))
    labels = label_triples_from_counts(counts)

    return (
        bnode_triples
        .unionByName(conv_edges)
        .unionByName(labels)
        .unionByName(sameas_triples(canon))
    )


def label_triples_from_counts(counts: DataFrame) -> DataFrame:
    """``(canonical_uri, surface, n)`` occurrence counts -> the per-entity
    label triples: the globally most frequent raw surface becomes
    ``foaf:name`` (ties broken by surface string), every other form
    ``skos:altLabel``.

    Called by ``pipeline_triples`` on counts aggregated from the canonical
    mention stream — the election MUST run after canonicalization, on
    totals across the whole corpus: electing per surface-form or per
    bucket gives merged entities several competing ``foaf:name`` rows.

    One aggregation keyed ``canonical_uri``: each entity's forms are
    collected as ``(-n, surface)`` structs and sorted, so position 0 of
    the array is the elected name and the rest are its alternatives.  No
    join and no dedup: ``counts`` is unique on ``(canonical_uri,
    surface)``, so each form appears once in its entity's array.  The
    array is bounded by one entity's distinct surface forms, not by its
    mention count."""
    forms = counts.groupBy("canonical_uri").agg(F.sort_array(F.collect_list(
        F.struct((-F.col("n")).alias("neg"), F.col("surface").alias("surface"))
    )).alias("forms"))
    return (
        forms.select("canonical_uri", F.posexplode("forms").alias("pos", "form"))
        .select(
            F.col("canonical_uri").alias("subj"),
            F.when(F.col("pos") == 0, F.lit(FOAF_NAME))
            .otherwise(F.lit(SKOS_ALTLABEL)).alias("pred"),
            F.col("form.surface").alias("obj_value"),
            F.lit("literal").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"))
    )


KG_USED_TOOL = KG + "usedTool"    # conversation -> Uri(tool)
KG_TURN_COUNT = KG + "turnCount"  # conversation -> Literal(n turns)
TOOL_URI_PREFIX = "urn:tool:"


def structure_triples(transcripts: DataFrame) -> DataFrame:
    """Transcript-STRUCTURE triples from the non-text columns of the
    input_hint schema (``role``/``tool``): which tools a conversation
    invoked and how many turns it has — the provenance edges an
    agent-transcript KG needs alongside the text-derived mentions.

    Per conversation:
      - ``kg:usedTool  Uri(urn:tool:<tool>)`` for each distinct tool of
        its tool-role turns;
      - ``kg:turnCount Literal(n)``.

    Pure column expressions, unique by construction (one distinct + one
    count aggregation, both keyed conv_id and partial-aggregatable — a
    hub conversation reduces map-side).  NOT unioned into
    ``pipeline_triples`` by default so the mention-graph goldens stay
    pinned; callers union it when materializing
    (``triples.unionByName(structure_triples(transcripts))``)."""
    tool_edges = (
        transcripts.filter(F.col("tool").isNotNull())
        .select("conv_id", "tool").distinct()
        .select(
            F.concat(F.lit(CONV_URI_PREFIX), F.col("conv_id")).alias("subj"),
            F.lit(KG_USED_TOOL).alias("pred"),
            F.concat(F.lit(TOOL_URI_PREFIX), F.col("tool")).alias("obj_value"),
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"))
    )
    turn_counts = (
        transcripts.groupBy("conv_id").agg(F.count("*").alias("n"))
        .select(
            F.concat(F.lit(CONV_URI_PREFIX), F.col("conv_id")).alias("subj"),
            F.lit(KG_TURN_COUNT).alias("pred"),
            F.col("n").cast("string").alias("obj_value"),
            F.lit("literal").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"))
    )
    return tool_edges.unionByName(turn_counts)


