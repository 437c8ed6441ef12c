"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

Every operator claimed in SURVEY.md §2 (plus the training-data operators)
gets a ``QUERIES[name]`` callable ``(spark, sf_dir) -> DataFrame`` and —
when ANSI-SQL-expressible — an ``ORACLES[name]`` DuckDB statement over the
same parquet tables that produces IDENTICAL rows (names, types, values).
Column-name/typing discipline: every computed column is aliased the same
on both sides; counts/sizes are cast to bigint; float formulas are either
exact-integer/decimal or rounded after double-precision arithmetic with a
deterministic fold order.

The graph operators run over a triples view derived deterministically
from the TPC-H-ish tables (customer/supplier/nation/region -> foaf:name /
rdfs:label / skos:prefLabel / urn:rel:* triples) so the DuckDB oracle can
rebuild the identical relation with a CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


# Scratch dirs for snapshot/stream/roundtrip fixtures live under one
# per-process root removed at interpreter exit (advisor leak finding);
# see _scratch.py.  Cleanup runs at process exit, not when the returned
# DataFrame is consumed — lazy plans and restarted streams may read the
# fixture files any time before that.
from ._scratch import scratch_dir as _scratch_dir

from .model import (
    DCTERMS_TITLE,
    FOAF_NAME,
    RDFS_LABEL,
    SKOS_ALTLABEL,
    SKOS_PREFLABEL,
)
from .operators.graph_ops import (
    find_labels,
    in_degrees,
    literal_values,
    match_patterns,
    scan,
)
from .session import local_frame
from .textops.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_dup_pairs,
    simhash_fingerprints,
)
from .textops.similarity import cosine_topk, lsh_topk
from .textops.textstats import (
    LANG_PRIORITY,
    LANG_STOPWORDS,
    fingerprint,
    lang_id,
    quality_features,
    token_count,
)

REL_NATION = "urn:rel:nation"
REL_REGION = "urn:rel:region"


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet("%s/%s.parquet" % (sf_dir, table))


# ==========================================================================
# triples view over the TPC-H-ish tables (identical in Spark and SQL)
# ==========================================================================

def tpch_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the graph relation from customer/supplier/nation/region."""
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")

    def t(df, subj, pred, obj_value, kind, lang=None):
        return df.select(
            subj.alias("subj"), F.lit(pred).alias("pred"),
            obj_value.cast("string").alias("obj_value"),
            F.lit(kind).alias("obj_kind"),
            (F.lit(None).cast("string") if lang is None else F.lit(lang))
            .alias("obj_lang"))

    cust_uri = F.concat(F.lit("urn:cust:"), F.col("c_custkey").cast("string"))
    supp_uri = F.concat(F.lit("urn:supp:"), F.col("s_suppkey").cast("string"))
    nation_uri = F.concat(F.lit("urn:nation:"), F.col("n_nationkey").cast("string"))
    region_uri = F.concat(F.lit("urn:region:"), F.col("r_regionkey").cast("string"))

    return (
        t(cust, cust_uri, FOAF_NAME, F.col("c_name"), "literal")
        .unionByName(t(cust, cust_uri, REL_NATION,
                       F.concat(F.lit("urn:nation:"), F.col("c_nationkey").cast("string")), "uri"))
        .unionByName(t(supp, supp_uri, FOAF_NAME, F.col("s_name"), "literal"))
        .unionByName(t(supp, supp_uri, REL_NATION,
                       F.concat(F.lit("urn:nation:"), F.col("s_nationkey").cast("string")), "uri"))
        .unionByName(t(nation, nation_uri, RDFS_LABEL, F.col("n_name"), "literal", "en"))
        .unionByName(t(nation, nation_uri, REL_REGION,
                       F.concat(F.lit("urn:region:"), F.col("n_regionkey").cast("string")), "uri"))
        .unionByName(t(region, region_uri, SKOS_PREFLABEL, F.col("r_name"), "literal"))
    )


TRIPLES_CTE = """
triples AS (
  SELECT 'urn:cust:' || c_custkey AS subj, '{foaf}' AS pred,
         c_name AS obj_value, 'literal' AS obj_kind,
         CAST(NULL AS VARCHAR) AS obj_lang FROM customer
  UNION ALL
  SELECT 'urn:cust:' || c_custkey, '{rel_nation}',
         'urn:nation:' || c_nationkey, 'uri', NULL FROM customer
  UNION ALL
  SELECT 'urn:supp:' || s_suppkey, '{foaf}', s_name, 'literal', NULL FROM supplier
  UNION ALL
  SELECT 'urn:supp:' || s_suppkey, '{rel_nation}',
         'urn:nation:' || s_nationkey, 'uri', NULL FROM supplier
  UNION ALL
  SELECT 'urn:nation:' || n_nationkey, '{rdfs}', n_name, 'literal', 'en' FROM nation
  UNION ALL
  SELECT 'urn:nation:' || n_nationkey, '{rel_region}',
         'urn:region:' || n_regionkey, 'uri', NULL FROM nation
  UNION ALL
  SELECT 'urn:region:' || r_regionkey, '{skos_pref}', r_name, 'literal', NULL FROM region
)""".format(foaf=FOAF_NAME, rdfs=RDFS_LABEL, skos_pref=SKOS_PREFLABEL,
            rel_nation=REL_NATION, rel_region=REL_REGION)

# shared DuckDB fragments (match textstats.tokens / normalized_text exactly)
_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_TOKS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"
_NORM_TOKS = ("list_filter(regexp_split_to_array(%s, '\\s+'), x -> x != '')"
              % _NORM)
# word 3-gram shingles over normalized tokens (= textops.dedup.word_shingles)
_SHINGLES = (
    "list_distinct(list_transform("
    "range(0, greatest(len({t}) - 3, 0) + 1), "
    "i -> array_to_string(({t})[i + 1:i + 3], ' ')))"
).format(t=_NORM_TOKS)


# ==========================================================================
# graph-operator queries (SURVEY.md §2.1) over the triples view
# ==========================================================================

def q_graph_scan_masked(spark, sf_dir):
    """O4: masked lookup — predicate-bound scan."""
    return scan(tpch_triples(spark, sf_dir), predicate=REL_NATION)


def q_graph_objects(spark, sf_dir):
    """O5: projection — objects(subject, curie='foaf:name')."""
    from .operators.graph_ops import objects

    return objects(tpch_triples(spark, sf_dir), subject="urn:cust:1",
                   curie="foaf:name")


def q_graph_find_labels(spark, sf_dir):
    """O7: per-subject priority label resolution."""
    return find_labels(tpch_triples(spark, sf_dir))


def q_graph_bgp(spark, sf_dir):
    """O9: 3-pattern BGP — customers/suppliers in region EUROPE."""
    return match_patterns(tpch_triples(spark, sf_dir), [
        ("?c", REL_NATION, "?n"),
        ("?n", REL_REGION, "?r"),
        ("?r", SKOS_PREFLABEL, ("EUROPE", "literal", None)),
    ])


def q_graph_add_dedup(spark, sf_dir):
    """O1/O2: set-semantics insert — adding every triple twice yields the
    same relation (reference graph.py:45-55)."""
    from .operators.graph_ops import add_triples

    t = tpch_triples(spark, sf_dir)
    return add_triples(t, t)


def q_graph_remove(spark, sf_dir):
    """O3: delete by full triple key = null-safe left-anti join
    (reference graph.py:57-68)."""
    from .operators.graph_ops import add_triples, remove_triples

    t = tpch_triples(spark, sf_dir)
    doomed = t.filter(F.col("pred") == REL_NATION)
    return remove_triples(add_triples(t, t), doomed)


def q_graph_diff(spark, sf_dir):
    """Snapshot change detection: diff the graph against a revision where
    every nation edge was re-predicated — added rows tagged '+', removed
    tagged '-' (null-safe anti-joins both ways)."""
    from .operators.graph_ops import diff_triples, remove_triples

    t = tpch_triples(spark, sf_dir)
    removed = t.filter(F.col("pred") == REL_NATION)
    added = removed.withColumn("pred", F.concat(F.col("pred"), F.lit("-v2")))
    after = remove_triples(t, removed).unionByName(added)
    return diff_triples(t, after)


def q_graph_in_degree(spark, sf_dir):
    """K1 support: distinct-referrer in-degree per object node."""
    return in_degrees(tpch_triples(spark, sf_dir))


def q_graph_literal_values(spark, sf_dir):
    """O6: deterministic first-literal per (subj, pred)."""
    return literal_values(tpch_triples(spark, sf_dir))


def q_graph_iterate(spark, sf_dir):
    """O11: iterate the whole graph — the unmasked scan (reference
    ``graph.py`` ``triples()`` with an all-None mask).  Same predicate-
    free path as O4; at scale this is a straight columnar read of the
    subject-bucketed triple table, no shuffle."""
    return scan(tpch_triples(spark, sf_dir))


def q_graph_connected_components(spark, sf_dir):
    """The distributed alternating large-star/small-star connected
    components (``kg/canonicalize.py::connected_components``) checked
    directly against an independent ANSI-SQL oracle (DuckDB recursive-CTE
    transitive closure + min-label) — the pipeline goldens exercise it
    only end-to-end.  Edge set: the uri-typed relation edges of the
    TPC-H-ish triples view (customer/supplier->nation->region), giving
    five multi-thousand-node components at sf0.01.  ``local_threshold=0``
    forces the distributed path."""
    from .kg.canonicalize import connected_components

    t = tpch_triples(spark, sf_dir)
    edges = (
        t.filter(F.col("pred").isin(REL_NATION, REL_REGION))
        .select(F.col("subj").alias("a"), F.col("obj_value").alias("b")))
    return connected_components(edges, local_threshold=0)


def q_graph_merge(spark, sf_dir):
    """O1/O3 at scale: the Iceberg-``MERGE``-style read-modify-write
    against the snapshot triple table (``kg/snapshots.py::snapshot_merge``
    — the executable form of ``Graph.addTriple``/``removeTriple``,
    reference graph.py:45-68).

    Builds the base table from the triples view, then applies ONE merge:

    - deletes: every nation->region edge, plus per-region rows that do
      not exist in the table (no-op legs — delete must ignore them);
    - adds: a lowercase ``skos:altLabel`` per region (genuinely new),
      plus every region's existing ``skos:prefLabel`` row verbatim
      (set-semantics leg — re-adding must not duplicate).

    Returns the full post-merge table; only delta-touched buckets were
    rewritten (the new manifest reuses the untouched buckets' data
    directories), so the untouched buckets' survival is part of what the
    oracle checks."""

    from .kg.snapshots import read_snapshot, snapshot_create, snapshot_merge

    base = tpch_triples(spark, sf_dir)
    path = _scratch_dir("graph_merge_") + "/triples"
    snapshot_create(spark, base, path, buckets=8)

    region = _read(spark, sf_dir, "region")
    region_uri = F.concat(F.lit("urn:region:"),
                          F.col("r_regionkey").cast("string"))
    adds = region.select(
        region_uri.alias("subj"),
        F.lit(SKOS_ALTLABEL).alias("pred"),
        F.lower(F.col("r_name")).alias("obj_value"),
        F.lit("literal").alias("obj_kind"),
        F.lit("en").alias("obj_lang"),
    ).unionByName(region.select(
        region_uri.alias("subj"),
        F.lit(SKOS_PREFLABEL).alias("pred"),
        F.col("r_name").alias("obj_value"),
        F.lit("literal").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_lang"),
    ))
    deletes = base.filter(F.col("pred") == REL_REGION).unionByName(
        region.select(
            region_uri.alias("subj"),
            F.lit(SKOS_PREFLABEL).alias("pred"),
            F.concat(F.col("r_name"), F.lit("-GONE")).alias("obj_value"),
            F.lit("literal").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"),
        ))
    snapshot_merge(spark, path, adds=adds, deletes=deletes)
    return read_snapshot(spark, path).select(
        "subj", "pred", "obj_value", "obj_kind", "obj_lang")


def q_graph_adjacency_topk(spark, sf_dir):
    """Hot-subject-safe adjacency via explicit two-stage SALTED
    aggregation (north rule: "salted aggregation for hot entities") —
    ``kg/materialize.py::adjacency_topk``; k=1 so truncation is active
    for every multi-edge subject.  Exploded back to rows so the oracle
    can value-hash it (struct-array columns don't compare across
    engines)."""
    from .kg.materialize import adjacency_topk

    adj = adjacency_topk(tpch_triples(spark, sf_dir), k=1, salt_buckets=4)
    exploded = adj.select(
        "subj", "degree", F.posexplode("edges").alias("rank0", "e"))
    return exploded.select(
        "subj",
        (F.col("rank0") + 1).cast("int").alias("rnk"),
        F.col("e.pred").alias("pred"),
        F.col("e.obj_value").alias("obj_value"),
        F.col("e.obj_kind").alias("obj_kind"),
        F.col("e.obj_lang").alias("obj_lang"),
        F.col("degree").cast("long").alias("degree"))


# ==========================================================================
# graph algorithms (operators/graph_algos.py) over the uri-edge relation
# ==========================================================================

def _uri_edges(spark, sf_dir):
    t = tpch_triples(spark, sf_dir)
    return (t.filter(F.col("pred").isin(REL_NATION, REL_REGION))
            .select(F.col("subj").alias("src"),
                    F.col("obj_value").alias("dst")))


def q_graph_pagerank(spark, sf_dir):
    """Fixed-point integer PageRank (3 iterations, d=0.85) over the
    cust/supp->nation->region edge relation.  Integer arithmetic makes the
    ranks bit-identical across engines, so the oracle is an exact
    value-hash, not a tolerance check."""
    from .operators.graph_algos import pagerank

    return pagerank(_uri_edges(spark, sf_dir), iterations=3)


def q_graph_khop(spark, sf_dir):
    """2-hop reverse-BFS from every region node: hop 1 = nations, hop 2 =
    customers/suppliers; min-hop semantics exercised by the multi-parent
    fan-in."""
    from .operators.graph_algos import k_hop

    t = tpch_triples(spark, sf_dir)
    seeds = (t.filter(F.col("pred") == SKOS_PREFLABEL)
             .select(F.col("subj").alias("node")).distinct())
    return k_hop(_uri_edges(spark, sf_dir), seeds, k=2, direction="in")


def q_graph_shortest_paths(spark, sf_dir):
    """Weighted multi-source shortest paths (semi-naive Bellman-Ford,
    operators/graph_algos.py::shortest_paths) over an sf-scaled weighted
    graph: sampled customers -> nation -> region, a unit-weight region
    ring, and per-region exits to a world sink whose price grows with
    the region key.  The cheap exit sits on region 0, so the best route
    often walks the ring before exiting — improvements land over
    several relaxation rounds, not one.  Integer weights keep distances
    BIGINT-exact; oracle = hop-bounded walk enumeration (recursive CTE)
    + MIN, the same <=8-edge semantics the operator guarantees."""
    from .operators.graph_algos import shortest_paths

    cust = _read(spark, sf_dir, "customer")
    nat = _read(spark, sf_dir, "nation")
    reg = _read(spark, sf_dir, "region")
    edges = (
        cust.select(
            F.concat(F.lit("urn:cust:"),
                     F.col("c_custkey").cast("string")).alias("src"),
            F.concat(F.lit("urn:nation:"),
                     F.col("c_nationkey").cast("string")).alias("dst"),
            (F.col("c_custkey") % 3 + 1).cast("long").alias("weight"))
        .unionByName(nat.select(
            F.concat(F.lit("urn:nation:"),
                     F.col("n_nationkey").cast("string")).alias("src"),
            F.concat(F.lit("urn:region:"),
                     F.col("n_regionkey").cast("string")).alias("dst"),
            (F.col("n_nationkey") % 7 + 1).cast("long").alias("weight")))
        .unionByName(reg.select(
            F.concat(F.lit("urn:region:"),
                     F.col("r_regionkey").cast("string")).alias("src"),
            F.concat(F.lit("urn:region:"),
                     ((F.col("r_regionkey") + 1) % 5).cast("string"))
            .alias("dst"),
            F.lit(1).cast("long").alias("weight")))
        .unionByName(reg.select(
            F.concat(F.lit("urn:region:"),
                     F.col("r_regionkey").cast("string")).alias("src"),
            F.lit("urn:world").alias("dst"),
            (F.col("r_regionkey") + 1).cast("long").alias("weight"))))
    sources = (cust.filter(F.col("c_custkey") % 100 == 0)
               .select(F.concat(F.lit("urn:cust:"),
                                F.col("c_custkey").cast("string"))
                       .alias("node")))
    return shortest_paths(edges, sources, max_hops=8)


def q_graph_hits(spark, sf_dir):
    """HITS hubs/authorities (2 iterations) over the cust/supp->nation->
    region edge relation: customers and suppliers are pure hubs, region
    nodes pure authorities, nations both.  Fixed-point integer
    max-normalization per phase keeps every score BIGINT-exact, so the
    oracle is an exact value-hash of the unrolled recurrence."""
    from .operators.graph_algos import hits

    return hits(_uri_edges(spark, sf_dir), iterations=2)


_HITS_ORACLE = """
WITH {cte},
edges AS (
  SELECT DISTINCT subj AS src, obj_value AS dst FROM triples
  WHERE pred IN ('{rel_nation}', '{rel_region}')
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
a1r AS (
  SELECT n.node,
         COALESCE(SUM(CASE WHEN e.dst IS NULL THEN NULL
                           ELSE CAST(1000000 AS BIGINT) END), 0) AS raw
  FROM nodes n LEFT JOIN edges e ON e.dst = n.node GROUP BY n.node
),
a1 AS (SELECT node, raw * 1000000 // (SELECT MAX(raw) FROM a1r) AS s
       FROM a1r),
h1r AS (
  SELECT n.node, COALESCE(SUM(a1.s), 0) AS raw
  FROM nodes n LEFT JOIN edges e ON e.src = n.node
  LEFT JOIN a1 ON a1.node = e.dst
  GROUP BY n.node
),
h1 AS (SELECT node, raw * 1000000 // (SELECT MAX(raw) FROM h1r) AS s
       FROM h1r),
a2r AS (
  SELECT n.node, COALESCE(SUM(h1.s), 0) AS raw
  FROM nodes n LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN h1 ON h1.node = e.src
  GROUP BY n.node
),
a2 AS (SELECT node, raw * 1000000 // (SELECT MAX(raw) FROM a2r) AS s
       FROM a2r),
h2r AS (
  SELECT n.node, COALESCE(SUM(a2.s), 0) AS raw
  FROM nodes n LEFT JOIN edges e ON e.src = n.node
  LEFT JOIN a2 ON a2.node = e.dst
  GROUP BY n.node
),
h2 AS (SELECT node, raw * 1000000 // (SELECT MAX(raw) FROM h2r) AS s
       FROM h2r)
SELECT a2.node, CAST(a2.s AS BIGINT) AS auth, CAST(h2.s AS BIGINT) AS hub
FROM a2 JOIN h2 ON h2.node = a2.node"""
# The final CASTs above are load-bearing: DuckDB types
# ``x * 1000000 // max`` as HUGEINT (int128), and the driver's fetch
# path renders HUGEINT through a different dtype than BIGINT, so an
# uncast oracle value-hash diverges from Spark's BIGINT output even
# when the numbers are identical (round-4 red row).  Values are bounded
# by the 1e6 fixed-point scale — the BIGINT cast cannot overflow.
# tests/test_entry_contract.py::TestOracleOutputTyping guards the class.


def q_graph_walks(spark, sf_dir):
    """Deterministic pseudo-random walks
    (operators/graph_algos.py::deterministic_walks): 6-step walks from
    sampled customers over the membership graph + region ring — the
    graph-embedding corpus-generation step with the md5-prefix hash as
    the RNG, so the walks are byte-identical across engines,
    partitionings, and resumes (no RNG state to checkpoint).  One
    partial-aggregatable argmin shuffle per step, frontier
    checkpointed.  Oracle = a recursive CTE replaying the exact hash
    argmin via NOT EXISTS."""
    from .operators.graph_algos import deterministic_walks

    cust = _read(spark, sf_dir, "customer")
    nat = _read(spark, sf_dir, "nation")
    reg = _read(spark, sf_dir, "region")
    edges = (
        cust.select(
            F.concat(F.lit("urn:cust:"),
                     F.col("c_custkey").cast("string")).alias("src"),
            F.concat(F.lit("urn:nation:"),
                     F.col("c_nationkey").cast("string")).alias("dst"))
        .unionByName(nat.select(
            F.concat(F.lit("urn:nation:"),
                     F.col("n_nationkey").cast("string")).alias("src"),
            F.concat(F.lit("urn:region:"),
                     F.col("n_regionkey").cast("string")).alias("dst")))
        .unionByName(reg.select(
            F.concat(F.lit("urn:region:"),
                     F.col("r_regionkey").cast("string")).alias("src"),
            F.concat(F.lit("urn:region:"),
                     ((F.col("r_regionkey") + 1) % 5).cast("string"))
            .alias("dst")))
        .unionByName(reg.select(
            F.concat(F.lit("urn:region:"),
                     F.col("r_regionkey").cast("string")).alias("src"),
            F.concat(F.lit("urn:nation:"),
                     (F.col("r_regionkey") * 5).cast("string"))
            .alias("dst"))))
    starts = (cust.filter(F.col("c_custkey") % 100 == 0)
              .select(F.concat(F.lit("urn:cust:"),
                               F.col("c_custkey").cast("string"))
                      .alias("node")))
    return deterministic_walks(edges, starts, steps=6)


_WALKS_ORACLE = """
WITH RECURSIVE edges(src, dst) AS (
  SELECT 'urn:cust:' || c_custkey, 'urn:nation:' || c_nationkey
  FROM customer
  UNION ALL
  SELECT 'urn:nation:' || n_nationkey, 'urn:region:' || n_regionkey
  FROM nation
  UNION ALL
  SELECT 'urn:region:' || r_regionkey,
         'urn:region:' || ((r_regionkey + 1) % 5) FROM region
  UNION ALL
  SELECT 'urn:region:' || r_regionkey,
         'urn:nation:' || (r_regionkey * 5) FROM region
),
walk(walk_id, step, node) AS (
  SELECT 'urn:cust:' || c_custkey, 0, 'urn:cust:' || c_custkey
  FROM customer WHERE c_custkey % 100 = 0
  UNION ALL
  SELECT w.walk_id, w.step + 1, e.dst
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.step < 6 AND NOT EXISTS (
    SELECT 1 FROM edges e2 WHERE e2.src = w.node AND (
      CAST(('0x' || substr(md5(w.walk_id || chr(31)
        || CAST(w.step + 1 AS VARCHAR) || chr(31) || e2.dst), 1, 15))
        AS BIGINT)
      < CAST(('0x' || substr(md5(w.walk_id || chr(31)
        || CAST(w.step + 1 AS VARCHAR) || chr(31) || e.dst), 1, 15))
        AS BIGINT)
      OR (e2.dst < e.dst AND
        CAST(('0x' || substr(md5(w.walk_id || chr(31)
          || CAST(w.step + 1 AS VARCHAR) || chr(31) || e2.dst), 1, 15))
          AS BIGINT)
        = CAST(('0x' || substr(md5(w.walk_id || chr(31)
          || CAST(w.step + 1 AS VARCHAR) || chr(31) || e.dst), 1, 15))
          AS BIGINT))
    )
  )
)
SELECT walk_id, step, node FROM walk"""


_SSSP_ORACLE = """
WITH RECURSIVE edges(src, dst, w) AS (
  SELECT 'urn:cust:' || c_custkey, 'urn:nation:' || c_nationkey,
         CAST(c_custkey % 3 + 1 AS BIGINT) FROM customer
  UNION ALL
  SELECT 'urn:nation:' || n_nationkey, 'urn:region:' || n_regionkey,
         CAST(n_nationkey % 7 + 1 AS BIGINT) FROM nation
  UNION ALL
  SELECT 'urn:region:' || r_regionkey,
         'urn:region:' || ((r_regionkey + 1) % 5), CAST(1 AS BIGINT)
  FROM region
  UNION ALL
  SELECT 'urn:region:' || r_regionkey, 'urn:world',
         CAST(r_regionkey + 1 AS BIGINT) FROM region
),
walk(node, dist, hops) AS (
  SELECT 'urn:cust:' || c_custkey, CAST(0 AS BIGINT), 0
  FROM customer WHERE c_custkey % 100 = 0
  UNION ALL
  SELECT e.dst, w.dist + e.w, w.hops + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.hops < 8
)
SELECT node, MIN(dist) AS dist FROM walk GROUP BY node"""


_PAGERANK_ORACLE = """
WITH {cte},
edges AS (
  SELECT subj AS src, obj_value AS dst FROM triples
  WHERE pred IN ('{rel_nation}', '{rel_region}')
),
outd AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
c1 AS (
  SELECT e.dst, SUM((r.rank * 85) // (100 * o.outdeg)) AS inflow
  FROM edges e JOIN outd o ON o.src = e.src JOIN r0 r ON r.node = e.src
  GROUP BY e.dst
),
r1 AS (
  SELECT n.node, CAST(150000000 + COALESCE(c1.inflow, 0) AS BIGINT) AS rank
  FROM nodes n LEFT JOIN c1 ON c1.dst = n.node
),
c2 AS (
  SELECT e.dst, SUM((r.rank * 85) // (100 * o.outdeg)) AS inflow
  FROM edges e JOIN outd o ON o.src = e.src JOIN r1 r ON r.node = e.src
  GROUP BY e.dst
),
r2 AS (
  SELECT n.node, CAST(150000000 + COALESCE(c2.inflow, 0) AS BIGINT) AS rank
  FROM nodes n LEFT JOIN c2 ON c2.dst = n.node
),
c3 AS (
  SELECT e.dst, SUM((r.rank * 85) // (100 * o.outdeg)) AS inflow
  FROM edges e JOIN outd o ON o.src = e.src JOIN r2 r ON r.node = e.src
  GROUP BY e.dst
),
r3 AS (
  SELECT n.node, CAST(150000000 + COALESCE(c3.inflow, 0) AS BIGINT) AS rank
  FROM nodes n LEFT JOIN c3 ON c3.dst = n.node
)
SELECT node, rank FROM r3"""

_KHOP_ORACLE = """
WITH RECURSIVE {cte},
edges AS (
  SELECT subj AS src, obj_value AS dst FROM triples
  WHERE pred IN ('{rel_nation}', '{rel_region}')
),
seeds AS (
  SELECT DISTINCT subj AS node FROM triples WHERE pred = '{skos_pref}'
),
walk(node, hops) AS (
  SELECT node, 0 FROM seeds
  UNION ALL
  SELECT e.src, w.hops + 1 FROM walk w JOIN edges e ON e.dst = w.node
  WHERE w.hops < 2
)
SELECT node, CAST(min(hops) AS INT) AS hops FROM walk GROUP BY node"""


# ==========================================================================
# SPARQL front-end (sparql/ package) over the same triples view
# ==========================================================================

_SPARQL_BGP = """
    PREFIX foaf: <http://xmlns.com/foaf/0.1/>
    PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
    PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
    SELECT DISTINCT ?c ?cname ?nname WHERE {{
        ?c <{rel_nation}> ?n .
        ?n <{rel_region}> ?r .
        ?r skos:prefLabel "EUROPE" .
        ?c foaf:name ?cname .
        ?n rdfs:label ?nname .
        FILTER (regex(?cname, "1$"))
    }}
""".format(rel_nation=REL_NATION, rel_region=REL_REGION)


def q_sparql_select_bgp(spark, sf_dir):
    """Parsed SPARQL SELECT: 5-pattern BGP + regex FILTER, compiled to a
    pure DataFrame join plan (constant terms pushed to the scans,
    Catalyst/AQE picks the physical join order)."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), _SPARQL_BGP)


def q_sparql_select_bgp_stats(spark, sf_dir):
    """Same query compiled with predicate-count statistics: the BGP is
    greedily reordered most-selective-first (connected patterns only — no
    Cartesian steps) BEFORE Catalyst sees it, the classic RDF-store CBO
    heuristic.  Must produce bit-identical results to the unordered
    compile."""
    from .operators.graph_ops import predicate_stats
    from .sparql import sparql_select

    t = tpch_triples(spark, sf_dir)
    return sparql_select(t, _SPARQL_BGP, pattern_stats=predicate_stats(t))


def q_sparql_optional(spark, sf_dir):
    """OPTIONAL = left outer join on the shared variables: every nation
    with its label, plus its region binding ONLY when that region is
    EUROPE (the unmatched rows keep NULL ?r)."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT DISTINCT ?n ?nname ?r WHERE {{
            ?n rdfs:label ?nname .
            OPTIONAL {{ ?n <{rel_region}> ?r . ?r skos:prefLabel "EUROPE" }}
        }}
    """.format(rel_region=REL_REGION))


def q_sparql_union(spark, sf_dir):
    """UNION of two predicate paths with shared variables (multiset union
    + DISTINCT -> one exchange; absent variables are NULL-padded)."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT DISTINCT ?s ?v WHERE {
            { ?s foaf:name ?v } UNION { ?s skos:prefLabel ?v }
        }
    """)


def q_sparql_aggregate(spark, sf_dir):
    """SPARQL 1.1 aggregation: GROUP BY + COUNT compiled to one
    partial+final hash aggregation over the BGP join."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?nname (COUNT(?m) AS ?n_members) WHERE {{
            ?m <{rel_nation}> ?n .
            ?n rdfs:label ?nname .
        }} GROUP BY ?nname ORDER BY ?nname
    """.format(rel_nation=REL_NATION))


def q_sparql_path_seq(spark, sf_dir):
    """Property path sequence: member -> nation -> region -> label in ONE
    path expression, desugared to chained joins over fresh variables."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT DISTINCT ?c ?rname WHERE {{
            ?c <{rel_nation}>/<{rel_region}>/skos:prefLabel ?rname .
        }}
    """.format(rel_nation=REL_NATION, rel_region=REL_REGION))


def q_sparql_path_alt_plus(spark, sf_dir):
    """One-or-more path over an alternation of predicates: the full
    reachability relation of the nation/region hierarchy, computed by the
    compiler's semi-naive frontier closure."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        SELECT DISTINCT ?x ?y WHERE {{
            ?x (<{rel_nation}>|<{rel_region}>)+ ?y .
        }}
    """.format(rel_nation=REL_NATION, rel_region=REL_REGION))


def q_sparql_path_star(spark, sf_dir):
    """Zero-or-more path over an alternation of predicates
    (``rdfs:subClassOf*``-shaped, the most common property path in the
    wild): the reachability relation of the nation/region hierarchy
    UNION the zero-length identity matches — with both endpoints
    variables, every RDF term of the graph bound to itself
    (SPARQL 1.1 §18.4 ZeroLengthPath)."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        SELECT DISTINCT ?x ?y WHERE {{
            ?x (<{rel_nation}>|<{rel_region}>)* ?y .
        }}
    """.format(rel_nation=REL_NATION, rel_region=REL_REGION))


def q_sparql_path_opt(spark, sf_dir):
    """Zero-or-one path: each term optionally stepped through one
    skos:prefLabel edge — the base edge set plus every graph term's
    identity row."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        SELECT DISTINCT ?n ?v WHERE {{
            ?n <{skos_pref}>? ?v .
        }}
    """.format(skos_pref=SKOS_PREFLABEL))


def q_sparql_path_graph_var(spark, sf_dir):
    """Property path inside GRAPH ?g: the one-or-more closure evaluated
    per named graph in ONE job — the quad context rides the semi-naive
    closure joins as one more key (no per-graph loop), so paths never
    cross graph boundaries.  urn:graph:cust chains customer->nation->
    region (two hops close to cust->region); urn:graph:supp holds only
    supplier->nation edges, so suppliers never reach a region."""
    from .sparql import sparql_select

    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")

    def q(df, ctx, subj, obj):
        return df.select(
            F.lit(ctx).alias("context"), subj.alias("subj"),
            F.lit("urn:rel:in").alias("pred"),
            obj.alias("obj_value"), F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"))

    quads = (
        q(cust, "urn:graph:cust",
          F.concat(F.lit("urn:cust:"), F.col("c_custkey").cast("string")),
          F.concat(F.lit("urn:nation:"),
                   F.col("c_nationkey").cast("string")))
        .unionByName(q(
            nation, "urn:graph:cust",
            F.concat(F.lit("urn:nation:"),
                     F.col("n_nationkey").cast("string")),
            F.concat(F.lit("urn:region:"),
                     F.col("n_regionkey").cast("string"))))
        .unionByName(q(
            supp, "urn:graph:supp",
            F.concat(F.lit("urn:supp:"), F.col("s_suppkey").cast("string")),
            F.concat(F.lit("urn:nation:"),
                     F.col("s_nationkey").cast("string")))))
    return sparql_select(quads, """
        SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x <urn:rel:in>+ ?y } }
    """)


def q_sparql_path_mixed(spark, sf_dir):
    """Quantified paths over |, / and ^ combinations of IRIs (the
    generalized closure: per-branch step-join edge relations, full
    term identity in the extension joins).  Branch "hier": from one
    nation, (rel:region|^rel:nation)+ walks up to its region and down
    to its customers and suppliers.  Branch "conat": from one customer,
    (^rel:nation/rel:nation)+ closes over the co-national composed
    edge — everyone sharing the seed's nation."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        SELECT DISTINCT ?x ?via WHERE {{
          {{ <urn:nation:0> (<{rel_region}>|^<{rel_nation}>)+ ?x .
             BIND("hier" AS ?via) }}
          UNION
          {{ <urn:cust:1> (<{rel_nation}>/^<{rel_nation}>)+ ?x .
             BIND("conat" AS ?via) }}
        }}
    """.format(rel_nation=REL_NATION, rel_region=REL_REGION))


def q_sparql_path_inverse(spark, sf_dir):
    """Inverse path: the members of one nation found by traversing
    ^rel:nation from the nation node."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT DISTINCT ?n ?c WHERE {{
            ?n ^<{rel_nation}> ?c .
            ?n rdfs:label "NATION_7"@en .
        }}
    """.format(rel_nation=REL_NATION))


def q_sparql_not_exists(spark, sf_dir):
    """FILTER NOT EXISTS = left-anti join on the shared variable: members
    whose name ends in 0/5 and whose nation is NOT in EUROPE.  The anti
    side is a 2-pattern sub-plan AQE broadcasts (regions are tiny)."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT DISTINCT ?s ?sname WHERE {{
            ?s foaf:name ?sname .
            ?s <{rel_nation}> ?n .
            FILTER NOT EXISTS {{
                ?n <{rel_region}> ?r . ?r skos:prefLabel "EUROPE"
            }}
            FILTER (regex(?sname, "[05]$"))
        }}
    """.format(rel_nation=REL_NATION, rel_region=REL_REGION))


def q_sparql_minus(spark, sf_dir):
    """SPARQL 1.1 MINUS (§8.3 compatibility semantics): all labelled
    nations minus those whose region is EUROPE — one left-anti join with
    the at-least-one-shared-binding guard."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT DISTINCT ?n ?nname WHERE {{
            ?n rdfs:label ?nname .
            MINUS {{ ?n <{rel_region}> ?r . ?r skos:prefLabel "EUROPE" }}
        }}
    """.format(rel_region=REL_REGION))


def q_sparql_values_bind(spark, sf_dir):
    """VALUES inline data (driver-literal frame, broadcast join) + BIND
    computed binding: regions constrained to two names, each tagged."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?r ?rname ?tag ?ruri WHERE {
            ?r skos:prefLabel ?rname .
            VALUES (?rname ?tag) { ("EUROPE" "eu") ("ASIA" "as") }
            BIND (str(?r) AS ?ruri)
        }
    """)


def q_sparql_having(spark, sf_dir):
    """GROUP BY + HAVING over the aggregate alias: nations with more
    members than the sf-independent floor — the HAVING predicate runs in
    the same hash-aggregation stage (no extra exchange)."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?nname (COUNT(?m) AS ?n_members) WHERE {{
            ?m <{rel_nation}> ?n .
            ?n rdfs:label ?nname .
        }} GROUP BY ?nname HAVING (?n_members >= 64)
    """.format(rel_nation=REL_NATION))


def q_sparql_ask(spark, sf_dir):
    """ASK = existence test: the compiled group under LIMIT 1, so the
    scan short-circuits at the first solution (LocalLimit)."""
    from .sparql import sparql_ask

    return sparql_ask(tpch_triples(spark, sf_dir), """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        ASK {{
            ?n <{rel_region}> ?r .
            ?r skos:prefLabel "EUROPE" .
            ?m <{rel_nation}> ?n .
        }}
    """.format(rel_region=REL_REGION, rel_nation=REL_NATION))


def q_sparql_describe(spark, sf_dir):
    """DESCRIBE = Concise Bounded Description: seed subjects from the
    WHERE group, then frontier-driven bnode closure (one semi-join per
    round; trivial depth here, exercised with deep bnode chains in
    pytest)."""
    from .sparql import sparql_describe

    return sparql_describe(tpch_triples(spark, sf_dir), """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        DESCRIBE ?n WHERE {{ ?n rdfs:label "NATION_7"@en }}
    """)


def q_sparql_construct(spark, sf_dir):
    """CONSTRUCT: derive a NEW graph (member -> region shortcut edges plus
    region type declarations) as a standard 5-column triples relation —
    one WHERE plan, two template projections unioned, set-deduplicated."""
    from .sparql import sparql_construct

    return sparql_construct(tpch_triples(spark, sf_dir), """
        CONSTRUCT {{
            ?c <urn:rel:inRegion> ?r .
            ?r a <urn:type:Region> .
        }} WHERE {{
            ?c <{rel_nation}> ?n .
            ?n <{rel_region}> ?r .
        }}
    """.format(rel_nation=REL_NATION, rel_region=REL_REGION))


def q_sparql_agg_expr(spark, sf_dir):
    """Aggregates over expressions (not just variables): SUM(strlen(?x))
    evaluates the scalar expression per row inside the same codegen
    stage, then feeds the one partial+final hash aggregation."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?rname (SUM(strlen(?nname)) AS ?label_chars)
                      (MAX(strlen(?nname)) AS ?longest)
        WHERE {{
            ?n <{rel_region}> ?r .
            ?r skos:prefLabel ?rname .
            ?n rdfs:label ?nname .
        }} GROUP BY ?rname
    """.format(rel_region=REL_REGION))


def q_sparql_json_encode(spark, sf_dir):
    """SPARQL-JSON result ENCODE (egress complement of the reference's
    fromDict decode): one W3C bindings object per solution row, pure
    struct+to_json column expressions; unbound vars / absent lang tags
    omitted so the stream round-trips through decode_bindings."""
    from .sinks.sparql_json_sink import encode_bindings
    from .sparql import sparql_select

    sol = sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?r ?rname WHERE { ?r skos:prefLabel ?rname }
    """)
    return encode_bindings(sol)


def q_sparql_negated_set(spark, sf_dir):
    """Negated property set !(...): every non-membership edge leaving a
    customer — the NOT-IN predicate filter reaches the scan pushed down,
    no variable bound for the predicate position (§9.1)."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        SELECT ?s ?o WHERE {{
            ?s !<{rel_nation}> ?o .
            ?s <{rel_nation}> <urn:nation:7> .
        }}
    """.format(rel_nation=REL_NATION))


def q_sparql_path_negated(spark, sf_dir):
    """Negated property set with INVERSE members as a path atom
    (SPARQL 1.1 SS18.4 PathOneInPropertySet): ``!(p|^q)`` desugars to
    the union of a forward NOT-IN pattern and the same pattern with
    swapped endpoint terms — both components reach the scan as pushed
    NOT-IN filters, no predicate variable bound.  Anchored on nation 7
    so BOTH components bind: forward = its non-label edges (the region
    edge), inverse = every edge arriving at it that is not a name edge
    (all customer and supplier memberships)."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        SELECT ?o WHERE {{
            <urn:nation:7> !(<{rdfs}>|^<{foaf}>) ?o .
        }}
    """.format(rdfs=RDFS_LABEL, foaf=FOAF_NAME))


def q_sparql_path_negated_star(spark, sf_dir):
    """Quantified negated property set (SS18.4: NPS is a PathPrimary,
    so ``!(p)*`` closes over the predicate-COMPLEMENT edge relation):
    everything reachable from customer 1 through non-name edges, plus
    the zero-length identity.  The complement chain walks
    cust -> nation -> region and picks up each node's literal label;
    the closure machinery is the same seeded semi-naive walk as
    ``sparql_path_star``, the edge step just carries a NOT-IN filter
    instead of an equality."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        SELECT ?o WHERE {{
            <urn:cust:1> !(<{foaf}>)* ?o .
        }}
    """.format(foaf=FOAF_NAME))


def q_sparql_arithmetic(spark, sf_dir):
    """Arithmetic expressions (+ - * / with precedence) in FILTER and
    BIND: numeric coercion via try_cast so a non-numeric lexical is a
    SPARQL error (NULL -> row eliminated / unbound), never an ANSI
    throw."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?nname ?halflen WHERE {
            ?n rdfs:label ?nname .
            FILTER(strlen(?nname) + 2 > 10)
            BIND(strlen(?nname) / 2 AS ?halflen)
        }
    """)


def q_sparql_subquery(spark, sf_dir):
    """Sub-select (SPARQL 1.1 §12): per-nation member counts aggregated
    bottom-up in the nested SELECT, then joined to the label pattern of
    the enclosing group — the hash-agg runs BEFORE the join, so the join
    sees one row per nation, not one per member."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?nname ?n WHERE {{
            ?nat rdfs:label ?nname .
            {{ SELECT ?nat (COUNT(?m) AS ?n)
               WHERE {{ ?m <{rel_nation}> ?nat }} GROUP BY ?nat }}
        }}
    """.format(rel_nation=REL_NATION))


def q_sparql_update(spark, sf_dir):
    """SPARQL 1.1 Update (DELETE-INSERT WHERE): rename every
    skos:prefLabel edge to skos:altLabel in one request and return the
    new graph state.  Both halves instantiate against the pre-update
    graph; deletes are a null-safe anti-join (AQE broadcasts the
    template-sized delete set), inserts a set-semantics union.  Against a
    MATERIALIZED table, sparql_update_sets feeds the same two frames to
    snapshot_merge for the per-bucket MERGE instead."""
    from .sparql import sparql_update

    return sparql_update(tpch_triples(spark, sf_dir), """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        DELETE { ?r skos:prefLabel ?name }
        INSERT { ?r skos:altLabel ?name }
        WHERE { ?r skos:prefLabel ?name }
    """)


def q_sparql_group_concat(spark, sf_dir):
    """SAMPLE + GROUP_CONCAT (DISTINCT, custom separator) aggregates: both
    are spec-nondeterministic, pinned to the deterministic refinement
    (lexical min / lexically sorted join) so results are reproducible —
    collect_list/min are partial-aggregatable, one hash-agg exchange."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?rname (GROUP_CONCAT(DISTINCT ?nname ; SEPARATOR=", ")
                       AS ?members)
                      (SAMPLE(?nname) AS ?first)
        WHERE {{
            ?n <{rel_region}> ?r .
            ?r skos:prefLabel ?rname .
            ?n rdfs:label ?nname .
        }} GROUP BY ?rname
    """.format(rel_region=REL_REGION))


def q_sparql_scalar_funcs(spark, sf_dir):
    """SPARQL 1.1 §17.4 scalar built-ins (STRSTARTS/CONTAINS in FILTER;
    LCASE/STRLEN/IF/STRAFTER in BIND) — all compile to JVM column
    expressions inside one whole-stage-codegen projection, no Python."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?rname ?low ?len ?tag ?rkey WHERE {
            ?r skos:prefLabel ?rname .
            FILTER(strstarts(?rname, "A") || contains(?rname, "EUR"))
            BIND(lcase(?rname) AS ?low)
            BIND(strlen(?rname) AS ?len)
            BIND(if(strlen(?rname) > 4, "long", "short") AS ?tag)
            BIND(strafter(str(?r), "urn:region:") AS ?rkey)
        }
    """)


def q_sparql_term_constructors(spark, sf_dir):
    """SPARQL 1.1 §17.4.2 term constructors (round-5 completeness
    sweep): DATATYPE under the datatype-less term model (lang-tagged
    literal -> rdf:langString, plain literal -> xsd:string), IRI()
    built from a string expression, and STRLANG attaching a lowercased
    language tag.  All JVM column expressions in one projection."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?name ?rname ?dtn ?dtr ?i ?l WHERE {
            ?n rdfs:label ?name .
            ?n <urn:rel:region> ?r .
            ?r skos:prefLabel ?rname .
            BIND(datatype(?name) AS ?dtn)
            BIND(datatype(?rname) AS ?dtr)
            BIND(iri(concat("urn:dt:", strafter(str(?r), "urn:region:")))
                 AS ?i)
            BIND(strlang(?rname, "EN-us") AS ?l)
        }
    """)


def q_sparql_hash_funcs(spark, sf_dir):
    """SPARQL 1.1 §17.4.4 hash built-ins (MD5/SHA256 — the two DuckDB
    can oracle; SHA1/384/512 are pytest-checked vs hashlib) plus
    isNumeric() in a FILTER.  All JVM column expressions inside one
    whole-stage-codegen projection."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?rname ?rkey ?m ?h WHERE {
            ?r skos:prefLabel ?rname .
            BIND(strafter(str(?r), "urn:region:") AS ?rkey)
            FILTER(isnumeric(?rkey))
            BIND(md5(?rname) AS ?m)
            BIND(sha256(?rname) AS ?h)
        }
    """)


def q_sparql_group_order_expr(spark, sf_dir):
    """GROUP BY on a computed key (§11.1 — desugared into a BIND before
    the one hash aggregation) and ORDER BY expressions (§15.1 OrderCond:
    a numeric builtin over a GROUP_CONCAT alias, then the group key).
    All expression evaluation stays in the same codegen stages as the
    grouping/projection — no extra exchange beyond the single hash-agg."""
    from .sparql import sparql_select

    return sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        SELECT ?k (COUNT(?n) AS ?cnt)
               (GROUP_CONCAT(?n; SEPARATOR=",") AS ?names)
        WHERE { ?c foaf:name ?n }
        GROUP BY (substr(?n, strlen(?n), 1) AS ?k)
        ORDER BY DESC(strlen(?names)) ?k
    """)


def q_sparql_datetime_funcs(spark, sf_dir):
    """SPARQL 1.1 §17.4.5 dateTime accessors (YEAR/MONTH/DAY/HOURS/
    MINUTES/SECONDS/TZ/TIMEZONE) over xsd:dateTime lexical literals.
    Compiled as lexical regexp extraction, NOT a timestamp cast —
    Spark's to_timestamp converts into the session timezone, which
    would shift the hour, while SPARQL returns components of the
    literal's own lexical form.  Timezone variety (Z / +05:30 /
    -08:00 / absent) is derived deterministically from event_id; the
    absent branch exercises TZ -> "" and TIMEZONE -> error (unbound)."""
    from .sparql import sparql_select

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    mod = F.col("event_id") % 4
    off = (F.when(mod == 0, F.lit("Z")).when(mod == 1, F.lit("+05:30"))
           .when(mod == 2, F.lit("-08:00")).otherwise(F.lit("")))
    triples = ev.select(
        F.concat(F.lit("urn:event:"),
                 F.col("event_id").cast("string")).alias("subj"),
        F.lit("urn:prop:ts").alias("pred"),
        F.concat(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
                 off).alias("obj_value"),
        F.lit("literal").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_lang"))
    return sparql_select(triples, """
        SELECT ?s ?y ?mo ?d ?h ?mi ?sec ?tzs ?dur WHERE {
            ?s <urn:prop:ts> ?dt .
            BIND(year(?dt) AS ?y) BIND(month(?dt) AS ?mo)
            BIND(day(?dt) AS ?d) BIND(hours(?dt) AS ?h)
            BIND(minutes(?dt) AS ?mi) BIND(seconds(?dt) AS ?sec)
            BIND(tz(?dt) AS ?tzs) BIND(timezone(?dt) AS ?dur)
        }
    """)


def tpch_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quad relation (context + 5 triple columns): customer facts in
    urn:graph:cust, supplier facts (names + nation links) in
    urn:graph:supp, nation labels in the default graph (NULL context) —
    the shape the multi-document RDF ingest emits."""
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")

    def q(df, ctx, subj, pred, obj_value, kind, lang=None):
        return df.select(
            (F.lit(None).cast("string") if ctx is None else
             F.lit(ctx)).alias("context"),
            subj.alias("subj"), F.lit(pred).alias("pred"),
            obj_value.cast("string").alias("obj_value"),
            F.lit(kind).alias("obj_kind"),
            (F.lit(None).cast("string") if lang is None else F.lit(lang))
            .alias("obj_lang"))

    cust_uri = F.concat(F.lit("urn:cust:"), F.col("c_custkey").cast("string"))
    supp_uri = F.concat(F.lit("urn:supp:"), F.col("s_suppkey").cast("string"))
    nation_uri = F.concat(F.lit("urn:nation:"),
                          F.col("n_nationkey").cast("string"))
    return (
        q(cust, "urn:graph:cust", cust_uri, FOAF_NAME,
          F.col("c_name"), "literal")
        .unionByName(q(supp, "urn:graph:supp", supp_uri, FOAF_NAME,
                       F.col("s_name"), "literal"))
        .unionByName(q(supp, "urn:graph:supp", supp_uri, REL_NATION,
                       F.concat(F.lit("urn:nation:"),
                                F.col("s_nationkey").cast("string")), "uri"))
        .unionByName(q(nation, None, nation_uri, RDFS_LABEL,
                       F.col("n_name"), "literal", "en"))
    )


def q_sparql_named_graphs(spark, sf_dir):
    """SPARQL 1.1 GRAPH over a quad relation: GRAPH ?g iterates named
    graphs binding the variable (context column becomes a join-able
    var binding per pattern — one pushdown-eligible IS NOT NULL filter,
    no per-graph loop), GRAPH <iri> scopes by a constant pushed filter,
    and joins inside a GRAPH block stay within one graph.  Customers
    have no nation link in their graph, so ?nat binds only for
    suppliers."""
    from .sparql import sparql_select

    return sparql_select(tpch_quads(spark, sf_dir), """
        PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        SELECT ?g ?s ?n ?nat WHERE {
            GRAPH ?g { ?s foaf:name ?n }
            FILTER(strends(?n, "7"))
            OPTIONAL { GRAPH <urn:graph:supp> { ?s <urn:rel:nation> ?nat } }
        }
    """)


_SPARQL_BGP_ORACLE = """
WITH {cte}
SELECT DISTINCT
  t1.subj AS c, 'uri' AS c_kind, CAST(NULL AS VARCHAR) AS c_lang,
  t4.obj_value AS cname, t4.obj_kind AS cname_kind, t4.obj_lang AS cname_lang,
  t5.obj_value AS nname, t5.obj_kind AS nname_kind, t5.obj_lang AS nname_lang
FROM triples t1
JOIN triples t2 ON t2.subj = t1.obj_value AND t2.pred = '{rel_region}'
JOIN triples t3 ON t3.subj = t2.obj_value AND t3.pred = '{skos_pref}'
  AND t3.obj_value = 'EUROPE' AND t3.obj_kind = 'literal'
  AND t3.obj_lang IS NULL
JOIN triples t4 ON t4.subj = t1.subj AND t4.pred = '{foaf}'
JOIN triples t5 ON t5.subj = t1.obj_value AND t5.pred = '{rdfs}'
WHERE t1.pred = '{rel_nation}' AND regexp_matches(t4.obj_value, '1$')"""

_RDFS_ENTAILMENT_ORACLE = """
WITH RECURSIVE {cte},
onto(subj, pred, obj_value) AS (VALUES
  ('{rel_nation}', '%(sp)s', 'urn:rel:locatedIn'),
  ('urn:rel:locatedIn', '%(sp)s', 'urn:rel:related'),
  ('{rel_region}', '%(sp)s', 'urn:rel:locatedIn'),
  ('{rel_nation}', '%(dom)s', 'urn:class:Agent'),
  ('{rel_nation}', '%(rng)s', 'urn:class:Nation'),
  ('{rel_region}', '%(dom)s', 'urn:class:Nation'),
  ('{rel_region}', '%(rng)s', 'urn:class:Region'),
  ('urn:class:Nation', '%(sc)s', 'urn:class:Place'),
  ('urn:class:Region', '%(sc)s', 'urn:class:Place'),
  ('urn:class:Place', '%(sc)s', 'urn:class:Entity'),
  ('{skos_pref}', '%(sp)s', '{rdfs}')),
base AS (
  SELECT subj, pred, obj_value, obj_kind, obj_lang FROM triples
  UNION ALL
  SELECT 'urn:nation:' || n_nationkey, '%(type)s', 'urn:class:Nation',
         'uri', CAST(NULL AS VARCHAR) FROM nation
  UNION ALL
  SELECT subj, pred, obj_value, 'uri', CAST(NULL AS VARCHAR) FROM onto),
sp(a, b) AS (
  SELECT subj, obj_value FROM onto WHERE pred = '%(sp)s'
  UNION
  SELECT s.a, e.obj_value FROM sp s
  JOIN onto e ON e.subj = s.b AND e.pred = '%(sp)s'),
sc(a, b) AS (
  SELECT subj, obj_value FROM onto WHERE pred = '%(sc)s'
  UNION
  SELECT s.a, e.obj_value FROM sc s
  JOIN onto e ON e.subj = s.b AND e.pred = '%(sc)s'),
t1 AS (
  SELECT * FROM base
  UNION ALL
  SELECT b.subj, sp.b, b.obj_value, b.obj_kind, b.obj_lang
  FROM base b JOIN sp ON b.pred = sp.a),
typed AS (
  SELECT t1.subj AS subj, '%(type)s' AS pred, o.obj_value AS obj_value,
         'uri' AS obj_kind, CAST(NULL AS VARCHAR) AS obj_lang
  FROM t1 JOIN onto o ON o.pred = '%(dom)s' AND t1.pred = o.subj
  UNION ALL
  SELECT t1.obj_value, '%(type)s', o.obj_value, 'uri', NULL
  FROM t1 JOIN onto o ON o.pred = '%(rng)s' AND t1.pred = o.subj
  WHERE t1.obj_kind != 'literal'),
t2 AS (SELECT * FROM t1 UNION ALL SELECT * FROM typed),
supert AS (
  SELECT t2.subj, '%(type)s', sc.b, 'uri', CAST(NULL AS VARCHAR)
  FROM t2 JOIN sc ON t2.pred = '%(type)s' AND t2.obj_value = sc.a),
allt AS (
  SELECT * FROM t2 UNION ALL SELECT * FROM supert
  UNION ALL SELECT a, '%(sp)s', b, 'uri', NULL FROM sp
  UNION ALL SELECT a, '%(sc)s', b, 'uri', NULL FROM sc)
SELECT DISTINCT subj, pred, obj_value, obj_kind, obj_lang FROM allt""" % {
    "sp": "http://www.w3.org/2000/01/rdf-schema#subPropertyOf",
    "sc": "http://www.w3.org/2000/01/rdf-schema#subClassOf",
    "dom": "http://www.w3.org/2000/01/rdf-schema#domain",
    "rng": "http://www.w3.org/2000/01/rdf-schema#range",
    "type": "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
}

# OWL-lite closure: orbit expansion as UNION branches (inverseOf both
# directions, symmetric swap), transitive predicate as a recursive CTE;
# contains-closure derived by swapping the within-closure (closure
# commutes with inversion — the same algebra the operator relies on).
_OWL_ENTAILMENT_ORACLE = """
WITH RECURSIVE inst(subj, pred, obj_value, obj_kind, obj_lang) AS (
  SELECT 'urn:cust:' || c_custkey, 'urn:rel:within',
         'urn:nation:' || c_nationkey, 'uri', CAST(NULL AS VARCHAR)
  FROM customer
  UNION ALL
  SELECT 'urn:supp:' || s_suppkey, 'urn:rel:within',
         'urn:nation:' || s_nationkey, 'uri', NULL FROM supplier
  UNION ALL
  SELECT 'urn:nation:' || n_nationkey, 'urn:rel:within',
         'urn:region:' || n_regionkey, 'uri', NULL FROM nation
  UNION ALL
  SELECT 'urn:region:' || n_regionkey, 'urn:rel:contains',
         'urn:nation:' || n_nationkey, 'uri', NULL FROM nation
  UNION ALL
  SELECT 'urn:nation:' || n_nationkey, 'urn:rel:adjacentTo',
         'urn:nation:' || ((n_nationkey + 1) % 25), 'uri', NULL FROM nation
),
expanded AS (
  SELECT * FROM inst
  UNION SELECT obj_value, 'urn:rel:contains', subj, 'uri',
               CAST(NULL AS VARCHAR)
  FROM inst WHERE pred = 'urn:rel:within'
  UNION SELECT obj_value, 'urn:rel:within', subj, 'uri', NULL
  FROM inst WHERE pred = 'urn:rel:contains'
  UNION SELECT obj_value, 'urn:rel:adjacentTo', subj, 'uri', NULL
  FROM inst WHERE pred = 'urn:rel:adjacentTo'
),
w(a, b) AS (SELECT subj, obj_value FROM expanded
            WHERE pred = 'urn:rel:within'),
wc(a, b) AS (
  SELECT a, b FROM w
  UNION
  SELECT wc.a, w.b FROM wc JOIN w ON wc.b = w.a
),
onto(subj, pred, obj_value, obj_kind, obj_lang) AS (
  SELECT * FROM (VALUES
    ('urn:rel:within', 'http://www.w3.org/2002/07/owl#inverseOf',
     'urn:rel:contains', 'uri', CAST(NULL AS VARCHAR)),
    ('urn:rel:within', 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
     'http://www.w3.org/2002/07/owl#TransitiveProperty', 'uri', NULL),
    ('urn:rel:adjacentTo',
     'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
     'http://www.w3.org/2002/07/owl#SymmetricProperty', 'uri', NULL))
)
SELECT DISTINCT subj, pred, obj_value, obj_kind, obj_lang FROM (
  SELECT * FROM expanded
  UNION ALL SELECT a, 'urn:rel:within', b, 'uri', CAST(NULL AS VARCHAR)
  FROM wc
  UNION ALL SELECT b, 'urn:rel:contains', a, 'uri', NULL FROM wc
  UNION ALL SELECT * FROM onto
)"""

# owl:sameAs smushing: independent recursive-CTE components + min-label
# + rewrite joins (the operator's CC run is forced distributed, so this
# cross-checks the large/small-star implementation too).
_SAMEAS_SMUSH_ORACLE = """
WITH RECURSIVE {cte},
links AS (
  SELECT 'urn:ext:nation:' || n_nationkey AS a,
         'urn:nation:' || n_nationkey AS b FROM nation
  UNION ALL
  SELECT 'urn:nation:' || n_nationkey, 'urn:alt:nation:' || n_nationkey
  FROM nation WHERE n_nationkey % 2 = 0
),
extra AS (
  SELECT 'urn:cust:' || c_custkey AS subj, 'urn:rel:memberOf' AS pred,
         'urn:ext:nation:' || c_nationkey AS obj_value, 'uri' AS obj_kind,
         CAST(NULL AS VARCHAR) AS obj_lang
  FROM customer WHERE c_custkey % 2 = 1
),
data AS (SELECT * FROM triples UNION ALL SELECT * FROM extra),
sym AS (SELECT a, b FROM links UNION SELECT b, a FROM links),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS (
  SELECT node, min(m) AS component FROM (
    SELECT a AS node, b AS m FROM reach
    UNION ALL SELECT a, a FROM sym
  ) GROUP BY node
),
mapping AS (
  SELECT node AS alias, component AS canonical FROM comp
  WHERE node != component
),
rewritten AS (
  SELECT COALESCE(ms.canonical, d.subj) AS subj, d.pred,
         CASE WHEN d.obj_kind = 'uri' AND mo.canonical IS NOT NULL
              THEN mo.canonical ELSE d.obj_value END AS obj_value,
         d.obj_kind, d.obj_lang
  FROM data d
  LEFT JOIN mapping ms ON ms.alias = d.subj
  LEFT JOIN mapping mo ON mo.alias = d.obj_value AND d.obj_kind = 'uri'
),
links_out AS (
  SELECT canonical AS subj, 'http://www.w3.org/2002/07/owl#sameAs' AS pred,
         alias AS obj_value, 'uri' AS obj_kind,
         CAST(NULL AS VARCHAR) AS obj_lang
  FROM mapping
)
SELECT DISTINCT subj, pred, obj_value, obj_kind, obj_lang
FROM (SELECT * FROM rewritten UNION ALL SELECT * FROM links_out)"""

# owl:equivalentProperty/equivalentClass entailment: rename/swap UNION
# branches (the orbit), a class-rename join, and a recursive CTE for the
# transitive predicate's orbit — mirrors the engine's one-broadcast-join
# + semi-naive-closure plan declaratively.
_OWL_EQUIV_ORACLE = """
WITH RECURSIVE inst(subj, pred, obj_value, obj_kind, obj_lang) AS (
  SELECT 'urn:cust:' || c_custkey, 'urn:rel:within',
         'urn:nation:' || c_nationkey, 'uri', CAST(NULL AS VARCHAR)
  FROM customer
  UNION ALL
  SELECT 'urn:supp:' || s_suppkey, 'urn:rel:locatedIn',
         'urn:nation:' || s_nationkey, 'uri', NULL FROM supplier
  UNION ALL
  SELECT 'urn:nation:' || n_nationkey, 'urn:rel:within',
         'urn:region:' || n_regionkey, 'uri', NULL FROM nation
  UNION ALL
  SELECT 'urn:supp:' || s_suppkey,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
         CASE WHEN s_suppkey % 2 = 0 THEN 'urn:class:Corp'
              ELSE 'urn:class:Firm' END, 'uri', NULL FROM supplier
),
expanded AS (
  SELECT * FROM inst
  UNION SELECT subj, 'urn:rel:within', obj_value, 'uri',
               CAST(NULL AS VARCHAR)
  FROM inst WHERE pred = 'urn:rel:locatedIn'
  UNION SELECT subj, 'urn:rel:locatedIn', obj_value, 'uri', NULL
  FROM inst WHERE pred = 'urn:rel:within'
  UNION SELECT obj_value, 'urn:rel:contains', subj, 'uri', NULL
  FROM inst WHERE pred IN ('urn:rel:within', 'urn:rel:locatedIn')
),
classes(c, d) AS (
  SELECT * FROM (VALUES
    ('urn:class:Corp', 'urn:class:Company'),
    ('urn:class:Corp', 'urn:class:Firm'),
    ('urn:class:Company', 'urn:class:Corp'),
    ('urn:class:Company', 'urn:class:Firm'),
    ('urn:class:Firm', 'urn:class:Corp'),
    ('urn:class:Firm', 'urn:class:Company'))
),
typed AS (
  SELECT e.subj, e.pred, cl.d AS obj_value, 'uri' AS obj_kind,
         CAST(NULL AS VARCHAR) AS obj_lang
  FROM expanded e JOIN classes cl ON e.obj_value = cl.c
  WHERE e.pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
),
w(a, b) AS (SELECT subj, obj_value FROM expanded
            WHERE pred = 'urn:rel:within'),
wc(a, b) AS (
  SELECT a, b FROM w
  UNION
  SELECT wc.a, w.b FROM wc JOIN w ON wc.b = w.a
),
onto(subj, pred, obj_value, obj_kind, obj_lang) AS (
  SELECT * FROM (VALUES
    ('urn:rel:locatedIn', 'http://www.w3.org/2002/07/owl#equivalentProperty',
     'urn:rel:within', 'uri', CAST(NULL AS VARCHAR)),
    ('urn:rel:within', 'http://www.w3.org/2002/07/owl#inverseOf',
     'urn:rel:contains', 'uri', NULL),
    ('urn:rel:within', 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
     'http://www.w3.org/2002/07/owl#TransitiveProperty', 'uri', NULL),
    ('urn:class:Corp', 'http://www.w3.org/2002/07/owl#equivalentClass',
     'urn:class:Company', 'uri', NULL),
    ('urn:class:Company', 'http://www.w3.org/2002/07/owl#equivalentClass',
     'urn:class:Firm', 'uri', NULL))
)
SELECT DISTINCT subj, pred, obj_value, obj_kind, obj_lang FROM (
  SELECT * FROM expanded
  UNION ALL SELECT * FROM typed
  UNION ALL SELECT a, 'urn:rel:within', b, 'uri', CAST(NULL AS VARCHAR)
  FROM wc
  UNION ALL SELECT a, 'urn:rel:locatedIn', b, 'uri', NULL FROM wc
  UNION ALL SELECT b, 'urn:rel:contains', a, 'uri', NULL FROM wc
  UNION ALL SELECT * FROM onto
)"""

# Functional / InverseFunctionalProperty key links + smush: GROUP BY key
# stars (exactly the operator's min-member emission), recursive-CTE
# closure + min-label components, rewrite joins.
_KEY_SAMEAS_ORACLE = """
WITH RECURSIVE data(subj, pred, obj_value, obj_kind, obj_lang) AS (
  SELECT 'urn:cust:' || c_custkey, 'urn:key:acct',
         CAST(c_custkey % 500 AS VARCHAR), 'literal',
         CAST(NULL AS VARCHAR)
  FROM customer
  UNION ALL
  SELECT 'urn:cust:' || c_custkey, 'urn:rel:memberOf',
         'urn:nation:' || c_nationkey, 'uri', NULL FROM customer
  UNION ALL
  SELECT 'urn:supp:' || s_suppkey, 'urn:rel:homeNation',
         'urn:nation:' || s_nationkey, 'uri', NULL FROM supplier
  UNION ALL
  SELECT 'urn:supp:' || s_suppkey, 'urn:rel:homeNation',
         'urn:alt:nation:' || s_nationkey, 'uri', NULL FROM supplier
),
ifp_groups AS (
  SELECT obj_value AS v, min(subj) AS rep FROM data
  WHERE pred = 'urn:key:acct' GROUP BY obj_value
),
ifp_links AS (
  SELECT DISTINCT g.rep AS a, d.subj AS b
  FROM data d JOIN ifp_groups g ON d.obj_value = g.v
  WHERE d.pred = 'urn:key:acct' AND d.subj != g.rep
),
fp_groups AS (
  SELECT subj AS s, min(obj_value) AS rep FROM data
  WHERE pred = 'urn:rel:homeNation' GROUP BY subj
),
fp_links AS (
  SELECT DISTINCT g.rep AS a, d.obj_value AS b
  FROM data d JOIN fp_groups g ON d.subj = g.s
  WHERE d.pred = 'urn:rel:homeNation' AND d.obj_value != g.rep
),
links AS (SELECT a, b FROM ifp_links UNION SELECT a, b FROM fp_links),
sym AS (SELECT a, b FROM links UNION SELECT b, a FROM links),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS (
  SELECT node, min(m) AS component FROM (
    SELECT a AS node, b AS m FROM reach
    UNION ALL SELECT a, a FROM sym
  ) GROUP BY node
),
mapping AS (
  SELECT node AS alias, component AS canonical FROM comp
  WHERE node != component
)
SELECT DISTINCT COALESCE(ms.canonical, d.subj) AS subj, d.pred,
       CASE WHEN d.obj_kind = 'uri' AND mo.canonical IS NOT NULL
            THEN mo.canonical ELSE d.obj_value END AS obj_value,
       d.obj_kind, d.obj_lang
FROM data d
LEFT JOIN mapping ms ON ms.alias = d.subj
LEFT JOIN mapping mo ON mo.alias = d.obj_value AND d.obj_kind = 'uri'"""

_GRAPH_ALGO_ORACLES = {
    "graph_pagerank": _PAGERANK_ORACLE,
    "graph_khop": _KHOP_ORACLE,
    "graph_shortest_paths": _SSSP_ORACLE,
    "graph_hits": _HITS_ORACLE,
    "graph_walks": _WALKS_ORACLE,
    "rdfs_entailment": _RDFS_ENTAILMENT_ORACLE,
    # incremental maintenance must converge to the batch closure: the
    # SAME oracle checks the streamed table
    "stream_rdfs_maintain": _RDFS_ENTAILMENT_ORACLE,
    "kg_sameas_smush": _SAMEAS_SMUSH_ORACLE,
    "kg_key_sameas": _KEY_SAMEAS_ORACLE,
    "owl_entailment": _OWL_ENTAILMENT_ORACLE,
    "owl_equiv_entailment": _OWL_EQUIV_ORACLE,
    # incremental maintenance must converge to the batch closure: the
    # SAME oracle checks the streamed table
    "stream_owl_maintain": _OWL_ENTAILMENT_ORACLE,
}

_SPARQL_ORACLES = {
    "sparql_select_bgp": _SPARQL_BGP_ORACLE,
    "sparql_select_bgp_stats": _SPARQL_BGP_ORACLE,
    "sparql_optional": """
WITH {cte},
nations AS (
  SELECT subj AS n, obj_value AS nname, obj_kind AS nname_kind,
         obj_lang AS nname_lang
  FROM triples WHERE pred = '{rdfs}'
),
eur AS (
  SELECT t1.subj AS n, t1.obj_value AS r
  FROM triples t1
  JOIN triples t2 ON t2.subj = t1.obj_value AND t2.pred = '{skos_pref}'
    AND t2.obj_value = 'EUROPE' AND t2.obj_kind = 'literal'
    AND t2.obj_lang IS NULL
  WHERE t1.pred = '{rel_region}'
)
SELECT DISTINCT nations.n, 'uri' AS n_kind, CAST(NULL AS VARCHAR) AS n_lang,
  nname, nname_kind, nname_lang,
  eur.r AS r,
  CASE WHEN eur.r IS NULL THEN NULL ELSE 'uri' END AS r_kind,
  CAST(NULL AS VARCHAR) AS r_lang
FROM nations LEFT JOIN eur ON eur.n = nations.n""",
    "sparql_union": """
WITH {cte}
SELECT DISTINCT subj AS s, 'uri' AS s_kind, CAST(NULL AS VARCHAR) AS s_lang,
  obj_value AS v, obj_kind AS v_kind, obj_lang AS v_lang
FROM triples WHERE pred IN ('{foaf}', '{skos_pref}')""",
    "sparql_aggregate": """
WITH {cte}
SELECT t2.obj_value AS nname, t2.obj_kind AS nname_kind,
  t2.obj_lang AS nname_lang, count(t1.subj)::BIGINT AS n_members
FROM triples t1
JOIN triples t2 ON t2.subj = t1.obj_value AND t2.pred = '{rdfs}'
WHERE t1.pred = '{rel_nation}'
GROUP BY 1, 2, 3""",
    "sparql_path_seq": """
WITH {cte}
SELECT DISTINCT t1.subj AS c, 'uri' AS c_kind, CAST(NULL AS VARCHAR) AS c_lang,
  t3.obj_value AS rname, t3.obj_kind AS rname_kind, t3.obj_lang AS rname_lang
FROM triples t1
JOIN triples t2 ON t2.subj = t1.obj_value AND t2.pred = '{rel_region}'
JOIN triples t3 ON t3.subj = t2.obj_value AND t3.pred = '{skos_pref}'
WHERE t1.pred = '{rel_nation}'""",
    "sparql_path_alt_plus": """
WITH RECURSIVE {cte},
edges AS (
  SELECT DISTINCT subj AS src, obj_value AS dst, obj_kind AS dst_kind,
         obj_lang AS dst_lang
  FROM triples WHERE pred IN ('{rel_nation}', '{rel_region}')
),
walk(src, dst, dst_kind, dst_lang) AS (
  SELECT src, dst, dst_kind, dst_lang FROM edges
  UNION
  SELECT w.src, e.dst, e.dst_kind, e.dst_lang
  FROM walk w JOIN edges e ON e.src = w.dst AND w.dst_kind != 'literal'
)
SELECT DISTINCT src AS x,
  CASE WHEN src LIKE '\\_:%' ESCAPE '\\' THEN 'bnode' ELSE 'uri' END AS x_kind,
  CAST(NULL AS VARCHAR) AS x_lang,
  dst AS y, dst_kind AS y_kind, dst_lang AS y_lang
FROM walk""",
    "sparql_path_star": """
WITH RECURSIVE {cte},
edges AS (
  SELECT DISTINCT subj AS src, obj_value AS dst, obj_kind AS dst_kind,
         obj_lang AS dst_lang
  FROM triples WHERE pred IN ('{rel_nation}', '{rel_region}')
),
walk(src, dst, dst_kind, dst_lang) AS (
  SELECT src, dst, dst_kind, dst_lang FROM edges
  UNION
  SELECT w.src, e.dst, e.dst_kind, e.dst_lang
  FROM walk w JOIN edges e ON e.src = w.dst AND w.dst_kind != 'literal'
),
terms(node, kind, lang) AS (
  SELECT DISTINCT subj,
    CASE WHEN subj LIKE '\\_:%' ESCAPE '\\' THEN 'bnode' ELSE 'uri' END,
    CAST(NULL AS VARCHAR)
  FROM triples
  UNION
  SELECT DISTINCT obj_value, obj_kind, obj_lang FROM triples
)
SELECT DISTINCT x, x_kind, x_lang, y, y_kind, y_lang FROM (
  SELECT src AS x,
    CASE WHEN src LIKE '\\_:%' ESCAPE '\\' THEN 'bnode' ELSE 'uri' END AS x_kind,
    CAST(NULL AS VARCHAR) AS x_lang,
    dst AS y, dst_kind AS y_kind, dst_lang AS y_lang
  FROM walk
  UNION
  SELECT node, kind, lang, node, kind, lang FROM terms
)""",
    "sparql_path_opt": """
WITH {cte},
terms(node, kind, lang) AS (
  SELECT DISTINCT subj,
    CASE WHEN subj LIKE '\\_:%' ESCAPE '\\' THEN 'bnode' ELSE 'uri' END,
    CAST(NULL AS VARCHAR)
  FROM triples
  UNION
  SELECT DISTINCT obj_value, obj_kind, obj_lang FROM triples
)
SELECT DISTINCT n, n_kind, n_lang, v, v_kind, v_lang FROM (
  SELECT subj AS n,
    CASE WHEN subj LIKE '\\_:%' ESCAPE '\\' THEN 'bnode' ELSE 'uri' END AS n_kind,
    CAST(NULL AS VARCHAR) AS n_lang,
    obj_value AS v, obj_kind AS v_kind, obj_lang AS v_lang
  FROM triples WHERE pred = '{skos_pref}'
  UNION
  SELECT node, kind, lang, node, kind, lang FROM terms
)""",
    "sparql_path_graph_var": """
WITH RECURSIVE quads(g, src, dst) AS (
  SELECT 'urn:graph:cust', 'urn:cust:' || c_custkey,
         'urn:nation:' || c_nationkey FROM customer
  UNION ALL
  SELECT 'urn:graph:cust', 'urn:nation:' || n_nationkey,
         'urn:region:' || n_regionkey FROM nation
  UNION ALL
  SELECT 'urn:graph:supp', 'urn:supp:' || s_suppkey,
         'urn:nation:' || s_nationkey FROM supplier
),
walk(g, src, dst) AS (
  SELECT g, src, dst FROM quads
  UNION
  SELECT w.g, w.src, e.dst
  FROM walk w JOIN quads e ON e.g = w.g AND e.src = w.dst
)
SELECT DISTINCT g, 'uri' AS g_kind, CAST(NULL AS VARCHAR) AS g_lang,
  src AS x, 'uri' AS x_kind, CAST(NULL AS VARCHAR) AS x_lang,
  dst AS y, 'uri' AS y_kind, CAST(NULL AS VARCHAR) AS y_lang
FROM walk""",
    "sparql_path_mixed": """
WITH RECURSIVE {cte},
hier_edges(src, dst) AS (
  SELECT subj, obj_value FROM triples WHERE pred = '{rel_region}'
  UNION ALL
  SELECT obj_value, subj FROM triples WHERE pred = '{rel_nation}'
),
hier(x) AS (
  SELECT dst FROM hier_edges WHERE src = 'urn:nation:0'
  UNION
  SELECT e.dst FROM hier h JOIN hier_edges e ON e.src = h.x
),
conat_edges(src, dst) AS (
  SELECT DISTINCT a.subj, b.subj
  FROM triples a JOIN triples b ON a.obj_value = b.obj_value
  WHERE a.pred = '{rel_nation}' AND b.pred = '{rel_nation}'
),
conat(x) AS (
  SELECT dst FROM conat_edges WHERE src = 'urn:cust:1'
  UNION
  SELECT e.dst FROM conat c JOIN conat_edges e ON e.src = c.x
)
SELECT DISTINCT x, 'uri' AS x_kind, CAST(NULL AS VARCHAR) AS x_lang,
       via, 'literal' AS via_kind, CAST(NULL AS VARCHAR) AS via_lang
FROM (SELECT x, 'hier' AS via FROM hier
      UNION ALL SELECT x, 'conat' AS via FROM conat)""",
    "sparql_path_inverse": """
WITH {cte}
SELECT DISTINCT t1.obj_value AS n, t1.obj_kind AS n_kind,
  t1.obj_lang AS n_lang, t1.subj AS c, 'uri' AS c_kind,
  CAST(NULL AS VARCHAR) AS c_lang
FROM triples t1
JOIN triples t2 ON t2.subj = t1.obj_value AND t2.pred = '{rdfs}'
  AND t2.obj_value = 'NATION_7' AND t2.obj_lang = 'en'
WHERE t1.pred = '{rel_nation}'""",
    "sparql_not_exists": """
WITH {cte}
SELECT DISTINCT t1.subj AS s, 'uri' AS s_kind, CAST(NULL AS VARCHAR) AS s_lang,
  t1.obj_value AS sname, t1.obj_kind AS sname_kind, t1.obj_lang AS sname_lang
FROM triples t1
JOIN triples t2 ON t2.subj = t1.subj AND t2.pred = '{rel_nation}'
WHERE t1.pred = '{foaf}' AND regexp_matches(t1.obj_value, '[05]$')
  AND NOT EXISTS (
    SELECT 1 FROM triples t3
    JOIN triples t4 ON t4.subj = t3.obj_value AND t4.pred = '{skos_pref}'
      AND t4.obj_value = 'EUROPE' AND t4.obj_kind = 'literal'
      AND t4.obj_lang IS NULL
    WHERE t3.pred = '{rel_region}' AND t3.subj = t2.obj_value)""",
    "sparql_minus": """
WITH {cte}
SELECT DISTINCT t1.subj AS n, 'uri' AS n_kind, CAST(NULL AS VARCHAR) AS n_lang,
  t1.obj_value AS nname, t1.obj_kind AS nname_kind, t1.obj_lang AS nname_lang
FROM triples t1
WHERE t1.pred = '{rdfs}'
  AND NOT EXISTS (
    SELECT 1 FROM triples t2
    JOIN triples t3 ON t3.subj = t2.obj_value AND t3.pred = '{skos_pref}'
      AND t3.obj_value = 'EUROPE' AND t3.obj_kind = 'literal'
      AND t3.obj_lang IS NULL
    WHERE t2.pred = '{rel_region}' AND t2.subj = t1.subj)""",
    "sparql_values_bind": """
WITH {cte},
vals(rname, tag) AS (VALUES ('EUROPE', 'eu'), ('ASIA', 'as'))
SELECT t.subj AS r, 'uri' AS r_kind, CAST(NULL AS VARCHAR) AS r_lang,
  t.obj_value AS rname, 'literal' AS rname_kind,
  CAST(NULL AS VARCHAR) AS rname_lang,
  v.tag AS tag, 'literal' AS tag_kind, CAST(NULL AS VARCHAR) AS tag_lang,
  t.subj AS ruri, 'literal' AS ruri_kind, CAST(NULL AS VARCHAR) AS ruri_lang
FROM triples t
JOIN vals v ON v.rname = t.obj_value
WHERE t.pred = '{skos_pref}' AND t.obj_kind = 'literal'
  AND t.obj_lang IS NULL""",
    "sparql_having": """
WITH {cte}
SELECT t2.obj_value AS nname, t2.obj_kind AS nname_kind,
  t2.obj_lang AS nname_lang, count(t1.subj)::BIGINT AS n_members
FROM triples t1
JOIN triples t2 ON t2.subj = t1.obj_value AND t2.pred = '{rdfs}'
WHERE t1.pred = '{rel_nation}'
GROUP BY 1, 2, 3
HAVING count(t1.subj) >= 64""",
    "sparql_ask": """
WITH {cte}
SELECT count(*) > 0 AS ask
FROM triples t1
JOIN triples t2 ON t2.subj = t1.obj_value AND t2.pred = '{skos_pref}'
  AND t2.obj_value = 'EUROPE' AND t2.obj_kind = 'literal'
  AND t2.obj_lang IS NULL
JOIN triples t3 ON t3.obj_value = t1.subj AND t3.pred = '{rel_nation}'
WHERE t1.pred = '{rel_region}'""",
    "sparql_describe": """
WITH {cte},
seeds AS (
  SELECT subj AS node FROM triples
  WHERE pred = '{rdfs}' AND obj_value = 'NATION_7' AND obj_lang = 'en'
)
SELECT DISTINCT t.subj, t.pred, t.obj_value, t.obj_kind, t.obj_lang
FROM triples t JOIN seeds s ON t.subj = s.node""",
    "sparql_agg_expr": """
WITH {cte}
SELECT t2.obj_value AS rname, t2.obj_kind AS rname_kind,
  t2.obj_lang AS rname_lang,
  CAST(sum(length(t3.obj_value)) AS DOUBLE) AS label_chars,
  CASE WHEN max(length(t3.obj_value)) * 1.0
            = floor(max(length(t3.obj_value)) * 1.0)
       THEN CAST(max(length(t3.obj_value)) AS VARCHAR)
       ELSE CAST(max(length(t3.obj_value)) * 1.0 AS VARCHAR) END AS longest
FROM triples t1
JOIN triples t2 ON t2.subj = t1.obj_value AND t2.pred = '{skos_pref}'
JOIN triples t3 ON t3.subj = t1.subj AND t3.pred = '{rdfs}'
WHERE t1.pred = '{rel_region}'
GROUP BY 1, 2, 3""",
    "sparql_json_encode": """
WITH {cte}
SELECT '{{"r":{{"type":"uri","value":"' || subj
       || '"}},"rname":{{"type":"literal","value":"' || obj_value
       || '"}}}}' AS binding_json
FROM triples WHERE pred = '{skos_pref}'""",
    "sparql_results_csv": """
WITH {cte}
SELECT t1.subj || ',' || t1.obj_value || ',' || t2.obj_value AS csv_line
FROM triples t1
JOIN triples t2 ON t2.subj = t1.subj AND t2.pred = '{rdfs}'
WHERE t1.pred = '{rel_region}'""",
    "sparql_results_tsv": """
WITH {cte}
SELECT '<' || t1.subj || '>' || chr(9) || '"' || t2.obj_value || '"@'
       || t2.obj_lang || chr(9) AS tsv_line
FROM triples t1
JOIN triples t2 ON t2.subj = t1.subj AND t2.pred = '{rdfs}'
WHERE t1.pred = '{rel_region}'""",
    "sparql_results_xml": """
WITH {cte}
SELECT '<result><binding name="n"><uri>' || t1.subj || '</uri></binding>'
    || '<binding name="nname"><literal xml:lang="en">' || t2.obj_value
    || '</literal></binding>'
    || '<binding name="tag"><literal>&lt;' || t2.obj_value
    || ' &amp; co&gt;</literal></binding></result>' AS xml_line
FROM triples t1
JOIN triples t2 ON t2.subj = t1.subj AND t2.pred = '{rdfs}'
WHERE t1.pred = '{rel_region}'""",
    "sparql_negated_set": """
WITH {cte}
SELECT t1.subj AS s,
  CASE WHEN t1.subj LIKE '\\_:%' ESCAPE '\\' THEN 'bnode' ELSE 'uri' END
    AS s_kind,
  CAST(NULL AS VARCHAR) AS s_lang,
  t1.obj_value AS o, t1.obj_kind AS o_kind, t1.obj_lang AS o_lang
FROM triples t1
JOIN triples t2 ON t2.subj = t1.subj AND t2.pred = '{rel_nation}'
  AND t2.obj_value = 'urn:nation:7' AND t2.obj_kind = 'uri'
WHERE t1.pred != '{rel_nation}'""",
    "sparql_arithmetic": """
WITH {cte}
SELECT obj_value AS nname, obj_kind AS nname_kind, obj_lang AS nname_lang,
  CASE WHEN length(obj_value) / 2.0 = floor(length(obj_value) / 2.0)
       THEN CAST(CAST(length(obj_value) / 2.0 AS BIGINT) AS VARCHAR)
       ELSE CAST(length(obj_value) / 2.0 AS VARCHAR) END AS halflen,
  'literal' AS halflen_kind, CAST(NULL AS VARCHAR) AS halflen_lang
FROM triples
WHERE pred = '{rdfs}' AND length(obj_value) + 2 > 10""",
    "sparql_subquery": """
WITH {cte},
cnt AS (
  SELECT obj_value AS nat, count(*) AS n FROM triples
  WHERE pred = '{rel_nation}' GROUP BY 1
)
SELECT t.obj_value AS nname, t.obj_kind AS nname_kind,
  t.obj_lang AS nname_lang,
  CAST(c.n AS VARCHAR) AS n, 'literal' AS n_kind,
  CAST(NULL AS VARCHAR) AS n_lang
FROM triples t JOIN cnt c ON c.nat = t.subj
WHERE t.pred = '{rdfs}'""",
    "sparql_update_graphs": """
WITH {cte},
quads0 AS (
  SELECT CASE WHEN subj LIKE 'urn:cust:%' THEN 'urn:g:cust'
              WHEN subj LIKE 'urn:supp:%' THEN 'urn:g:supp' END AS context,
         subj, pred, obj_value, obj_kind, obj_lang
  FROM triples),
-- MOVE GRAPH urn:g:supp TO urn:g:vendors
quads1 AS (
  SELECT CASE WHEN context = 'urn:g:supp' THEN 'urn:g:vendors'
              ELSE context END AS context,
         subj, pred, obj_value, obj_kind, obj_lang
  FROM quads0),
-- WITH urn:g:cust: DELETE names there, INSERT rdfs:label into urn:g:names
moved AS (
  SELECT subj, obj_value, obj_kind, obj_lang FROM quads1
  WHERE context = 'urn:g:cust' AND pred = '{foaf}'),
quads2 AS (
  SELECT * FROM quads1
  WHERE NOT (context IS NOT DISTINCT FROM 'urn:g:cust'
             AND pred = '{foaf}')
  UNION
  SELECT 'urn:g:names', subj, '{rdfs}', obj_value, obj_kind, obj_lang
  FROM moved),
-- INSERT DATA: one GRAPH row + one default-graph row
quads3 AS (
  SELECT * FROM quads2
  UNION
  SELECT * FROM (VALUES
    ('urn:g:meta', 'urn:ds:1', '{dcterms}', 'TPC-H quads', 'literal',
     CAST(NULL AS VARCHAR)),
    (CAST(NULL AS VARCHAR), 'urn:ds:1', '{rdfs}', 'dataset', 'literal',
     'en')) AS v(context, subj, pred, obj_value, obj_kind, obj_lang))
SELECT DISTINCT context, subj, pred, obj_value, obj_kind, obj_lang
FROM quads3""",
    "sparql_update": """
WITH {cte},
sel AS (
  SELECT subj, obj_value, obj_kind, obj_lang FROM triples
  WHERE pred = '{skos_pref}'
),
dels AS (
  SELECT subj, '{skos_pref}' AS pred, obj_value, obj_kind, obj_lang
  FROM sel
),
ins AS (
  SELECT subj, '{skos_alt}' AS pred, obj_value, obj_kind, obj_lang
  FROM sel
)
SELECT subj, pred, obj_value, obj_kind, obj_lang FROM (
  (SELECT * FROM triples EXCEPT SELECT * FROM dels)
  UNION
  SELECT * FROM ins
)""",
    "sparql_group_concat": """
WITH {cte}
SELECT t2.obj_value AS rname, t2.obj_kind AS rname_kind,
  t2.obj_lang AS rname_lang,
  string_agg(DISTINCT t3.obj_value, ', ' ORDER BY t3.obj_value) AS members,
  min(t3.obj_value) AS first
FROM triples t1
JOIN triples t2 ON t2.subj = t1.obj_value AND t2.pred = '{skos_pref}'
JOIN triples t3 ON t3.subj = t1.subj AND t3.pred = '{rdfs}'
WHERE t1.pred = '{rel_region}'
GROUP BY 1, 2, 3""",
    "sparql_scalar_funcs": """
WITH {cte}
SELECT obj_value AS rname, obj_kind AS rname_kind, obj_lang AS rname_lang,
  lower(obj_value) AS low, 'literal' AS low_kind, obj_lang AS low_lang,
  CAST(length(obj_value) AS VARCHAR) AS len, 'literal' AS len_kind,
  CAST(NULL AS VARCHAR) AS len_lang,
  CASE WHEN length(obj_value) > 4 THEN 'long' ELSE 'short' END AS tag,
  'literal' AS tag_kind, CAST(NULL AS VARCHAR) AS tag_lang,
  substr(subj, length('urn:region:') + 1) AS rkey,
  'literal' AS rkey_kind, CAST(NULL AS VARCHAR) AS rkey_lang
FROM triples
WHERE pred = '{skos_pref}'
  AND (obj_value LIKE 'A%' OR obj_value LIKE '%EUR%')""",
    "sparql_group_order_expr": """
WITH {cte},
names AS (SELECT obj_value AS n FROM triples WHERE pred = '{foaf}')
SELECT substr(n, length(n), 1) AS k, 'literal' AS k_kind,
       CAST(NULL AS VARCHAR) AS k_lang,
       count(*)::BIGINT AS cnt,
       string_agg(n, ',' ORDER BY n) AS names
FROM names GROUP BY 1""",
    "sparql_term_constructors": """
WITH {cte},
lab AS (SELECT subj AS n, obj_value AS name, obj_lang AS name_lang
        FROM triples WHERE pred = '{rdfs}'),
reg AS (SELECT subj AS n, obj_value AS r FROM triples
        WHERE pred = '{rel_region}'),
pre AS (SELECT subj AS r, obj_value AS rname FROM triples
        WHERE pred = '{skos_pref}')
SELECT lab.name AS name, 'literal' AS name_kind, lab.name_lang AS name_lang,
  pre.rname AS rname, 'literal' AS rname_kind,
  CAST(NULL AS VARCHAR) AS rname_lang,
  'http://www.w3.org/1999/02/22-rdf-syntax-ns#langString' AS dtn,
  'uri' AS dtn_kind, CAST(NULL AS VARCHAR) AS dtn_lang,
  'http://www.w3.org/2001/XMLSchema#string' AS dtr,
  'uri' AS dtr_kind, CAST(NULL AS VARCHAR) AS dtr_lang,
  'urn:dt:' || substr(reg.r, length('urn:region:') + 1) AS i,
  'uri' AS i_kind, CAST(NULL AS VARCHAR) AS i_lang,
  pre.rname AS l, 'literal' AS l_kind, 'en-us' AS l_lang
FROM lab JOIN reg ON reg.n = lab.n JOIN pre ON pre.r = reg.r""",
    "sparql_hash_funcs": """
WITH {cte}
SELECT obj_value AS rname, obj_kind AS rname_kind, obj_lang AS rname_lang,
  substr(subj, length('urn:region:') + 1) AS rkey,
  'literal' AS rkey_kind, CAST(NULL AS VARCHAR) AS rkey_lang,
  md5(obj_value) AS m, 'literal' AS m_kind, CAST(NULL AS VARCHAR) AS m_lang,
  sha256(obj_value) AS h, 'literal' AS h_kind, CAST(NULL AS VARCHAR) AS h_lang
FROM triples
WHERE pred = '{skos_pref}'
  AND regexp_matches(substr(subj, length('urn:region:') + 1),
                     '^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$')""",
    "sparql_construct": """
WITH {cte},
pairs AS (
  SELECT t1.subj AS c, t2.obj_value AS r
  FROM triples t1
  JOIN triples t2 ON t2.subj = t1.obj_value AND t2.pred = '{rel_region}'
  WHERE t1.pred = '{rel_nation}'
)
SELECT DISTINCT * FROM (
  SELECT c AS subj, 'urn:rel:inRegion' AS pred, r AS obj_value,
         'uri' AS obj_kind, CAST(NULL AS VARCHAR) AS obj_lang FROM pairs
  UNION ALL
  SELECT r, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
         'urn:type:Region', 'uri', CAST(NULL AS VARCHAR) FROM pairs
)""",
}


_GRAPH_ORACLES = {
    "graph_iterate": """
WITH {cte}
SELECT subj, pred, obj_value, obj_kind, obj_lang FROM triples""",
    "graph_connected_components": """
WITH RECURSIVE {cte},
edges AS (
  SELECT subj AS a, obj_value AS b FROM triples
  WHERE pred IN ('{rel_nation}', '{rel_region}')
),
sym AS (
  SELECT a, b FROM edges UNION SELECT b, a FROM edges
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT node, min(m) AS component FROM (
  SELECT a AS node, b AS m FROM reach
  UNION ALL
  SELECT a AS node, a AS m FROM sym
) GROUP BY node""",
    "graph_adjacency_topk": """
WITH {cte},
ranked AS (
  SELECT subj, pred, obj_value, obj_kind, obj_lang,
    row_number() OVER (PARTITION BY subj
      ORDER BY pred, obj_value, obj_kind, obj_lang NULLS FIRST) AS rnk,
    count(*) OVER (PARTITION BY subj) AS degree
  FROM triples
)
SELECT subj, CAST(rnk AS INT) AS rnk, pred, obj_value, obj_kind, obj_lang,
       CAST(degree AS BIGINT) AS degree
FROM ranked WHERE rnk <= 1""",
    "graph_merge": """
WITH {cte},
dels AS (SELECT * FROM triples WHERE pred = '{rel_region}'),
adds AS (SELECT 'urn:region:' || r_regionkey AS subj,
                '{skos_alt}' AS pred, lower(r_name) AS obj_value,
                'literal' AS obj_kind, 'en' AS obj_lang FROM region)
SELECT subj, pred, obj_value, obj_kind, obj_lang FROM (
  (SELECT * FROM triples EXCEPT SELECT * FROM dels)
  UNION
  SELECT * FROM adds
)""",
    "graph_scan_masked": """
WITH {cte}
SELECT subj, pred, obj_value, obj_kind, obj_lang FROM triples
WHERE pred = '{rel_nation}'""",
    "graph_objects": """
WITH {cte}
SELECT obj_value, obj_kind, obj_lang FROM triples
WHERE subj = 'urn:cust:1' AND pred = '{foaf}'""",
    "graph_find_labels": """
WITH {cte},
cand AS (
  SELECT subj, obj_value, obj_lang,
    CASE WHEN obj_lang = 'nl' THEN 0 WHEN obj_lang = 'en' THEN 1
         WHEN obj_lang IS NULL THEN 2 ELSE 99 END AS lang_rank,
    CASE pred WHEN '{foaf}' THEN 1 WHEN '{rdfs}' THEN 2
         WHEN '{skos_pref}' THEN 3 WHEN '{dcterms}' THEN 4
         WHEN '{skos_alt}' THEN 5 ELSE 0 END AS pred_rank
  FROM triples
  WHERE obj_kind = 'literal'
    AND pred IN ('{foaf}', '{rdfs}', '{skos_pref}', '{dcterms}', '{skos_alt}')
),
ranked AS (
  SELECT subj, obj_value, obj_lang,
    row_number() OVER (PARTITION BY subj
      ORDER BY lang_rank, pred_rank, obj_value, coalesce(obj_lang, '')) AS rn
  FROM cand WHERE lang_rank <= 2
)
SELECT subj, obj_value AS label_value, obj_lang AS label_lang
FROM ranked WHERE rn = 1""",
    "graph_bgp": """
WITH {cte}
SELECT DISTINCT
  t1.subj AS c, 'uri' AS c_kind, CAST(NULL AS VARCHAR) AS c_lang,
  t1.obj_value AS n, t1.obj_kind AS n_kind, t1.obj_lang AS n_lang,
  t2.obj_value AS r, t2.obj_kind AS r_kind, t2.obj_lang AS r_lang
FROM triples t1
JOIN triples t2 ON t2.subj = t1.obj_value AND t2.pred = '{rel_region}'
JOIN triples t3 ON t3.subj = t2.obj_value AND t3.pred = '{skos_pref}'
WHERE t1.pred = '{rel_nation}'
  AND t3.obj_value = 'EUROPE' AND t3.obj_kind = 'literal'
  AND t3.obj_lang IS NULL""",
    "graph_add_dedup": """
WITH {cte}
SELECT DISTINCT subj, pred, obj_value, obj_kind, obj_lang
FROM (SELECT * FROM triples UNION ALL SELECT * FROM triples)""",
    "graph_remove": """
WITH {cte},
added AS (SELECT DISTINCT subj, pred, obj_value, obj_kind, obj_lang
          FROM (SELECT * FROM triples UNION ALL SELECT * FROM triples)),
doomed AS (SELECT * FROM triples WHERE pred = '{rel_nation}')
SELECT a.* FROM added a
WHERE NOT EXISTS (
  SELECT 1 FROM doomed d
  WHERE a.subj IS NOT DISTINCT FROM d.subj
    AND a.pred IS NOT DISTINCT FROM d.pred
    AND a.obj_value IS NOT DISTINCT FROM d.obj_value
    AND a.obj_kind IS NOT DISTINCT FROM d.obj_kind
    AND a.obj_lang IS NOT DISTINCT FROM d.obj_lang)""",
    "graph_diff": """
WITH {cte},
after_t AS (
  SELECT * FROM triples WHERE pred <> '{rel_nation}'
  UNION ALL
  SELECT subj, pred || '-v2' AS pred, obj_value, obj_kind, obj_lang
  FROM triples WHERE pred = '{rel_nation}')
SELECT a.*, '+' AS op FROM after_t a
WHERE NOT EXISTS (
  SELECT 1 FROM triples b
  WHERE a.subj IS NOT DISTINCT FROM b.subj
    AND a.pred IS NOT DISTINCT FROM b.pred
    AND a.obj_value IS NOT DISTINCT FROM b.obj_value
    AND a.obj_kind IS NOT DISTINCT FROM b.obj_kind
    AND a.obj_lang IS NOT DISTINCT FROM b.obj_lang)
UNION ALL
SELECT b.*, '-' AS op FROM triples b
WHERE NOT EXISTS (
  SELECT 1 FROM after_t a
  WHERE a.subj IS NOT DISTINCT FROM b.subj
    AND a.pred IS NOT DISTINCT FROM b.pred
    AND a.obj_value IS NOT DISTINCT FROM b.obj_value
    AND a.obj_kind IS NOT DISTINCT FROM b.obj_kind
    AND a.obj_lang IS NOT DISTINCT FROM b.obj_lang)""",
    "graph_in_degree": """
WITH {cte}
SELECT obj_value, obj_kind, count(DISTINCT subj) AS in_degree
FROM triples
WHERE pred != 'http://www.w3.org/1999/02/22-rdf-syntax-ns#subject'
GROUP BY obj_value, obj_kind""",
    "graph_literal_values": """
WITH {cte},
ranked AS (
  SELECT subj, pred, obj_value,
    row_number() OVER (PARTITION BY subj, pred
      ORDER BY obj_value, coalesce(obj_lang, '')) AS rn
  FROM triples WHERE obj_kind = 'literal' AND obj_value != ''
)
SELECT subj, pred, obj_value AS literal_value FROM ranked WHERE rn = 1""",
}


# ==========================================================================
# text / dedup / similarity queries over documents + embeddings
# ==========================================================================

def q_text_token_count(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens"))


def q_text_fingerprint(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_read(spark, sf_dir, "documents"))


def q_text_simhash(spark, sf_dir):
    return simhash_fingerprints(_read(spark, sf_dir, "documents"))


def q_text_lang_id(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_guess"))


def q_text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing any 13-gram with
    the (doc_id % 10 == 3) eval slice.  Eval n-grams are DISTINCT and
    broadcast; corpus n-grams travel as xxhash64 fingerprints, never
    strings; hit counts come from one partial+final hash-agg."""
    from .textops.decontaminate import decontaminate

    docs = _read(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 3)
    eval_set = docs.filter(F.col("doc_id") % 10 == 3)
    return decontaminate(corpus, eval_set, n=13)


def q_text_pii_redact(spark, sf_dir):
    """PII scrubbing: sequential regexp_replace chain (email -> SSN ->
    IPv4 -> phone) + per-class detection counts, all whole-stage-codegen
    column expressions.  PII is planted deterministically from doc_id so
    the oracle synthesizes the identical input."""
    from .textops.redact import redact_pii

    docs = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 7 == 0, F.concat(
                F.lit(" contact user"), did.cast("string"),
                F.lit("@example.com now"))).otherwise(F.lit("")),
            F.when(did % 11 == 0, F.concat(
                F.lit(" ssn 123-45-"),
                F.lpad((did % 10000).cast("string"), 4, "0")))
            .otherwise(F.lit("")),
            F.when(did % 13 == 0, F.concat(
                F.lit(" ip 10.0."), (did % 256).cast("string"),
                F.lit(".7 port"))).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.concat(
                F.lit(" call +1 555 867 53"),
                F.lpad((did % 100).cast("string"), 2, "0")))
            .otherwise(F.lit("")),
        ).alias("text"))
    out = redact_pii(aug)
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ssn").cast("long").alias("n_ssn"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_pii").cast("long").alias("n_pii"),
        "redacted")


def q_text_quality(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return quality_features(docs.select("doc_id", "text")).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.col("punct_count").cast("long").alias("punct_count"),
        F.col("en_stopwords").cast("long").alias("en_stopwords"),
        F.col("quality_score").cast("long").alias("quality_score"))


def q_graph_contains(spark, sf_dir):
    """O8 batch existence: masked membership probes resolved in ONE scan
    of the triples relation (probes broadcast; null = wildcard position),
    reference ``__contains__`` graph.py:99-100."""
    probes = local_frame(
        spark,
        [(1, "urn:cust:1", FOAF_NAME, None),
         (2, None, REL_NATION, None),
         (3, "urn:nope:1", None, None),
         (4, None, None, "EUROPE"),
         (5, "urn:region:0", SKOS_PREFLABEL, "AFRICA")],
        "probe_id int, p_subj string, p_pred string, p_obj string")
    t = tpch_triples(spark, sf_dir)
    cond = (
        (F.col("p_subj").isNull() | (F.col("subj") == F.col("p_subj")))
        & (F.col("p_pred").isNull() | (F.col("pred") == F.col("p_pred")))
        & (F.col("p_obj").isNull() | (F.col("obj_value") == F.col("p_obj")))
    )
    found = (
        t.join(F.broadcast(probes), cond)
        .select("probe_id").dropDuplicates(["probe_id"])
        .withColumn("found", F.lit(True))
    )
    return (
        probes.join(found, "probe_id", "left")
        .select("probe_id", F.coalesce(F.col("found"), F.lit(False)).alias("found"))
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(
        _read(spark, sf_dir, "documents"), threshold=0.6)


def q_dedup_minhash(spark, sf_dir):
    return minhash_dedup_pairs(
        _read(spark, sf_dir, "documents"), k=16, bands=8, threshold=0.6,
        hash_fn="md5")


def q_dedup_clusters(spark, sf_dir):
    """The per-document fuzzy-dedup DECISION: MinHash pairs -> connected
    components -> min-id canonical per cluster, keep flag for every doc
    (``textops/dedup.py::minhash_dedup_clusters``).  Oracle: the pair CTE
    chain shared with ``dedup_minhash`` + a recursive-CTE transitive
    closure — fully independent of the Spark components code."""
    from .textops.dedup import minhash_dedup_clusters

    return minhash_dedup_clusters(
        _read(spark, sf_dir, "documents"), k=16, bands=8, threshold=0.6,
        hash_fn="md5")


def q_dedup_simhash_pairs(spark, sf_dir):
    return simhash_dup_pairs(
        _read(spark, sf_dir, "documents"), max_hamming=3, bands=4,
    ).withColumn("hamming", F.col("hamming").cast("long"))


def q_embed_cosine_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id")
    return cosine_topk(emb, queries, k=5).withColumn(
        "rank", F.col("rank").cast("long"))


def _simhash_bit_exprs(n_bits: int = 32) -> str:
    return ", ".join(
        "CASE WHEN list_sum(list_transform(toks, x -> CASE WHEN "
        "substr(md5(x), %d, 1) IN ('8','9','a','b','c','d','e','f') "
        "THEN 1 ELSE -1 END)) >= 0 THEN '1' ELSE '0' END" % (j + 1)
        for j in range(n_bits))


def _simhash_sql(n_bits: int = 32) -> str:
    return (
        "WITH t AS (SELECT doc_id, %s AS toks FROM documents) "
        "SELECT doc_id, concat(%s) AS simhash FROM t"
        % (_NORM_TOKS, _simhash_bit_exprs(n_bits)))


def _decontaminate_sql(n: int = 13) -> str:
    """DuckDB twin of q_text_decontaminate: string n-grams (the Spark
    side joins on xxhash64 fingerprints; identical counts absent a
    64-bit collision, which at sf scales is ~10^-8)."""
    return """
WITH toks AS (
  SELECT doc_id, %s AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+%d], ' ') AS g
  FROM toks, UNNEST(generate_series(1, greatest(len(t) - %d, 0))) AS u(i)),
ev AS (SELECT DISTINCT g FROM grams WHERE doc_id %% 10 = 3),
hits AS (
  SELECT doc_id, count(*) AS n_hits
  FROM grams JOIN ev USING (g)
  WHERE doc_id %% 10 != 3 GROUP BY doc_id)
SELECT d.doc_id, COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id %% 10 != 3""" % (_TOKS, n - 1, n - 1)


def _pii_redact_sql() -> str:
    """DuckDB twin of q_text_pii_redact: the same planted PII and the
    same SEQUENTIAL replace chain, built from the shared PII_PATTERNS
    constants so the two sides cannot drift."""
    from .textops.redact import PII_PATTERNS

    sql = """
WITH s0 AS (
  SELECT doc_id,
    text ||
    CASE WHEN doc_id % 7 = 0
         THEN ' contact user' || doc_id || '@example.com now' ELSE '' END ||
    CASE WHEN doc_id % 11 = 0
         THEN ' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         ELSE '' END ||
    CASE WHEN doc_id % 13 = 0
         THEN ' ip 10.0.' || (doc_id % 256) || '.7 port' ELSE '' END ||
    CASE WHEN doc_id % 5 = 0
         THEN ' call +1 555 867 53' || lpad((doc_id % 100)::VARCHAR, 2, '0')
         ELSE '' END AS t0
  FROM documents)"""
    prev = "t0"
    for i, (name, pat, repl) in enumerate(PII_PATTERNS):
        cur = "t%d" % (i + 1)
        sql += """,
s%d AS (
  SELECT *, len(regexp_extract_all(%s, '%s')) AS n_%s,
         regexp_replace(%s, '%s', '%s', 'g') AS %s
  FROM s%d)""" % (i + 1, prev, pat, name, prev, pat, repl, cur, i)
        prev = cur
    names = [name for name, _, _ in PII_PATTERNS]
    sql += """
SELECT doc_id, %s, %s AS n_pii, %s AS redacted FROM s%d""" % (
        ", ".join("n_%s::BIGINT AS n_%s" % (n, n) for n in names),
        "(" + " + ".join("n_%s" % n for n in names) + ")::BIGINT",
        prev, len(PII_PATTERNS))
    return sql


def _lang_id_sql() -> str:
    score_exprs = ", ".join(
        "len(list_filter(%s, x -> x IN (%s))) AS s_%s"
        % (_TOKS, ", ".join("'%s'" % w for w in LANG_STOPWORDS[lang]), lang)
        for lang in LANG_PRIORITY)
    mx = "greatest(%s)" % ", ".join("s_%s" % lang for lang in LANG_PRIORITY)
    winner = " ".join(
        "WHEN s_%s = mx THEN '%s'" % (lang, lang) for lang in LANG_PRIORITY)
    return (
        "WITH s AS (SELECT doc_id, %s FROM documents), "
        "m AS (SELECT *, %s AS mx FROM s) "
        "SELECT doc_id, CASE WHEN mx >= 1 THEN (CASE %s END) "
        "ELSE 'und' END AS lang_guess FROM m" % (score_exprs, mx, winner))


def _quality_sql() -> str:
    en = ", ".join("'%s'" % w for w in LANG_STOPWORDS["en"])
    return """
WITH f AS (
  SELECT doc_id,
    len({toks}) AS n_tokens,
    len(list_distinct({toks})) AS n_distinct,
    length(text) AS chars,
    length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS punct_count,
    len(list_filter({toks}, x -> x IN ({en}))) AS en_stopwords
  FROM documents)
SELECT doc_id, n_tokens, n_distinct, punct_count, en_stopwords,
  (CASE WHEN n_tokens >= 10 THEN 1 ELSE 0 END
   + CASE WHEN n_tokens <= 5000 THEN 1 ELSE 0 END
   + CASE WHEN n_distinct * 2 >= n_tokens THEN 1 ELSE 0 END
   + CASE WHEN punct_count * 10 <= chars THEN 1 ELSE 0 END
   + CASE WHEN en_stopwords >= 1 THEN 1 ELSE 0 END)::BIGINT AS quality_score
FROM f""".format(toks=_TOKS, en=en)


def _ngram_jaccard_sql(threshold: float = 0.6, cap: int = 50) -> str:
    # mirrors the count-based prefix-filtered set-similarity join in
    # textops.dedup: candidates from each doc's rarest-prefix shingles
    # (rank by global (n_docs, shingle); prefix = n_sh - floor(t*n_sh)+1;
    # ::DOUBLE so the floor sees the same IEEE product Spark computes),
    # intersection counted over the full index, |A u B| = na + nb - inter.
    # Threshold on the UNROUNDED jaccard, round only in the projection —
    # same order of operations as the Spark operator.
    return """
WITH sh AS (SELECT doc_id AS id, {sh} AS shingles FROM documents),
inv AS (SELECT id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT id, count(*) AS n_sh FROM inv GROUP BY id),
invf AS (SELECT *, count(*) OVER (PARTITION BY shingle) AS n_docs FROM inv),
ranked AS (SELECT *, row_number() OVER (PARTITION BY id
             ORDER BY n_docs, shingle) AS rnk FROM invf),
prefix AS (SELECT ranked.id, shingle FROM ranked JOIN sizes USING (id)
           WHERE rnk <= n_sh - floor({thr}::DOUBLE * n_sh) + 1
             AND n_docs <= {cap}),
cand AS (SELECT DISTINCT l.id AS a, r.id AS b
         FROM prefix l JOIN prefix r ON l.shingle = r.shingle AND l.id < r.id),
shared AS (
  SELECT cand.a, cand.b, count(*) AS inter
  FROM cand
  JOIN inv li ON li.id = cand.a
  JOIN inv ri ON ri.id = cand.b AND ri.shingle = li.shingle
  GROUP BY cand.a, cand.b),
j AS (
  SELECT shared.a, shared.b,
    inter / (sa.n_sh + sb.n_sh - inter)::DOUBLE AS jaccard
  FROM shared JOIN sizes sa ON sa.id = shared.a
              JOIN sizes sb ON sb.id = shared.b)
SELECT a, b, round(jaccard, 4) AS jaccard FROM j
WHERE jaccard >= {thr}""".format(
        sh=_SHINGLES, cap=cap, thr=threshold)


def _minhash_ctes(k: int = 16, bands: int = 8) -> str:
    # count-based verification (same formula as the Spark operator:
    # inter from the inverted index, union = na + nb - inter); the final
    # relation `j` carries the UNROUNDED jaccard so consumers threshold
    # before rounding, mirroring the Spark order of operations
    rows = k // bands
    sig = ", ".join(
        "coalesce(list_min(list_transform(shingles, "
        "x -> substr(md5(x || '#%d'), 1, 16))), '~')" % i
        for i in range(k))
    band_rows = " UNION ALL ".join(
        "SELECT id, %d AS band_id, %s AS band_key FROM sig"
        % (b, " || '|' || ".join("s[%d]" % (b * rows + r + 1) for r in range(rows)))
        for b in range(bands))
    return """sh AS (SELECT doc_id AS id, {sh} AS shingles FROM documents),
inv AS (SELECT id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT id, count(*) AS n_sh FROM inv GROUP BY id),
sig AS (SELECT id, shingles, [{sig}] AS s FROM sh),
banded AS ({band_rows}),
cand AS (SELECT DISTINCT l.id AS a, r.id AS b
         FROM banded l JOIN banded r
           ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.id < r.id),
shared AS (
  SELECT cand.a, cand.b, count(*) AS inter
  FROM cand
  JOIN inv li ON li.id = cand.a
  JOIN inv ri ON ri.id = cand.b AND ri.shingle = li.shingle
  GROUP BY cand.a, cand.b),
j AS (SELECT shared.a, shared.b,
        inter / (sa.n_sh + sb.n_sh - inter)::DOUBLE AS jaccard
      FROM shared JOIN sizes sa ON sa.id = shared.a
                  JOIN sizes sb ON sb.id = shared.b)""".format(
        sh=_SHINGLES, sig=sig, band_rows=band_rows)


def _minhash_sql(k: int = 16, bands: int = 8, threshold: float = 0.6) -> str:
    return """
WITH {ctes}
SELECT a, b, round(jaccard, 4) AS jaccard FROM j
WHERE jaccard >= {thr}""".format(ctes=_minhash_ctes(k, bands), thr=threshold)


def _minhash_clusters_sql(k: int = 16, bands: int = 8,
                          threshold: float = 0.6) -> str:
    # pairs -> transitive closure (recursive CTE) -> min-id canonical;
    # docs in no pair are their own canonical
    return """
WITH RECURSIVE {ctes},
pairs AS (SELECT a, b FROM j WHERE jaccard >= {thr}),
sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
comp AS (
  SELECT node, min(m) AS component FROM (
    SELECT a AS node, b AS m FROM reach
    UNION ALL
    SELECT a AS node, a AS m FROM sym
  ) GROUP BY node)
SELECT d.doc_id, coalesce(c.component, d.doc_id) AS canonical_id,
       coalesce(c.component, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id""".format(
        ctes=_minhash_ctes(k, bands), thr=threshold)


def _simhash_pairs_sql(n_bits: int = 32, bands: int = 4,
                       max_hamming: int = 3) -> str:
    width = n_bits // bands
    block_rows = " UNION ALL ".join(
        "SELECT doc_id, simhash, %d AS block_id, substr(simhash, %d, %d) AS block FROM fp"
        % (b, b * width + 1, width)
        for b in range(bands))
    return """
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
fp AS (SELECT doc_id, concat({bits}) AS simhash FROM t),
blocks AS ({block_rows}),
cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
                l.simhash AS h_a, r.simhash AS h_b
         FROM blocks l JOIN blocks r
           ON l.block_id = r.block_id AND l.block = r.block
              AND l.doc_id < r.doc_id),
h AS (SELECT a, b,
        len(list_filter(range(1, {n1}),
            i -> substr(h_a, i, 1) != substr(h_b, i, 1))) AS hamming
      FROM cand)
SELECT a, b, hamming FROM h WHERE hamming <= {mh}""".format(
        toks=_NORM_TOKS, bits=_simhash_bit_exprs(n_bits),
        block_rows=block_rows, n1=n_bits + 1, mh=max_hamming)


def _lsh_topk_sql(k: int = 5, n_queries: int = 8, dim: int = 64,
                  n_planes: int = 8, bands: int = 4) -> str:
    """Sign-LSH top-k oracle: the ±1 hyperplane matrix is deterministic
    (sha1-derived, textops.similarity.plane_signs), so it inlines into the
    SQL as literal arrays — bit-identical bucketing both sides."""
    from .textops.similarity import plane_signs

    signs = plane_signs(n_planes, dim)
    width = n_planes // bands

    def sig_expr(vec: str) -> str:
        bits = []
        for p in range(n_planes):
            arr = "[" + ", ".join("%.1f" % s for s in signs[p]) + "]::DOUBLE[]"
            bits.append(
                "CASE WHEN list_sum(list_transform(range(1, {d1}), "
                "i -> {v}[i]::DOUBLE * ({arr})[i])) >= 0 "
                "THEN '1' ELSE '0' END".format(d1=dim + 1, v=vec, arr=arr))
        return "concat(%s)" % ", ".join(bits)

    band_rows_q = " UNION ALL ".join(
        "SELECT query_id, qv, %d AS band_id, substr(sig, %d, %d) AS band_bits FROM qsig"
        % (b, b * width + 1, width) for b in range(bands))
    band_rows_c = " UNION ALL ".join(
        "SELECT neighbor_id, cv, %d AS band_id, substr(sig, %d, %d) AS band_bits FROM csig"
        % (b, b * width + 1, width) for b in range(bands))
    dot = ("list_sum(list_transform(range(1, {d1}), "
           "i -> qv[i]::DOUBLE * cv[i]::DOUBLE))").format(d1=dim + 1)
    nq = ("sqrt(list_sum(list_transform(range(1, {d1}), "
          "i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))").format(d1=dim + 1)
    nc = ("sqrt(list_sum(list_transform(range(1, {d1}), "
          "i -> cv[i]::DOUBLE * cv[i]::DOUBLE)))").format(d1=dim + 1)
    return """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {nq_lim}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
qsig AS (SELECT query_id, qv, {qsig} AS sig FROM q),
csig AS (SELECT neighbor_id, cv, {csig} AS sig FROM c),
qb AS ({band_rows_q}),
cb AS ({band_rows_c}),
cand AS (SELECT DISTINCT qb.query_id, qb.qv, cb.neighbor_id, cb.cv
         FROM qb JOIN cb USING (band_id, band_bits)
         WHERE qb.query_id != cb.neighbor_id),
scored AS (SELECT query_id, neighbor_id,
                  round({dot} / ({nq} * {nc}), 6) AS cos FROM cand),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= {k}""".format(
        nq_lim=n_queries, qsig=sig_expr("qv"), csig=sig_expr("cv"),
        band_rows_q=band_rows_q, band_rows_c=band_rows_c,
        dot=dot, nq=nq, nc=nc, k=k)


def _ivf_topk_sql(k: int = 5, n_queries: int = 8, dim: int = 64,
                  n_pivots: int = 8, probes: int = 2) -> str:
    """IVF-flat oracle: the deterministic pivot matrix and its norms
    inline as literals (repr precision -> bit-identical doubles), the
    same sequential-fold arithmetic as the Spark side."""
    import math

    from .textops.similarity import ivf_pivots

    pivots = ivf_pivots(n_pivots, dim)
    norms = [math.sqrt(sum(x * x for x in p)) for p in pivots]
    pv = "[" + ", ".join(
        "[" + ", ".join(repr(x) for x in p) + "]" for p in pivots
    ) + "]::DOUBLE[][]"
    nm = "[" + ", ".join(repr(n) for n in norms) + "]::DOUBLE[]"

    def scores(vec: str) -> str:
        return (
            "list_transform(range(1, {p1}), p -> "
            "list_sum(list_transform(range(1, {d1}), "
            "i -> {v}[i]::DOUBLE * ({pv})[p][i])) / ({nm})[p])"
        ).format(p1=n_pivots + 1, d1=dim + 1, v=vec, pv=pv, nm=nm)

    dot = ("list_sum(list_transform(range(1, {d1}), "
           "i -> qv[i]::DOUBLE * cv[i]::DOUBLE))").format(d1=dim + 1)
    nq = ("sqrt(list_sum(list_transform(range(1, {d1}), "
          "i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))").format(d1=dim + 1)
    nc = ("sqrt(list_sum(list_transform(range(1, {d1}), "
          "i -> cv[i]::DOUBLE * cv[i]::DOUBLE)))").format(d1=dim + 1)
    return """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {nq_lim}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
cs AS (SELECT neighbor_id, cv, {cscores} AS scores FROM c),
cb AS (SELECT neighbor_id, cv,
         list_position(scores, list_max(scores)) AS bucket FROM cs),
qs AS (SELECT query_id, qv, {qscores} AS scores FROM q),
qb AS (SELECT query_id, qv, CAST(u.p AS INT) AS bucket, scores[u.p] AS score
       FROM qs CROSS JOIN unnest(range(1, {p1})) AS u(p)),
qbr AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, bucket) AS rn FROM qb),
probe AS (SELECT query_id, qv, bucket FROM qbr WHERE rn <= {probes}),
cand AS (SELECT DISTINCT probe.query_id, probe.qv, cb.neighbor_id, cb.cv
         FROM probe JOIN cb USING (bucket)
         WHERE probe.query_id != cb.neighbor_id),
scored AS (SELECT query_id, neighbor_id,
             round({dot} / ({nq} * {nc}), 6) AS cos FROM cand),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= {k}""".format(
        nq_lim=n_queries, cscores=scores("cv"), qscores=scores("qv"),
        p1=n_pivots + 1, probes=probes, dot=dot, nq=nq, nc=nc, k=k)


def _cosine_topk_sql(k: int = 5, n_queries: int = 8, dim: int = 64) -> str:
    dot = ("list_sum(list_transform(range(1, {d1}), "
           "i -> qv[i]::DOUBLE * cv[i]::DOUBLE))").format(d1=dim + 1)
    nq = ("sqrt(list_sum(list_transform(range(1, {d1}), "
          "i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))").format(d1=dim + 1)
    nc = ("sqrt(list_sum(list_transform(range(1, {d1}), "
          "i -> cv[i]::DOUBLE * cv[i]::DOUBLE)))").format(d1=dim + 1)
    return """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {nq_lim}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, round({dot} / ({nq} * {nc}), 6) AS cos
  FROM q, c WHERE query_id != neighbor_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= {k}""".format(
        nq_lim=n_queries, dot=dot, nq=nq, nc=nc, k=k)


def _ivf_kmeans_sql(k: int = 5, n_queries: int = 16, n_pivots: int = 8,
                    n_iter: int = 2, probes: int = 2,
                    scale: int = 1 << 20) -> str:
    """Trained-IVF oracle: the SAME fixed-point Lloyd algorithm as
    ``textops.kmeans`` written as chained CTEs — exact int64 arithmetic
    on the 2^-20 grid makes the iterative training order-independent,
    so DuckDB reproduces the distributed result bit-for-bit (see the
    kmeans module docstring for the headroom audit; every dot product
    stays below 2^48, exactly representable in list_dot_product's
    DOUBLE).  ``//`` in DuckDB truncates toward zero, matching the
    operator's _trunc_div."""
    def assign(src: str, cents: str, name: str) -> str:
        return """
{name} AS (
  SELECT id, v, bucket FROM (
    SELECT e.id, e.v, p.bucket,
           row_number() OVER (PARTITION BY e.id ORDER BY
             list_dot_product(p.c, p.c) - 2 * list_dot_product(e.v, p.c),
             p.bucket) AS rn
    FROM {src} e CROSS JOIN {cents} p) WHERE rn = 1)""".format(
            name=name, src=src, cents=cents)

    steps = []
    prev = "c0"
    for i in range(1, n_iter + 1):
        steps.append(assign("emb", prev, "a%d" % i))
        steps.append("""
s{i} AS (
  SELECT bucket, pos, CAST(sum(val) AS BIGINT) AS s, count(*) AS n
  FROM (SELECT bucket, unnest(v) AS val, generate_subscripts(v, 1) AS pos
        FROM a{i})
  GROUP BY bucket, pos),
c{i} AS (
  SELECT p.bucket,
         CASE WHEN count(s.pos) = 0 THEN any_value(p.c)
              ELSE list(s.s // s.n ORDER BY s.pos) END AS c
  FROM {prev} p LEFT JOIN s{i} s USING (bucket) GROUP BY p.bucket)""".format(
            i=i, prev=prev))
        prev = "c%d" % i
    steps.append(assign("emb", prev, "af"))
    return """
WITH emb AS (
  SELECT vec_id AS id,
         list_transform(embedding,
           x -> CAST(floor(x * {scale}.0 + 0.5) AS BIGINT)) AS v
  FROM embeddings),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY id) AS INTEGER) AS bucket, v AS c
  FROM emb QUALIFY row_number() OVER (ORDER BY id) <= {n_pivots}),{steps},
qv AS (SELECT id AS query_id, v AS q FROM emb WHERE id < {n_queries}),
qp AS (
  SELECT query_id, bucket FROM (
    SELECT q.query_id, p.bucket,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_dot_product(p.c, p.c) - 2 * list_dot_product(q.q, p.c),
             p.bucket) AS rn
    FROM qv q CROSS JOIN {final} p) WHERE rn <= {probes}),
cand AS (
  SELECT qp.query_id, a.id AS neighbor_id,
         CAST(list_dot_product(a.v, a.v)
              - 2 * list_dot_product(a.v, q.q) AS BIGINT) AS dist
  FROM qp JOIN af a USING (bucket)
  JOIN qv q ON q.query_id = qp.query_id
  WHERE a.id != qp.query_id)
SELECT query_id, neighbor_id, dist, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY dist, neighbor_id) AS rank
  FROM cand) WHERE rank <= {k}""".format(
        scale=scale, n_pivots=n_pivots, n_queries=n_queries,
        probes=probes, k=k, final=prev,
        steps=",".join(steps))


# ==========================================================================
# events sessionization (window functions) + pricing summary (agg)
# ==========================================================================

SESSION_GAP_US = 1800 * 1_000_000


def q_events_sessions(spark, sf_dir):
    from pyspark.sql import Window

    # timestampdiff over TIMESTAMP_NTZ is session-timezone-independent
    # (a plain unix_micros(cast) would shift with spark.sql.session.timeZone
    # and diverge from DuckDB's epoch_us on non-UTC driver sessions)
    e = _read(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.expr("timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)").alias("tsu"))
    w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    flagged = e.withColumn(
        "new_s",
        F.when(
            F.lag("tsu").over(w).isNull()
            | ((F.col("tsu") - F.lag("tsu").over(w)) > SESSION_GAP_US),
            F.lit(1)).otherwise(F.lit(0)))
    sess = flagged.withColumn(
        "session_idx",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("tsu").alias("first_ts"),
        F.max("tsu").alias("last_ts"))


_EVENTS_SESSIONS_SQL = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
lagged AS (SELECT user_id, tsu,
  lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS prev
  FROM e),
flagged AS (SELECT user_id, tsu,
  CASE WHEN prev IS NULL OR tsu - prev > {gap} THEN 1 ELSE 0 END AS new_s
  FROM lagged),
sess AS (SELECT user_id, tsu,
  (sum(new_s) OVER (PARTITION BY user_id ORDER BY tsu
    ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
  FROM flagged)
SELECT user_id, session_idx, count(*) AS n_events,
       min(tsu) AS first_ts, max(tsu) AS last_ts
FROM sess GROUP BY user_id, session_idx""".format(gap=SESSION_GAP_US)


_TSU = ("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")


def _events_micros(spark, sf_dir):
    return _read(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value",
        F.expr(_TSU).alias("tsu"))


def q_events_asof_signup(spark, sf_dir):
    """As-of join: each purchase picks up the value of the user's most
    recent signup at-or-before it (union-window implementation)."""
    from .operators.analytics import as_of_join

    e = _events_micros(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "tsu", "event_id", "value")
    signups = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "tsu")
        .agg(F.min_by("value", "event_id").alias("value"))
    )
    return as_of_join(purchases, signups, key="user_id", ts="tsu",
                      value_cols=["value"])


def q_events_range_hot_hours(spark, sf_dir):
    """Range join: purchases falling inside hour intervals that saw >= 6
    error events (broadcast strategy; bucketized twin tested in pytest)."""
    from .operators.analytics import range_join_broadcast

    e = _events_micros(spark, sf_dir)
    hour = 3600 * 1_000_000
    hot = (
        e.filter(F.col("event_type") == "error")
        .withColumn("hstart", F.expr("(tsu div %d) * %d" % (hour, hour)))
        .groupBy("hstart").agg(F.count("*").alias("n_errors"))
        .filter(F.col("n_errors") >= 6)
        .withColumn("hend", F.col("hstart") + hour)
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "tsu")
    return range_join_broadcast(purchases, hot, "tsu", "hstart", "hend").select(
        "event_id", "hstart", "n_errors")


def q_events_range_hot_hours_bucketized(spark, sf_dir):
    """Range join, BUCKETIZED scale strategy (same semantics/oracle as
    the broadcast twin: shuffle keyed on fixed-width time buckets, cost
    O(rows-in-bucket x intervals-touching-bucket))."""
    from .operators.analytics import range_join_bucketized

    e = _events_micros(spark, sf_dir)
    hour = 3600 * 1_000_000
    hot = (
        e.filter(F.col("event_type") == "error")
        .withColumn("hstart", F.expr("(tsu div %d) * %d" % (hour, hour)))
        .groupBy("hstart").agg(F.count("*").alias("n_errors"))
        .filter(F.col("n_errors") >= 6)
        .withColumn("hend", F.col("hstart") + hour)
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "tsu")
    return range_join_bucketized(
        purchases, hot, "tsu", "hstart", "hend",
        bucket_width=15 * 60 * 1_000_000).select(
        "event_id", "hstart", "n_errors")


def q_pricing_pivot(spark, sf_dir):
    """Pivot: sum(qty) by returnflag x linestatus (pinned columns)."""
    from .operators.analytics import pivot_sum

    li = _read(spark, sf_dir, "lineitem")
    out = pivot_sum(li, "l_returnflag", "l_linestatus", ["O", "F"],
                    F.col("l_quantity").cast("decimal(18,2)"))
    return out.select(
        "l_returnflag",
        F.col("O").cast("double").alias("qty_o"),
        F.col("F").cast("double").alias("qty_f"))


def q_pricing_cube(spark, sf_dir):
    """CUBE over (returnflag, linestatus) with counts (NULL = rollup)."""
    from .operators.analytics import cube_counts

    return cube_counts(
        _read(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus"])


def q_events_quantiles(spark, sf_dir):
    """Exact interpolated quartiles of value per event type."""
    from .operators.analytics import group_quantiles

    return group_quantiles(
        _events_micros(spark, sf_dir), "event_type", "value",
        [0.25, 0.5, 0.75])


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape; sums over decimal(18,2) casts so accumulation is
    exact and order-independent (bit-identical to the SQL oracle), doubles
    only at the very end."""
    # NTZ literal: the cutoff must not shift with the session timezone
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.expr("TIMESTAMP_NTZ '1998-09-02 00:00:00'"))
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    disc_price = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(18,2)") + dec("l_tax"))
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).alias("sq"),
        F.sum(dec("l_extendedprice")).alias("sbp"),
        F.sum(disc_price).alias("sdp"),
        F.sum(charge).alias("sc"),
        F.count("*").alias("count_order"))
    return agg.select(
        "l_returnflag", "l_linestatus",
        F.col("sq").cast("double").alias("sum_qty"),
        F.col("sbp").cast("double").alias("sum_base_price"),
        F.round(F.col("sdp"), 2).cast("double").alias("sum_disc_price"),
        F.round(F.col("sc"), 2).cast("double").alias("sum_charge"),
        F.round(F.col("sq").cast("double") / F.col("count_order"), 4).alias("avg_qty"),
        F.round(F.col("sbp").cast("double") / F.col("count_order"), 4).alias("avg_price"),
        "count_order")


_PRICING_SQL = """
WITH li AS (
  SELECT l_returnflag, l_linestatus,
    l_quantity::DECIMAL(18,2) AS qty,
    l_extendedprice::DECIMAL(18,2) AS ep,
    l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)) AS dp,
    l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))
      * (1::DECIMAL(18,2) + l_tax::DECIMAL(18,2)) AS ch
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'),
agg AS (
  SELECT l_returnflag, l_linestatus, sum(qty) AS sq, sum(ep) AS sbp,
         sum(dp) AS sdp, sum(ch) AS sc, count(*) AS count_order
  FROM li GROUP BY l_returnflag, l_linestatus)
SELECT l_returnflag, l_linestatus,
  sq::DOUBLE AS sum_qty, sbp::DOUBLE AS sum_base_price,
  round(sdp, 2)::DOUBLE AS sum_disc_price, round(sc, 2)::DOUBLE AS sum_charge,
  round(sq::DOUBLE / count_order, 4) AS avg_qty,
  round(sbp::DOUBLE / count_order, 4) AS avg_price,
  count_order
FROM agg"""


# ==========================================================================
# source/sink operator queries (SURVEY.md §2.2-2.3: S1-S4, K1, K3)
# ==========================================================================

def q_rdf_ingest_dir(spark, sf_dir):
    """S2/S3: multi-source RDF/XML directory ingest (reference
    ``GraphComponent``/``makeGraph``, graphcomponent.py:40-80) — fixture
    docs parsed per-document inside mapInPandas; oracle = VALUES relation
    of the hand-transcribed expected triples."""
    from .sources.driver_fixtures import RDF_DOCS, write_fixture_dir
    from .sources.rdf_source import read_rdfxml_triples

    return read_rdfxml_triples(spark, write_fixture_dir(RDF_DOCS))


def q_nt_ingest(spark, sf_dir):
    """S1 (.nt branch): N-Triples line parse — the content-type path the
    reference declares but leaves dead (graphcomponent.py:68-74)."""
    from .sources.driver_fixtures import NT_DOCS, write_fixture_dir
    from .sources.rdf_source import read_ntriples_triples

    return read_ntriples_triples(spark, write_fixture_dir(NT_DOCS))


def q_ttl_ingest(spark, sf_dir):
    """S1 (.ttl branch, engine extension): Turtle document parse — the
    most common RDF serialization in the wild; per-document mapInPandas
    like the RDF/XML path (Turtle is not line-splittable).  Oracle =
    VALUES relation of the hand-transcribed expected triples
    (``driver_fixtures.EXPECTED_TTL_ROWS``)."""
    from .sources.driver_fixtures import TTL_DOCS, write_fixture_dir
    from .sources.rdf_source import read_turtle_triples

    return read_turtle_triples(spark, write_fixture_dir(TTL_DOCS))


def q_nq_ingest(spark, sf_dir):
    """S1 (.nq branch, engine extension): N-Quads line parse — the bulk
    named-graph interchange format; the 4th term lands in ``context``
    (NULL = default graph), the exact quad-relation shape SPARQL
    ``GRAPH``/``FROM NAMED`` consumes.  Oracle = VALUES relation of the
    hand-transcribed expected quads."""
    from .sources.driver_fixtures import NQ_DOCS, write_fixture_dir
    from .sources.rdf_source import read_nquads_quads

    return read_nquads_quads(spark, write_fixture_dir(NQ_DOCS))


def q_trig_ingest(spark, sf_dir):
    """S1 (.trig branch, engine extension): TriG document parse — Turtle
    plus named-graph blocks, the human-readable quad format.  Graph
    labels land in ``context`` (NULL = default graph); per-document
    mapInPandas like Turtle (graph blocks span lines).  Oracle = VALUES
    relation of the hand-transcribed expected quads."""
    from .sources.driver_fixtures import TRIG_DOCS, write_fixture_dir
    from .sources.rdf_source import read_trig_quads

    return read_trig_quads(spark, write_fixture_dir(TRIG_DOCS))


def q_jsonld_ingest(spark, sf_dir):
    """S1 (.jsonld branch, engine extension): JSON-LD subset parse —
    the serialization REST APIs and schema.org publishers emit.  Local
    ``@context`` (terms, prefixes, @vocab, @base, @type:@id coercion,
    @container:@list), value objects (datatype dropped per the
    reference literal model), nested bnode nodes, @list desugar and a
    named ``@graph`` block; graph labels land in ``context`` (NULL =
    default graph).  Per-document mapInPandas (one JSON value is not
    line-splittable).  Oracle = VALUES relation of the hand-transcribed
    expected quads."""
    from .sources.driver_fixtures import JSONLD_DOCS, write_fixture_dir
    from .sources.rdf_source import read_jsonld_quads

    return read_jsonld_quads(spark, write_fixture_dir(JSONLD_DOCS))


def q_jsonld_roundtrip(spark, sf_dir):
    """K-side .jsonld egress + S-side ingest identity: the TPC-H triples
    view written as NDJSON expanded form (one self-contained node object
    per statement — ZERO exchanges, JVM-exact JSON escaping via the
    to_json slice) and parsed back through the NDJSON fallback — oracle
    is the original triples CTE, hash-checking the full round trip."""

    from .sinks.jsonld_sink import write_jsonld
    from .sources.rdf_source import read_jsonld_quads

    base = _scratch_dir("jsonld_roundtrip_")
    write_jsonld(tpch_triples(spark, sf_dir), base, num_files=8)
    return read_jsonld_quads(spark, base, glob="*.txt").drop("context")


def _rdfs_onto_df(spark):
    """The 11-triple test ontology shared by the batch and streaming
    RDFS driver queries (mirrored verbatim in the oracle's VALUES)."""
    from .operators.rdfs import (
        RDFS_DOMAIN,
        RDFS_RANGE,
        RDFS_SUBCLASS,
        RDFS_SUBPROP,
    )

    onto = [
        (REL_NATION, RDFS_SUBPROP, "urn:rel:locatedIn"),
        ("urn:rel:locatedIn", RDFS_SUBPROP, "urn:rel:related"),
        (REL_REGION, RDFS_SUBPROP, "urn:rel:locatedIn"),
        (REL_NATION, RDFS_DOMAIN, "urn:class:Agent"),
        (REL_NATION, RDFS_RANGE, "urn:class:Nation"),
        (REL_REGION, RDFS_DOMAIN, "urn:class:Nation"),
        (REL_REGION, RDFS_RANGE, "urn:class:Region"),
        ("urn:class:Nation", RDFS_SUBCLASS, "urn:class:Place"),
        ("urn:class:Region", RDFS_SUBCLASS, "urn:class:Place"),
        ("urn:class:Place", RDFS_SUBCLASS, "urn:class:Entity"),
        (SKOS_PREFLABEL, RDFS_SUBPROP, RDFS_LABEL),
    ]
    return local_frame(
        spark,
        [(s, p, o, "uri", None) for s, p, o in onto],
        "subj string, pred string, obj_value string, obj_kind string, "
        "obj_lang string")


def _rdfs_instance(spark, sf_dir):
    """TPC-H triples plus explicit per-nation rdf:type rows — the
    explicit types keep the rdfs9-on-explicit rule branch live in the
    plan (the TPC-H view itself emits no types, so Catalyst would
    otherwise fold that join away)."""
    from .operators.rdfs import RDF_TYPE

    nation = _read(spark, sf_dir, "nation")
    explicit_types = nation.select(
        F.concat(F.lit("urn:nation:"),
                 F.col("n_nationkey").cast("string")).alias("subj"),
        F.lit(RDF_TYPE).alias("pred"),
        F.lit("urn:class:Nation").alias("obj_value"),
        F.lit("uri").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_lang"))
    return tpch_triples(spark, sf_dir).unionByName(explicit_types)


def q_rdfs_entailment(spark, sf_dir):
    """RDFS entailment materialization (engine extension — classic KG
    construction step the reference leaves to callers): the TPC-H triples
    view plus an 11-triple ontology (subPropertyOf / subClassOf chains,
    domain, range) forward-chained to the full ρdf closure.  Scale shape:
    closure computed on the schema slice only, applied to instance
    triples in one broadcast-join pass — no instance-sized iteration.
    Oracle = recursive-CTE transitive closures + rule joins."""
    from .operators.rdfs import rdfs_closure

    # schema passed explicitly: the realistic scale shape (no instance
    # scan to mine the ontology); output identical to closing the union.
    return rdfs_closure(_rdfs_instance(spark, sf_dir),
                        schema_triples=_rdfs_onto_df(spark))


def q_kg_edge_cut(spark, sf_dir):
    """Bucket-locality diagnostic (kg/materialize.py::edge_cut_stats):
    of the traversable uri-object edges (object appears as a subject),
    the exact parts-per-million crossing a bucket boundary — the
    shuffle a subject-co-located traversal pays per hop, measured
    instead of hoped.  Buckets here assigned by md5 prefix (16-way) so
    the oracle reproduces them bit-for-bit; production tables use the
    xxhash64 bucket, same statistics."""
    from .kg.materialize import edge_cut_stats

    t = tpch_triples(spark, sf_dir).withColumn(
        "subj_bucket",
        F.conv(F.substring(F.md5("subj"), 1, 1), 16, 10).cast("int"))
    return edge_cut_stats(t)


def q_kg_publish_pipeline(spark, sf_dir):
    """CAPSTONE composition — the full KG publish pipeline as ONE query
    over on-disk state, exercising five subsystems end-to-end exactly
    the way a production publish run chains them:

    1. INGEST: all six supported RDF formats from one directory into a
       unified relation (``sources/rdf_source.py::read_rdf_directory``).
    2. CLOSURE: RDFS entailment under a 4-axiom ontology (subClassOf,
       domain, range — ``operators/rdfs.py::rdfs_closure``, schema
       passed explicitly = the no-instance-scan scale shape).
    3. GATE: SHACL validation of the closed graph (every
       ``urn:class:Work`` needs a ``dcterms:title``), the violations
       report rendered as W3C validation-report RDF
       (``operators/shacl.py::validate`` + ``report_triples``).
    4. PUBLISH: snapshot v1 = ingested base; COW MERGE commits the
       entailed delta + the validation report as v2
       (``kg/snapshots.py`` — immutable manifests, lineage asserted
       in-query so a regression turns the row red).
    5. DESCRIBE: VoID dataset statistics computed over the PUBLISHED v2
       snapshot read back from disk
       (``operators/void_stats.py::void_description``) — the returned
       relation.

    Oracle = the whole pipeline restated in SQL: six hand-transcribed
    fixture relations, the four RDFS rule applications, the
    NOT-EXISTS violation derivation + the md5-bnode report rendering,
    and the VoID statistics over the published union."""

    from .kg.snapshots import (
        read_snapshot,
        snapshot_create,
        snapshot_merge,
        snapshot_versions,
    )
    from .operators.rdfs import (
        RDFS_DOMAIN,
        RDFS_RANGE,
        RDFS_SUBCLASS,
        rdfs_closure,
    )
    from .operators.shacl import report_triples, shapes_from_graph, validate
    from .operators.void_stats import void_description
    from .rdfxml.turtle import iter_turtle
    from .sources.driver_fixtures import (
        JSONLD_DOCS,
        NQ_DOCS,
        NT_DOCS,
        RDF_DOCS,
        TRIG_DOCS,
        TTL_DOCS,
        write_fixture_dir,
    )
    from .sources.rdf_source import read_rdf_directory

    foaf = "http://xmlns.com/foaf/0.1/"
    dct = "http://purl.org/dc/terms/"
    rdfs_ns = "http://www.w3.org/2000/01/rdf-schema#"

    base_dir = write_fixture_dir(
        {**RDF_DOCS, **NT_DOCS, **TTL_DOCS, **NQ_DOCS, **TRIG_DOCS,
         **JSONLD_DOCS})
    base = (read_rdf_directory(spark, base_dir)
            .drop("context").dropDuplicates())

    onto = local_frame(spark, [
        (foaf + "Document", RDFS_SUBCLASS, "urn:class:Work", "uri", None),
        (foaf + "Person", RDFS_SUBCLASS, "urn:class:Agent", "uri", None),
        (dct + "creator", RDFS_DOMAIN, "urn:class:Work", "uri", None),
        (rdfs_ns + "seeAlso", RDFS_RANGE, "urn:class:Linked", "uri", None),
    ], "subj string, pred string, obj_value string, obj_kind string, "
       "obj_lang string")
    closed = rdfs_closure(base, schema_triples=onto)

    shapes = shapes_from_graph(iter_turtle("""
@prefix sh: <http://www.w3.org/ns/shacl#> .
<urn:shape:Work> a sh:NodeShape ; sh:targetClass <urn:class:Work> ;
  sh:property [ sh:path <http://purl.org/dc/terms/title> ;
                sh:minCount 1 ] ."""))
    report_rdf = report_triples(validate(closed, shapes))

    root = _scratch_dir("kg_publish_") + "/table"
    snapshot_create(spark, base, root, buckets=8)
    snapshot_merge(spark, root,
                   adds=closed.exceptAll(base).unionByName(report_rdf))
    if [m["version"] for m in snapshot_versions(spark, root)] != [1, 2]:
        raise AssertionError("publish lineage broken")
    published = read_snapshot(spark, root).drop("subj_bucket")
    return void_description(published)


def q_kg_void(spark, sf_dir):
    """VoID dataset self-description (operators/void_stats.py): the
    publish-metadata step — triples/distinctSubjects/distinctObjects/
    properties/classes/entities plus per-predicate propertyPartition
    and per-class classPartition bnodes, emitted AS TRIPLES so the
    description feeds the serializers/SPARQL like any graph.  Three
    aggregations total (one expand-based global pass + two partition
    groupBys, all map-side combined); partition bnode labels derive
    from md5(IRI) so the output is value-hash stable.  Oracle = the
    same statistics in SQL (DuckDB md5 = Spark md5)."""
    from .operators.void_stats import RDF_TYPE as _T, void_description

    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")

    def typed(df, prefix, key, cls):
        return df.select(
            F.concat(F.lit(prefix), F.col(key).cast("string"))
            .alias("subj"),
            F.lit(_T).alias("pred"), F.lit(cls).alias("obj_value"),
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"))

    triples = (tpch_triples(spark, sf_dir)
               .unionByName(typed(cust, "urn:cust:", "c_custkey",
                                  "urn:class:Customer"))
               .unionByName(typed(supp, "urn:supp:", "s_suppkey",
                                  "urn:class:Supplier")))
    return void_description(triples)


def q_rdfs_graphs_entailment(spark, sf_dir):
    """Per-named-graph RDFS closure in ONE job
    (operators/rdfs.py::rdfs_closure_quads): the customer and supplier
    membership graphs carry DIFFERENT ontologies for the same
    urn:rel:in predicate (cust: domain Member subClassOf Party; supp:
    domain Vendor + range NationS), so the SAME nation node types
    differently per graph and nothing leaks across — the graph label
    rides every broadcast-join branch and both dedups.  Oracle = the
    per-graph rule applications stated directly in SQL."""
    from .operators.rdfs import (
        RDFS_DOMAIN,
        RDFS_RANGE,
        RDFS_SUBCLASS,
        rdfs_closure_quads,
    )

    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")

    def edges(df, ctx, subj, nkey):
        return df.select(
            F.lit(ctx).alias("context"), subj.alias("subj"),
            F.lit("urn:rel:in").alias("pred"),
            F.concat(F.lit("urn:nation:"),
                     F.col(nkey).cast("string")).alias("obj_value"),
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"))

    onto = local_frame(spark, [
        ("urn:g:cust", "urn:rel:in", RDFS_DOMAIN, "urn:class:Member",
         "uri", None),
        ("urn:g:cust", "urn:class:Member", RDFS_SUBCLASS,
         "urn:class:Party", "uri", None),
        ("urn:g:supp", "urn:rel:in", RDFS_DOMAIN, "urn:class:Vendor",
         "uri", None),
        ("urn:g:supp", "urn:rel:in", RDFS_RANGE, "urn:class:NationS",
         "uri", None),
    ], ("context string, subj string, pred string, obj_value string, "
        "obj_kind string, obj_lang string"))
    quads = (edges(cust, "urn:g:cust",
                   F.concat(F.lit("urn:cust:"),
                            F.col("c_custkey").cast("string")),
                   "c_nationkey")
             .unionByName(edges(supp, "urn:g:supp",
                                F.concat(F.lit("urn:supp:"),
                                         F.col("s_suppkey").cast("string")),
                                "s_nationkey"))
             .unionByName(onto))
    return rdfs_closure_quads(quads)


def q_owl_graphs_entailment(spark, sf_dir):
    """Per-named-graph OWL closure in ONE job
    (operators/owl.py::owl_closure_quads): the customer graph declares
    urn:rel:in TRANSITIVE (cust->nation->region composes to
    cust->region), the supplier graph declares the SAME predicate
    inverseOf urn:rel:hosts (nation hosts supp) — each graph closes
    under its own axioms via reserved-vocabulary graph encoding, and
    neither derivation leaks into the other graph.  Oracle = both
    graphs' closures stated directly in SQL."""
    from .operators.owl import (
        OWL_INVERSE_OF,
        OWL_TRANSITIVE,
        RDF_TYPE,
        owl_closure_quads,
    )

    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nat = _read(spark, sf_dir, "nation")

    def e(df, ctx, subj, pred, obj):
        return df.select(
            F.lit(ctx).alias("context"), subj.alias("subj"),
            F.lit(pred).alias("pred"), obj.alias("obj_value"),
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"))

    nuri = lambda c: F.concat(F.lit("urn:nation:"), F.col(c).cast("string"))
    quads = (
        e(cust, "urn:g:a",
          F.concat(F.lit("urn:cust:"), F.col("c_custkey").cast("string")),
          "urn:rel:in", nuri("c_nationkey"))
        .unionByName(e(nat, "urn:g:a", nuri("n_nationkey"), "urn:rel:in",
                       F.concat(F.lit("urn:region:"),
                                F.col("n_regionkey").cast("string"))))
        .unionByName(e(supp, "urn:g:b",
                       F.concat(F.lit("urn:supp:"),
                                F.col("s_suppkey").cast("string")),
                       "urn:rel:in", nuri("s_nationkey")))
        .unionByName(local_frame(spark, [
            ("urn:g:a", "urn:rel:in", RDF_TYPE, OWL_TRANSITIVE,
             "uri", None),
            ("urn:g:b", "urn:rel:in", OWL_INVERSE_OF, "urn:rel:hosts",
             "uri", None),
        ], ("context string, subj string, pred string, obj_value string,"
            " obj_kind string, obj_lang string"))))
    return owl_closure_quads(quads)


def q_owl_chain_entailment(spark, sf_dir):
    """owl:propertyChainAxiom materialization (OWL RL prp-spo2):
    inRegion <- rel:nation ∘ rel:region walks member -> nation ->
    region; zoneOf <- inRegion ∘ zonemap then consumes the DERIVED
    predicate (round-2 dependency), with zonemap edges synthesized
    region -> urn:zone:(key%2).  Returns the derived rows only.
    Oracle: the two compositions as plain SQL joins."""
    from .operators.owl import (
        OWL_PROPERTY_CHAIN,
        RDF_FIRST,
        RDF_NIL,
        RDF_REST,
        owl_chain_closure,
    )

    region = _read(spark, sf_dir, "region")
    zonemap = region.select(
        F.concat(F.lit("urn:region:"),
                 F.col("r_regionkey").cast("string")).alias("subj"),
        F.lit("urn:rel:zonemap").alias("pred"),
        F.concat(F.lit("urn:zone:"),
                 (F.col("r_regionkey") % 2).cast("string"))
        .alias("obj_value"),
        F.lit("uri").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_lang"))
    inst = tpch_triples(spark, sf_dir).unionByName(zonemap)

    def chain(head, steps, tag):
        rows = [(head, OWL_PROPERTY_CHAIN, "_:%s0" % tag, "bnode", None)]
        for i, s in enumerate(steps):
            nxt = ("_:%s%d" % (tag, i + 1) if i + 1 < len(steps)
                   else RDF_NIL)
            rows.append(("_:%s%d" % (tag, i), RDF_FIRST, s, "uri", None))
            rows.append(("_:%s%d" % (tag, i), RDF_REST, nxt,
                         "uri" if nxt == RDF_NIL else "bnode", None))
        return rows

    schema = local_frame(
        spark,
        chain("urn:rel:inRegion", (REL_NATION, REL_REGION), "a")
        + chain("urn:rel:zoneOf", ("urn:rel:inRegion", "urn:rel:zonemap"),
                "b"),
        "subj string, pred string, obj_value string, obj_kind string, "
        "obj_lang string")
    out = owl_chain_closure(inst, schema_triples=schema)
    return out.filter(
        F.col("pred").isin("urn:rel:inRegion", "urn:rel:zoneOf"))


def q_rdfs_schema_cycles(spark, sf_dir):
    """Ontology cycle detection (the quality check run before any
    entailment materialization): subClassOf edges forming five 5-cycles
    over the 25 nation-derived classes plus an ACYCLIC region chain
    (must contribute nothing), and one subPropertyOf self-loop.  A node
    is cyclic iff the predicate closure contains its reflexive pair —
    schema-slice closure only, no instance scan.  Oracle: recursive-CTE
    closure (UNION dedup terminates it on cycles) filtered to a = b."""
    from .operators.rdfs import schema_cycles

    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")

    def t(subj, pred, obj):
        return [subj.alias("subj"), F.lit(pred).alias("pred"),
                obj.alias("obj_value"), F.lit("uri").alias("obj_kind"),
                F.lit(None).cast("string").alias("obj_lang")]

    sub = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    subp = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"
    cls = F.concat(F.lit("urn:class:"), F.col("n_nationkey").cast("string"))
    nxt = F.concat(F.lit("urn:class:"),
                   ((F.col("n_nationkey") + 5) % 25).cast("string"))
    rcls = F.concat(F.lit("urn:rc:"), F.col("r_regionkey").cast("string"))
    rnxt = F.concat(F.lit("urn:rc:"),
                    (F.col("r_regionkey") + 1).cast("string"))
    schema = (
        nation.select(*t(cls, sub, nxt))
        .unionByName(region.select(*t(rcls, sub, rnxt)))
        .unionByName(spark.range(1).select(
            *t(F.lit("urn:prop:p0"), subp, F.lit("urn:prop:p0")))))
    return schema_cycles(schema)


def q_stream_rdfs_maintain(spark, sf_dir):
    """Incremental entailment maintenance end-to-end: the SAME instance
    relation as ``rdfs_entailment`` written as four ``.nq`` slice files,
    streamed one file per micro-batch, each batch closed independently
    (fixed schema ⇒ closure distributes over union: every instance rule
    is a per-row broadcast map, no instance-instance joins) and MERGEd
    exactly-once into a parquet table.  Oracle = the batch
    ``rdfs_entailment`` recursive-CTE oracle VERBATIM — four successive
    per-batch closures must converge to exactly the batch closure,
    whatever the slicing."""
    import os

    from .sinks.nquads_sink import write_nquads
    from .streaming.quad_stream import read_nquads_stream
    from .streaming.rdfs_stream import run_rdfs_maintenance

    instance = _rdfs_instance(spark, sf_dir).withColumn(
        "context", F.lit(None).cast("string"))
    base = _scratch_dir("stream_rdfs_")
    in_dir = os.path.join(base, "in")
    write_nquads(instance, in_dir, num_files=4)
    stream = read_nquads_stream(spark, in_dir, glob="*.txt",
                                max_files_per_trigger=1)
    table = os.path.join(base, "closed_table")
    q = run_rdfs_maintenance(
        stream.drop("context"), _rdfs_onto_df(spark), table,
        os.path.join(base, "ckpt"))
    q.awaitTermination(600)
    return spark.read.parquet(table)


def q_kg_sameas_smush(spark, sf_dir):
    """owl:sameAs canonicalization (engine extension — the identity-
    resolution step every KG-construction pipeline needs downstream of
    entity linking; no reference counterpart).  The TPC-H triples view
    plus (a) sameAs chains over three spellings of each nation IRI
    (``urn:alt:`` <-> ``urn:nation:`` <-> ``urn:ext:``, even keys get
    the 3-node chain) and (b) alias-USING membership edges for odd
    customers, smushed onto min-IRI representatives with provenance
    links kept.  ``local_threshold=0`` forces the distributed
    alternating-star components path, so the oracle (recursive-CTE
    closure + min-label + rewrite joins) independently cross-checks it.
    Scale shape: CC touches only the link relation; the corpus sees two
    map joins (AQE-broadcast when small) and one dedup exchange."""
    from .operators.sameas import OWL_SAMEAS, sameas_canonicalize

    nation = _read(spark, sf_dir, "nation")
    cust = _read(spark, sf_dir, "customer")

    def uri_rows(df, s, p, o):
        return df.select(
            s.alias("subj"), F.lit(p).alias("pred"), o.alias("obj_value"),
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"))

    nkey = F.col("n_nationkey").cast("string")
    links = uri_rows(
        nation, F.concat(F.lit("urn:ext:nation:"), nkey), OWL_SAMEAS,
        F.concat(F.lit("urn:nation:"), nkey),
    ).unionByName(uri_rows(
        nation.filter(F.col("n_nationkey") % 2 == 0),
        F.concat(F.lit("urn:nation:"), nkey), OWL_SAMEAS,
        F.concat(F.lit("urn:alt:nation:"), nkey)))
    extra = uri_rows(
        cust.filter(F.col("c_custkey") % 2 == 1),
        F.concat(F.lit("urn:cust:"), F.col("c_custkey").cast("string")),
        "urn:rel:memberOf",
        F.concat(F.lit("urn:ext:nation:"), F.col("c_nationkey").cast("string")))
    data = (tpch_triples(spark, sf_dir)
            .unionByName(extra).unionByName(links))
    return sameas_canonicalize(data, keep_links=True, local_threshold=0)


def _owl_onto_df(spark):
    """The 3-axiom test ontology shared by the batch and streaming OWL
    driver queries (mirrored verbatim in the oracle)."""
    from .operators.owl import (
        OWL_INVERSE_OF,
        OWL_SYMMETRIC,
        OWL_TRANSITIVE,
        RDF_TYPE,
    )

    return local_frame(
        spark,
        [("urn:rel:within", OWL_INVERSE_OF, "urn:rel:contains", "uri", None),
         ("urn:rel:within", RDF_TYPE, OWL_TRANSITIVE, "uri", None),
         ("urn:rel:adjacentTo", RDF_TYPE, OWL_SYMMETRIC, "uri", None)],
        "subj string, pred string, obj_value string, obj_kind string, "
        "obj_lang string")


def _owl_instance(spark, sf_dir):
    """Geography hierarchy over the TPC-H tables: customer/supplier
    ``within`` nation, nation ``within`` region, explicit reverse
    ``contains`` rows, an ``adjacentTo`` ring over nations."""
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")

    def uri_rows(df, s, p, o):
        return df.select(
            s.alias("subj"), F.lit(p).alias("pred"), o.alias("obj_value"),
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"))

    nkey = F.col("n_nationkey").cast("string")
    inst = (
        uri_rows(cust,
                 F.concat(F.lit("urn:cust:"),
                          F.col("c_custkey").cast("string")),
                 "urn:rel:within",
                 F.concat(F.lit("urn:nation:"),
                          F.col("c_nationkey").cast("string")))
        .unionByName(uri_rows(
            supp,
            F.concat(F.lit("urn:supp:"), F.col("s_suppkey").cast("string")),
            "urn:rel:within",
            F.concat(F.lit("urn:nation:"),
                     F.col("s_nationkey").cast("string"))))
        .unionByName(uri_rows(
            nation, F.concat(F.lit("urn:nation:"), nkey), "urn:rel:within",
            F.concat(F.lit("urn:region:"),
                     F.col("n_regionkey").cast("string"))))
        .unionByName(uri_rows(
            nation,
            F.concat(F.lit("urn:region:"),
                     F.col("n_regionkey").cast("string")),
            "urn:rel:contains", F.concat(F.lit("urn:nation:"), nkey)))
        .unionByName(uri_rows(
            nation, F.concat(F.lit("urn:nation:"), nkey), "urn:rel:adjacentTo",
            F.concat(F.lit("urn:nation:"),
                     ((F.col("n_nationkey") + 1) % 25).cast("string")))))
    return inst


def q_owl_entailment(spark, sf_dir):
    """OWL-lite entailment materialization (engine extension — the
    property-logic companion of ``rdfs_entailment``): the geography
    hierarchy closed under ``owl:inverseOf`` (within <-> contains),
    ``owl:TransitiveProperty`` (within, hence contains), and
    ``owl:SymmetricProperty`` (adjacentTo).  Scale shape:
    inverse/symmetric interaction is pre-composed schema-side into one
    broadcast orbit join; only the declared-transitive predicate pays
    the semi-naive instance closure.  Oracle = orbit UNION branches +
    a recursive CTE."""
    from .operators.owl import owl_closure

    return owl_closure(_owl_instance(spark, sf_dir),
                       schema_triples=_owl_onto_df(spark))


def q_stream_owl_maintain(spark, sf_dir):
    """Incremental OWL maintenance end-to-end: the SAME instance
    relation as ``owl_entailment`` written as four ``.nq`` slice files,
    streamed one file per micro-batch.  Transitive closure does NOT
    distribute over union (a later batch's edge can join two
    earlier-batch paths), so each batch runs the SEEDED semi-naive
    delta closure against the accumulated table, then MERGEs
    exactly-once.  Oracle = the batch ``owl_entailment`` oracle
    VERBATIM — whatever the slicing, the maintained table must equal
    the batch closure."""
    import os

    from .sinks.nquads_sink import write_nquads
    from .streaming.owl_stream import run_owl_maintenance
    from .streaming.quad_stream import read_nquads_stream

    instance = _owl_instance(spark, sf_dir).withColumn(
        "context", F.lit(None).cast("string"))
    base = _scratch_dir("stream_owl_")
    in_dir = os.path.join(base, "in")
    write_nquads(instance, in_dir, num_files=4)
    stream = read_nquads_stream(spark, in_dir, glob="*.txt",
                                max_files_per_trigger=1)
    table = os.path.join(base, "closed_table")
    q = run_owl_maintenance(
        stream.drop("context"), _owl_onto_df(spark), table,
        os.path.join(base, "ckpt"))
    q.awaitTermination(600)
    return spark.read.parquet(table)


def q_owl_equiv_entailment(spark, sf_dir):
    """OWL equivalence axioms (engine extension): suppliers assert
    ``urn:rel:locatedIn`` where customers assert ``urn:rel:within`` —
    ``owl:equivalentProperty`` unifies them (an orientation-preserving
    rename in the SAME pre-composed orbit join as inverseOf/symmetry,
    so transitivity declared on ``within`` closes MIXED-predicate
    chains); supplier ``rdf:type`` rows split across a Corp ≡ Company ≡
    Firm ``owl:equivalentClass`` chain close via one broadcast rename
    join over the type rows.  Scale shape: still one broadcast orbit
    join + one broadcast class join; only ``within``'s orbit pays the
    semi-naive closure.  Oracle = rename/swap UNION branches + class
    rename join + a recursive CTE."""
    from .operators.owl import (
        OWL_EQUIV_CLASS,
        OWL_EQUIV_PROPERTY,
        OWL_INVERSE_OF,
        OWL_TRANSITIVE,
        RDF_TYPE,
        owl_closure,
    )

    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")

    def uri_rows(df, s, p, o):
        return df.select(
            s.alias("subj"), F.lit(p).alias("pred"), o.alias("obj_value"),
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"))

    skey = F.col("s_suppkey").cast("string")
    inst = (
        uri_rows(cust,
                 F.concat(F.lit("urn:cust:"),
                          F.col("c_custkey").cast("string")),
                 "urn:rel:within",
                 F.concat(F.lit("urn:nation:"),
                          F.col("c_nationkey").cast("string")))
        .unionByName(uri_rows(
            supp, F.concat(F.lit("urn:supp:"), skey), "urn:rel:locatedIn",
            F.concat(F.lit("urn:nation:"),
                     F.col("s_nationkey").cast("string"))))
        .unionByName(uri_rows(
            nation,
            F.concat(F.lit("urn:nation:"),
                     F.col("n_nationkey").cast("string")),
            "urn:rel:within",
            F.concat(F.lit("urn:region:"),
                     F.col("n_regionkey").cast("string"))))
        .unionByName(uri_rows(
            supp, F.concat(F.lit("urn:supp:"), skey), RDF_TYPE,
            F.when(F.col("s_suppkey") % 2 == 0, F.lit("urn:class:Corp"))
            .otherwise(F.lit("urn:class:Firm")))))
    onto = local_frame(
        spark,
        [("urn:rel:locatedIn", OWL_EQUIV_PROPERTY, "urn:rel:within",
          "uri", None),
         ("urn:rel:within", OWL_INVERSE_OF, "urn:rel:contains",
          "uri", None),
         ("urn:rel:within", RDF_TYPE, OWL_TRANSITIVE, "uri", None),
         ("urn:class:Corp", OWL_EQUIV_CLASS, "urn:class:Company",
          "uri", None),
         ("urn:class:Company", OWL_EQUIV_CLASS, "urn:class:Firm",
          "uri", None)],
        "subj string, pred string, obj_value string, obj_kind string, "
        "obj_lang string")
    return owl_closure(inst, schema_triples=onto)


def q_kg_key_sameas(spark, sf_dir):
    """Functional-key identity resolution (engine extension — the
    linked-data key rules): customers sharing an
    ``owl:InverseFunctionalProperty`` account literal merge; each
    supplier asserting TWO spellings of its ``owl:FunctionalProperty``
    home nation merges the spellings.  ``owl_key_links`` emits the
    per-key STAR (min-member, other) — linear output, one window
    exchange per rule side — and ``sameas_canonicalize`` (components
    forced distributed) completes and rewrites.  Oracle = GROUP BY key
    stars + recursive-CTE closure + rewrite joins."""
    from .operators.owl import (
        OWL_FUNCTIONAL,
        OWL_INV_FUNCTIONAL,
        RDF_TYPE,
        owl_key_sameas_triples,
    )
    from .operators.sameas import sameas_canonicalize

    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")

    def rows(df, s, p, o, kind):
        return df.select(
            s.alias("subj"), F.lit(p).alias("pred"), o.alias("obj_value"),
            F.lit(kind).alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"))

    ckey = F.col("c_custkey").cast("string")
    skey = F.col("s_suppkey").cast("string")
    nkey = F.col("s_nationkey").cast("string")
    data = (
        rows(cust, F.concat(F.lit("urn:cust:"), ckey), "urn:key:acct",
             (F.col("c_custkey") % 500).cast("string"), "literal")
        .unionByName(rows(
            cust, F.concat(F.lit("urn:cust:"), ckey), "urn:rel:memberOf",
            F.concat(F.lit("urn:nation:"),
                     F.col("c_nationkey").cast("string")), "uri"))
        .unionByName(rows(
            supp, F.concat(F.lit("urn:supp:"), skey), "urn:rel:homeNation",
            F.concat(F.lit("urn:nation:"), nkey), "uri"))
        .unionByName(rows(
            supp, F.concat(F.lit("urn:supp:"), skey), "urn:rel:homeNation",
            F.concat(F.lit("urn:alt:nation:"), nkey), "uri")))
    schema = local_frame(
        spark,
        [("urn:key:acct", RDF_TYPE, OWL_INV_FUNCTIONAL, "uri", None),
         ("urn:rel:homeNation", RDF_TYPE, OWL_FUNCTIONAL, "uri", None)],
        "subj string, pred string, obj_value string, obj_kind string, "
        "obj_lang string")
    links = owl_key_sameas_triples(data, schema_triples=schema)
    return sameas_canonicalize(data.unionByName(links), local_threshold=0)


def q_sparql_results_csv(spark, sf_dir):
    """W3C SPARQL 1.1 Results CSV encode: a SELECT over the triples
    view streamed as raw-string CSV data lines (RFC 4180 quoting when
    needed) — pure column expressions, one line per solution."""
    from .sinks.sparql_csv_sink import encode_csv
    from .sparql import sparql_select

    sol = sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?n ?r ?nname WHERE {{
            ?n <{rel_region}> ?r .
            ?n rdfs:label ?nname .
        }}
    """.format(rel_region=REL_REGION))
    return encode_csv(sol)


def q_sparql_results_tsv(spark, sf_dir):
    """W3C SPARQL 1.1 Results TSV encode: terms in full SPARQL syntax
    (<iri>, "literal"@lang) with an unbound OPTIONAL variable encoded
    as the empty field — the lossless text results format."""
    from .sinks.sparql_csv_sink import encode_tsv
    from .sparql import sparql_select

    sol = sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n ?nname ?pl WHERE {{
            ?n <{rel_region}> ?r .
            ?n rdfs:label ?nname .
            OPTIONAL {{ ?n skos:prefLabel ?pl }}
        }}
    """.format(rel_region=REL_REGION))
    return encode_tsv(sol)


def q_sparql_results_xml(spark, sf_dir):
    """W3C SPARQL 1.1 Results XML encode (the fourth and last results
    format): uri / lang-literal bindings, a BIND-computed literal
    carrying every XML special (escape path exercised), and an unbound
    OPTIONAL variable whose ``<binding>`` element is omitted — one
    ``<result>`` fragment per row, pure column expressions."""
    from .sinks.sparql_xml_sink import encode_xml
    from .sparql import sparql_select

    sol = sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n ?nname ?tag ?pl WHERE {{
            ?n <{rel_region}> ?r .
            ?n rdfs:label ?nname .
            BIND(CONCAT("<", ?nname, " & co>") AS ?tag)
            OPTIONAL {{ ?n skos:prefLabel ?pl }}
        }}
    """.format(rel_region=REL_REGION))
    return encode_xml(sol)


def q_sparql_update_load(spark, sf_dir):
    """SPARQL 1.1 Update LOAD: a ``file:`` document IRI pulled through
    the five-format multi-source reader and re-homed INTO GRAPH — the
    update form that turns the ingest matrix into a query-language
    primitive.  Oracle = the quad relation UNION the hand-transcribed
    fixture rows with the destination context applied."""
    from .sources.driver_fixtures import NT_DOCS, write_fixture_dir
    from .sparql import sparql_update_quads

    path = write_fixture_dir(NT_DOCS)
    return sparql_update_quads(
        tpch_quads(spark, sf_dir),
        "LOAD <file://%s> INTO GRAPH <urn:g:loaded>" % path)


def q_sparql_update_graphs(spark, sf_dir):
    """SPARQL 1.1 Update over NAMED GRAPHS (quad relation), three
    operations chained: MOVE a graph, a WITH-scoped DELETE/INSERT that
    rehomes customer names into a fresh graph, and quad-form INSERT DATA
    (GRAPH block + default-graph row).  Immutable chaining — each step
    is a pure transform of the previous state, so the composition is one
    lazy plan.  Oracle = the same three set operations in SQL."""
    from .sparql import sparql_update_quads

    quads = tpch_triples(spark, sf_dir).withColumn(
        "context",
        F.when(F.col("subj").startswith("urn:cust:"), F.lit("urn:g:cust"))
        .when(F.col("subj").startswith("urn:supp:"), F.lit("urn:g:supp"))
        .otherwise(F.lit(None).cast("string")))
    q1 = sparql_update_quads(
        quads, "MOVE GRAPH <urn:g:supp> TO GRAPH <urn:g:vendors>")
    q2 = sparql_update_quads(q1, """
        WITH <urn:g:cust>
        DELETE {{ ?s <{foaf}> ?n }}
        INSERT {{ GRAPH <urn:g:names> {{ ?s <{rdfs}> ?n }} }}
        WHERE {{ ?s <{foaf}> ?n }}""".format(foaf=FOAF_NAME,
                                             rdfs=RDFS_LABEL))
    return sparql_update_quads(q2, """
        INSERT DATA {{
          GRAPH <urn:g:meta> {{ <urn:ds:1> <{dct}> "TPC-H quads" }}
          <urn:ds:1> <{rdfs}> "dataset"@en .
        }}""".format(dct=DCTERMS_TITLE, rdfs=RDFS_LABEL))


def q_sparql_dataset_ingest(spark, sf_dir):
    """End-to-end RDF DATASET integration: all six supported formats
    (.rdf .nt .ttl .nq .trig .jsonld) ingested from ONE directory into a
    unified quad relation, then queried as a SPARQL dataset —
    per-named-graph triple counts via GRAPH ?g.  Exercises that per-file
    provenance contexts (triple formats) and intrinsic graph labels
    (quad formats, incl. a shared label spanning .nq and .trig, and
    bnode graph labels) are all the same thing to the GRAPH machinery.
    Oracle = UNION of the six hand-transcribed fixture relations,
    grouped the same way."""
    from .sources.driver_fixtures import (
        JSONLD_DOCS,
        NQ_DOCS,
        NT_DOCS,
        RDF_DOCS,
        TRIG_DOCS,
        TTL_DOCS,
        write_fixture_dir,
    )
    from .sources.rdf_source import read_rdf_directory
    from .sparql import sparql_select

    base = write_fixture_dir(
        {**RDF_DOCS, **NT_DOCS, **TTL_DOCS, **NQ_DOCS, **TRIG_DOCS,
         **JSONLD_DOCS})
    quads = read_rdf_directory(spark, base)
    return sparql_select(quads, """
        SELECT ?g (COUNT(*) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } }
        GROUP BY ?g
    """)


def q_sparql_json_decode(spark, sf_dir):
    """S4: SPARQL-JSON binding decode (reference ``fromDict``,
    rdf/uri.py:35-36, rdf/literal.py:35-38, rdf/bnode.py:34-35) — binding
    JSON built in-plan from the nation table, decoded via ``from_json``;
    oracle rebuilds the decoded columns straight from nation."""
    from .sources.sparql_json import decode_bindings

    nation = _read(spark, sf_dir, "nation")
    key = F.col("n_nationkey").cast("string")
    shapes = F.array(
        F.concat(F.lit('{"type": "uri", "value": "urn:nation:'), key,
                 F.lit('"}')),
        F.concat(F.lit('{"type": "literal", "value": "'), F.col("n_name"),
                 F.lit('", "xml:lang": "en"}')),
        F.concat(F.lit('{"type": "bnode", "value": "_:n'), key, F.lit('"}')),
        F.concat(F.lit('{"type": "typed-literal", "value": "'), key,
                 F.lit('"}')),
    )
    bindings = nation.select(
        F.col("n_nationkey").alias("row_id"),
        F.explode(shapes).alias("binding"))
    return decode_bindings(bindings, "binding").select(
        "row_id", "obj_value", "obj_kind", "obj_lang")


def q_rdfxml_roundtrip(spark, sf_dir):
    """K1+K3 distributed: serialize the TPC-H triples view into
    per-entity-type RDF/XML shards (applyInPandas serializer), parse every
    shard back (mapInPandas parser), and return the triple relation —
    oracle is the original triples CTE, so the driver hash-checks the
    full serialize->parse identity."""
    from .sinks.rdfxml_sink import serialize_shards
    from .sources.rdf_source import read_rdfxml_triples

    t = tpch_triples(spark, sf_dir)
    sharded = t.withColumn(
        "context", F.regexp_extract("subj", "^urn:([a-z]+):", 1))
    shards = serialize_shards(sharded, "context",
                              extra_prefixes={"rel": "urn:rel:"})
    docs = shards.select(F.col("shard").alias("context"), "xml")
    return read_rdfxml_triples(docs).drop("context")


def q_nt_roundtrip(spark, sf_dir):
    """K-side .nt egress + S-side ingest identity: the TPC-H triples view
    written as N-Triples text (pure column expressions, splittable files)
    and parsed back — oracle is the original triples CTE."""

    from .sinks.nt_sink import write_ntriples
    from .sources.rdf_source import read_ntriples_triples

    base = _scratch_dir("nt_roundtrip_")
    write_ntriples(tpch_triples(spark, sf_dir), base, num_files=8)
    return read_ntriples_triples(spark, base, glob="*.txt").drop("context")


def q_ttl_roundtrip(spark, sf_dir):
    """K-side .ttl egress + S-side ingest identity: the TPC-H triples view
    written as subject-grouped Turtle (one window shuffle, pure column
    expressions, ``a`` shorthand) and parsed back — oracle is the
    original triples CTE, so the driver hash-checks the full
    serialize->parse identity including statement grouping."""

    from .sinks.turtle_sink import write_turtle
    from .sources.rdf_source import read_turtle_triples

    base = _scratch_dir("ttl_roundtrip_")
    write_turtle(tpch_triples(spark, sf_dir), base, num_files=8)
    return read_turtle_triples(spark, base, glob="*.txt").drop("context")


def q_nq_roundtrip(spark, sf_dir):
    """K-side .nq egress + S-side ingest identity over NAMED GRAPHS: the
    TPC-H triples view split across two named graphs plus the default
    graph (NULL context), written as N-Quads text (pure column
    expressions) and parsed back — oracle recomputes the same quads, so
    the driver hash-checks the round trip INCLUDING graph terms and
    default-graph NULLs."""

    from .sinks.nquads_sink import write_nquads
    from .sources.rdf_source import read_nquads_quads

    quads = tpch_triples(spark, sf_dir).withColumn(
        "context",
        F.when(F.col("subj").startswith("urn:cust:"), F.lit("urn:g:cust"))
        .when(F.col("subj").startswith("urn:supp:"), F.lit("urn:g:supp"))
        .otherwise(F.lit(None).cast("string")))
    base = _scratch_dir("nq_roundtrip_")
    write_nquads(quads, base, num_files=8)
    return read_nquads_quads(spark, base, glob="*.txt")


def q_trig_roundtrip(spark, sf_dir):
    """K-side .trig egress + S-side ingest identity over named graphs:
    the same two-named-graphs-plus-default quad split as
    ``nq_roundtrip``, written as (graph, subject)-blocked TriG (one
    window shuffle, union-of-blocks semantics) and parsed back — the
    driver hash-checks the round trip including graph terms and
    default-graph NULLs."""

    from .sinks.trig_sink import write_trig
    from .sources.rdf_source import read_trig_quads

    quads = tpch_triples(spark, sf_dir).withColumn(
        "context",
        F.when(F.col("subj").startswith("urn:cust:"), F.lit("urn:g:cust"))
        .when(F.col("subj").startswith("urn:supp:"), F.lit("urn:g:supp"))
        .otherwise(F.lit(None).cast("string")))
    base = _scratch_dir("trig_roundtrip_")
    write_trig(quads, base, num_files=8)
    return read_trig_quads(spark, base, glob="*.txt")


def q_pricing_rollup(spark, sf_dir):
    """ROLLUP over (returnflag, linestatus): hierarchical subtotals in one
    hash-agg pass (NULL = subtotal marker rows)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("l_quantity").cast("decimal(18,2)"))
             .cast("double").alias("sum_qty"))
    )


def q_embed_dup_pairs(spark, sf_dir):
    """Embedding near-dup pairs on the SCALE path: sign-LSH bucketed
    candidates (n_planes=8, bands=4), exact cosine verify >= 0.4 (the
    synthetic embeddings top out near cos 0.51, so 0.4 yields a
    non-trivial verified pair set)."""
    from .textops.dedup import embedding_dup_pairs

    return embedding_dup_pairs(
        _read(spark, sf_dir, "embeddings"), threshold=0.4, n_planes=8)


def q_embed_dup_clusters(spark, sf_dir):
    """The embedding-modality dedup DECISION: sign-LSH cosine pairs ->
    connected components -> min-id canonical per cluster (the same
    ``dedup_clusters`` machinery as the MinHash path — the decision
    layer is modality-agnostic)."""
    from .textops.dedup import dedup_clusters, embedding_dup_pairs

    emb = _read(spark, sf_dir, "embeddings")
    pairs = embedding_dup_pairs(emb, threshold=0.4, n_planes=8)
    return dedup_clusters(emb, pairs, id_col="vec_id")


def _embed_clusters_sql(threshold: float = 0.4, dim: int = 64,
                        n_planes: int = 8, bands: int = 4) -> str:
    # the pair query (nested WITH) feeds a recursive-CTE closure;
    # singleton vectors are their own canonical
    return """
WITH RECURSIVE pairs AS ({inner}),
sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
comp AS (
  SELECT node, min(m) AS component FROM (
    SELECT a AS node, b AS m FROM reach
    UNION ALL
    SELECT a AS node, a AS m FROM sym
  ) GROUP BY node)
SELECT d.vec_id, coalesce(c.component, d.vec_id) AS canonical_id,
       coalesce(c.component, d.vec_id) = d.vec_id AS keep
FROM embeddings d LEFT JOIN comp c ON c.node = d.vec_id""".format(
        inner=_embed_dup_sql(threshold, dim, n_planes, bands))


def _embed_dup_sql(threshold: float = 0.4, dim: int = 64,
                   n_planes: int = 8, bands: int = 4) -> str:
    from .textops.similarity import plane_signs

    signs = plane_signs(n_planes, dim)
    width = n_planes // bands

    def sig_expr(vec: str) -> str:
        bits = []
        for p in range(n_planes):
            arr = "[" + ", ".join("%.1f" % s for s in signs[p]) + "]::DOUBLE[]"
            bits.append(
                "CASE WHEN list_sum(list_transform(range(1, {d1}), "
                "i -> {v}[i]::DOUBLE * ({arr})[i])) >= 0 "
                "THEN '1' ELSE '0' END".format(d1=dim + 1, v=vec, arr=arr))
        return "concat(%s)" % ", ".join(bits)

    band_rows = " UNION ALL ".join(
        "SELECT id, v, %d AS band_id, substr(sig, %d, %d) AS band_bits FROM sig"
        % (b, b * width + 1, width) for b in range(bands))
    dot = ("list_sum(list_transform(range(1, {d1}), "
           "i -> l.v[i]::DOUBLE * r.v[i]::DOUBLE))").format(d1=dim + 1)
    nl = ("sqrt(list_sum(list_transform(range(1, {d1}), "
          "i -> l.v[i]::DOUBLE * l.v[i]::DOUBLE)))").format(d1=dim + 1)
    nr = ("sqrt(list_sum(list_transform(range(1, {d1}), "
          "i -> r.v[i]::DOUBLE * r.v[i]::DOUBLE)))").format(d1=dim + 1)
    return """
WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
sig AS (SELECT id, v, {sig} AS sig FROM e),
banded AS ({band_rows}),
cand AS (SELECT DISTINCT l.id AS a, r.id AS b
         FROM banded l JOIN banded r
           ON l.band_id = r.band_id AND l.band_bits = r.band_bits
              AND l.id < r.id),
scored AS (SELECT cand.a, cand.b,
             round({dot} / ({nl} * {nr}), 6) AS cos
           FROM cand JOIN e l ON l.id = cand.a JOIN e r ON r.id = cand.b)
SELECT a, b, cos FROM scored WHERE cos >= {thr}""".format(
        sig=sig_expr("v"), band_rows=band_rows, dot=dot, nl=nl, nr=nr,
        thr=threshold)


_IRI_CASES = [
    # (candidate, expected) — expectations pinned from the reference's
    # RFC-3987 behavior (graph/uri.py:35-44 via the rfc3987 package),
    # validated construct-by-construct in tests/test_functions.py; the
    # oracle repeats them as literals so a Spark-side regex divergence
    # fails the hash compare.
    ("http://example.org/path?q=1#f", True),
    ("urn:isbn:0451450523", True),
    ("not a uri", False),
    ("http://example.org/<bad>", False),
    ("ftp://user@host:21/dir", True),
    ("relative/path", False),
    ("http://example.org", True),
    ("mailto:someone@example.org", True),
    ("//nohost/path", False),
    ("", False),
    ("http://ex.org/éclair", True),
    ("urn:", True),
    ("http://example.org/a b", False),
    ("_:b1", False),
    ("https://example.org:8443/x?y=z&w=%20#frag", True),
]


def q_scalar_matches_iri(spark, sf_dir):
    """§2.5 ``matches_iri`` (RFC-3987 syntax check as one anchored JVM
    ``rlike``) over a pinned candidate list covering every grammar branch
    the reference exercises.  The full grammar needs Java-regex features
    RE2 lacks, so the oracle pins expected booleans as literals instead
    of re-deriving them."""
    from .functions.scalar_fns import matches_iri

    df = local_frame(
        spark,
        [(c,) for c, _ in _IRI_CASES], "candidate string")
    return df.select(
        "candidate", matches_iri(F.col("candidate")).alias("is_iri"))


def q_scalar_functions(spark, sf_dir):
    """§2.5 scalar functions (bnode test, fragment extraction, nodeID
    normalization, urijoin branch coverage, curie<->uri) evaluated over
    deterministic strings derived from the nation table — every rule
    re-derived independently in the DuckDB oracle.  (matches_iri stays
    pytest-only: its condensed RFC-3987 grammar is a Java-regex feature
    set RE2 cannot reproduce.)"""
    from .functions.scalar_fns import (
        curie_to_uri_col,
        fragment,
        is_bnode,
        normalize_node_id,
        uri_join,
        uri_to_curie_col,
    )

    n = _read(spark, sf_dir, "nation")
    key = F.col("n_nationkey").cast("string")
    mixed = F.when(F.col("n_nationkey") % 2 == 0,
                   F.concat(F.lit("_:b"), key)).otherwise(
                   F.concat(F.lit("urn:x:"), key))
    frag_in = F.concat(
        F.lit("http://ex.org/doc"), key,
        F.when(F.col("n_nationkey") % 2 == 0,
               F.concat(F.lit("#frag"), key)).otherwise(F.lit("")))
    node_in = F.when(F.col("n_nationkey") % 2 == 0,
                     F.concat(F.lit("abc"), key)).otherwise(key)
    base = F.concat(F.lit("http://ex.org/a/b/doc"), key, F.lit("#old"))
    ref = (
        F.when(F.col("n_nationkey") % 5 == 0, F.lit("urn:abs:x"))
        .when(F.col("n_nationkey") % 5 == 1, F.lit("#frag"))
        .when(F.col("n_nationkey") % 5 == 2, F.lit("/rooted"))
        .when(F.col("n_nationkey") % 5 == 3, F.lit(""))
        .otherwise(F.lit("rel/path")))
    curie_in = F.concat(F.lit("rdfs:label"), key)
    uri_in = F.concat(
        F.lit("http://www.w3.org/2004/02/skos/core#pref"), key)
    return n.select(
        F.col("n_nationkey").alias("row_id"),
        is_bnode(mixed).alias("bnode_flag"),
        fragment(frag_in).alias("frag"),
        normalize_node_id(node_in).alias("node_id"),
        uri_join(base, ref).alias("joined"),
        curie_to_uri_col(curie_in).alias("curie_uri"),
        uri_to_curie_col(uri_in).alias("uri_curie"))


_SCALAR_FNS_SQL = """
SELECT n_nationkey AS row_id,
  (n_nationkey % 2 = 0) AS bnode_flag,
  CASE WHEN n_nationkey % 2 = 0 THEN 'frag' || n_nationkey ELSE '' END AS frag,
  CASE WHEN n_nationkey % 2 = 0 THEN '_:abc' || n_nationkey
       ELSE '_:b' || n_nationkey END AS node_id,
  CASE
    WHEN n_nationkey % 5 = 0 THEN 'urn:abs:x'
    WHEN n_nationkey % 5 = 1 THEN 'http://ex.org/a/b/doc' || n_nationkey || '#frag'
    WHEN n_nationkey % 5 = 2 THEN 'http://ex.org/rooted'
    WHEN n_nationkey % 5 = 3 THEN 'http://ex.org/a/b/doc' || n_nationkey
    ELSE 'http://ex.org/a/b/rel/path'
  END AS joined,
  'http://www.w3.org/2000/01/rdf-schema#label' || n_nationkey AS curie_uri,
  'skos:pref' || n_nationkey AS uri_curie
FROM nation"""


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing end-to-end: deterministic synthetic media
    table (binary payloads) -> Arrow ``mapInPandas`` feature extraction
    -> exploded (media_id, kind, n_bytes, i, byte_val) rows.  byte_val
    recovers the digest byte from the float feature (exact inverse of
    /255), so the oracle re-derives every value in pure SQL."""
    from .textops.multimodal import extract_features, synthesize_media

    feats = extract_features(synthesize_media(spark, 64), dim=8)
    return feats.select(
        "media_id", "kind", F.col("n_bytes").cast("long").alias("n_bytes"),
        F.posexplode("feature").alias("i", "f"),
    ).select(
        "media_id", "kind", "n_bytes", F.col("i").cast("long").alias("i"),
        F.round(F.col("f").cast("double") * 255).cast("long").alias("byte_val"))


def q_multimodal_decode(spark, sf_dir):
    """REAL image decode end-to-end, no codec library required:
    deterministic 16x16 RGB PNGs (pixel (y,x,c) = (3x+5y+7m+11c) % 256,
    row filters cycling through all five PNG filter types) synthesized
    worker-side, decoded by the pure-stdlib PNG decoder
    (textops/multimodal.py::decode_png — zlib inflate + Sub/Up/Average/
    Paeth reconstruction), pooled into 8 band means, and quantized back
    to integer byte values.  The oracle re-derives every value from the
    pixel formula in pure SQL — if the encoder, decoder, any filter
    branch, or the pooling kernel is wrong, the hash mismatches.
    Quantization is float32-safe: every exact band mean sits >= 0.16
    from a rounding boundary (verified exhaustively)."""
    from .textops.multimodal import extract_features, synthesize_png_media

    media = synthesize_png_media(spark, 64, size=16)
    feats = extract_features(media, dim=8, use_fake=False)
    return feats.select(
        "media_id", F.posexplode("feature").alias("i", "f")
    ).select(
        "media_id", F.col("i").cast("long").alias("i"),
        F.round(F.col("f").cast("double") * 255).cast("long")
        .alias("byte_val"))


def q_multimodal_resize(spark, sf_dir):
    """Distributed image resize plumbing (8x8 RGB): image rows only,
    Arrow mapInPandas, fake kernel = sha256 hex stream of the payload
    (6 rounds cover 192 bytes) so every digest re-derives in pure SQL.
    The real branch (probed/injected codec + nearest-neighbor numpy
    resample) shares this exact schema and is pytest-covered."""
    from .textops.multimodal import resize_images, synthesize_media

    out = resize_images(synthesize_media(spark, 96), out_w=8, out_h=8)
    return out.select("media_id", "kind", "out_width", "out_height",
                      "n_bytes", "digest")


def q_multimodal_frames(spark, sf_dir):
    """Video frame sampling plumbing: 4 evenly spaced timestamps per
    video row (ts = i * duration / n), one output row per frame via
    mapInPandas fan-out (no explode shuffle); fake per-frame digest =
    md5 of one sha256 round over (payload hex, frame index) — fully
    SQL-reproducible.  Real branch = injected extractor, pytest-covered."""
    from .textops.multimodal import sample_frames, synthesize_media

    return sample_frames(synthesize_media(spark, 96), n_frames=4)


ORACLES_MULTIMODAL_EXTRA = {
    "multimodal_decode": """
WITH px AS (
  SELECT m.range AS mid, y.range AS y,
         ((3*x.range + 5*y.range + 7*m.range) % 256
        + (3*x.range + 5*y.range + 7*m.range + 11) % 256
        + (3*x.range + 5*y.range + 7*m.range + 22) % 256) AS s
  FROM range(0, 64) m, range(0, 16) y, range(0, 16) x)
SELECT 'png' || mid AS media_id, CAST(y // 2 AS BIGINT) AS i,
       CAST(ROUND(SUM(s) / 96.0) AS BIGINT) AS byte_val
FROM px GROUP BY mid, y // 2""",
    "multimodal_resize": """
WITH ids AS (SELECT range AS id FROM range(0, 96)),
m AS (SELECT 'm' || id AS media_id, sha256('media-42-' || id) AS h
      FROM ids WHERE id % 3 = 0)
SELECT media_id, 'image' AS kind, CAST(8 AS INT) AS out_width,
  CAST(8 AS INT) AS out_height, CAST(192 AS INT) AS n_bytes,
  md5(sha256(h || ':resize:0') || sha256(h || ':resize:1')
      || sha256(h || ':resize:2') || sha256(h || ':resize:3')
      || sha256(h || ':resize:4') || sha256(h || ':resize:5')) AS digest
FROM m""",
    "multimodal_frames": """
WITH ids AS (SELECT range AS id FROM range(0, 96)),
m AS (SELECT 'm' || id AS media_id, sha256('media-42-' || id) AS h
      FROM ids WHERE id % 3 = 2),
f AS (SELECT media_id, h, CAST(j.range AS INT) AS frame_idx,
             CAST(j.range * 250 AS INT) AS ts_ms
      FROM m CROSS JOIN range(0, 4) j)
SELECT media_id, frame_idx, ts_ms,
       md5(sha256(h || ':frame:' || frame_idx || ':0')) AS digest
FROM f""",
}


_MULTIMODAL_SQL = """
WITH ids AS (SELECT range AS id FROM range(0, 64)),
m AS (SELECT 'm' || id AS media_id,
        (['image','audio','video'])[CAST(id % 3 AS INT) + 1] AS kind,
        sha256('media-42-' || id) AS payload_hex FROM ids),
d AS (SELECT media_id, kind, sha256(payload_hex) AS digest FROM m),
idx AS (SELECT range AS i FROM range(0, 8))
SELECT media_id, kind, 32::BIGINT AS n_bytes, i::BIGINT AS i,
  ((strpos('0123456789abcdef', substr(digest, CAST(2*i+1 AS INT), 1)) - 1) * 16
   + strpos('0123456789abcdef', substr(digest, CAST(2*i+2 AS INT), 1)) - 1
  )::BIGINT AS byte_val
FROM d, idx"""


def _driver_fixture_sql(kind: str) -> str:
    from .sources.driver_fixtures import (
        EXPECTED_NT_ROWS,
        EXPECTED_RDF_ROWS,
        values_cte,
    )

    from .sources.driver_fixtures import EXPECTED_TTL_ROWS

    from .sources.driver_fixtures import (
        EXPECTED_JSONLD_ROWS,
        EXPECTED_NQ_ROWS,
        EXPECTED_TRIG_ROWS,
    )

    rows = {"rdf": EXPECTED_RDF_ROWS, "nt": EXPECTED_NT_ROWS,
            "ttl": EXPECTED_TTL_ROWS, "nq": EXPECTED_NQ_ROWS,
            "trig": EXPECTED_TRIG_ROWS,
            "jsonld": EXPECTED_JSONLD_ROWS}[kind]
    return values_cte(rows)


# ==========================================================================
# KG pipeline queries (not SQL-expressible -> rows-only driver check)
# ==========================================================================

def _synth_transcripts(spark):
    from .sources.transcripts import synthesize_transcripts

    return synthesize_transcripts(spark, 120, 8)


_PIPELINE_CACHE: dict = {}


def _pipeline_result(spark):
    """One pipeline execution shared by the kg_* driver queries (they
    are read-only views over the same deterministic result; re-running
    the whole pipeline per query would only re-prove determinism the
    golden hashes already pin).  Keyed by application id so a fresh
    session recomputes."""
    app_id = spark.sparkContext.applicationId
    if app_id not in _PIPELINE_CACHE:
        from .kg.pipeline import run_pipeline

        _PIPELINE_CACHE.clear()  # never hold results of a dead session
        _PIPELINE_CACHE[app_id] = run_pipeline(_synth_transcripts(spark))
    return _PIPELINE_CACHE[app_id]


def q_kg_mentions(spark, sf_dir):
    from .kg.extract import detect_mentions

    return detect_mentions(_synth_transcripts(spark))


def q_kg_triples(spark, sf_dir):
    return _pipeline_result(spark).triples


def q_kg_canonical_map(spark, sf_dir):
    return _pipeline_result(spark).canonical_map


def q_kg_entity_labels(spark, sf_dir):
    return find_labels(_pipeline_result(spark).triples)


def q_kg_structure_triples(spark, sf_dir):
    """Transcript-structure triples (conv->tool provenance edges +
    per-conversation turn counts) from the input_hint's non-text columns
    — pure JVM aggregations, unique by construction."""
    from .kg.extract import structure_triples

    return structure_triples(_synth_transcripts(spark))


def q_kg_sparql_entities(spark, sf_dir):
    """Integration: the SPARQL front-end querying the KG the pipeline
    just built — per canonical entity name, the number of conversation
    mention-edges.  One parsed query -> BGP self-join + hash aggregation
    over pipeline_triples; oracle = identical SQL over the committed
    golden triples (which kg_triples hash-pins to the pipeline output)."""
    from .sparql import sparql_select

    return sparql_select(_pipeline_result(spark).triples, """
        PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        PREFIX kg: <http://data.example.org/kg#>
        SELECT ?ename (COUNT(?conv) AS ?n_convs) WHERE {
            ?conv kg:mentions ?e .
            ?e foaf:name ?ename .
        } GROUP BY ?ename
    """)


def q_kg_e2e_sparql(spark, sf_dir):
    """End-to-end integration over the MATERIALIZED table (VERDICT r02
    #8): transcripts -> pipeline triples -> bucketed triple table
    (snapshot create) -> MERGE in the structure triples (incremental
    maintenance, ``snapshot_merge``) -> SPARQL UPDATE executed THROUGH
    the same MERGE (rename foaf:name to rdfs:label) -> SPARQL SELECT over the
    final on-disk table joining pipeline facts (kg:mentions) with
    structure facts (kg:turnCount).  Oracle: identical SQL over the
    committed golden kg_triples + kg_structure_triples parquet with the
    rename applied — so the row set pins write + merge + update + query
    agreeing end-to-end."""
    import os

    from .kg.extract import structure_triples
    from .kg.snapshots import read_snapshot, snapshot_create, snapshot_merge
    from .sparql import sparql_select
    from .sparql.compiler import sparql_update_sets

    res = _pipeline_result(spark)
    table = os.path.join(_scratch_dir("kg_e2e_"), "triples")
    snapshot_create(spark, res.triples, table, buckets=8)
    snapshot_merge(spark, table,
                   adds=structure_triples(_synth_transcripts(spark)))
    stored = read_snapshot(spark, table).drop("subj_bucket")
    deletes, inserts = sparql_update_sets(stored, """
        PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        DELETE { ?e foaf:name ?n }
        INSERT { ?e rdfs:label ?n }
        WHERE { ?e foaf:name ?n }
    """)
    snapshot_merge(spark, table, adds=inserts, deletes=deletes)
    final = read_snapshot(spark, table).drop("subj_bucket")
    return sparql_select(final, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX kg: <http://data.example.org/kg#>
        SELECT ?ename (COUNT(?conv) AS ?n_convs) (SUM(?turns) AS ?total_turns)
        WHERE {
            ?conv kg:mentions ?e .
            ?e rdfs:label ?ename .
            ?conv kg:turnCount ?turns .
        } GROUP BY ?ename
    """)


def q_kg_checkpoint_resume(spark, sf_dir):
    """North-rule resumability proven at query time ('resumable from
    per-partition checkpoints carrying lineage and triple-count metrics'):
    the checkpointed pipeline first runs over the even-hash HALF of the
    conversations, then resumes over the FULL input against the same
    output directory.  Because mod-4 bucket ids determine mod-2 parity,
    run 1 fills exactly buckets {0, 2} and the resume must skip both
    (their input fingerprints are unchanged) and process only {1, 3} —
    asserted in-query from the run metrics, so a broken resume turns the
    row red.  The returned frame is the final ON-DISK triple table, which
    the oracle pins to the committed golden of the single-shot pipeline:
    resume slicing must not change a single row."""
    import os

    from .kg.pipeline import run_checkpointed

    t = _synth_transcripts(spark)
    half = t.filter(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    out = os.path.join(_scratch_dir("kg_ckpt_"), "kg")
    r1 = run_checkpointed(spark, half, out, n_buckets=4, table_buckets=4)
    r2 = run_checkpointed(spark, t, out, n_buckets=4, table_buckets=4)
    if r1["buckets_processed"] != 2 or r2["buckets_processed"] != 2 \
            or r2["buckets_skipped"] != 2:
        raise AssertionError(
            "resume did not skip completed buckets: run1=%s run2=%s"
            % (r1, r2))
    return spark.read.parquet(os.path.join(out, "triples")).drop("subj_bucket")


_KG_SHAPES_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix kg: <http://data.example.org/kg#> .
@prefix oa: <http://www.w3.org/ns/oa#> .
@prefix foaf: <http://xmlns.com/foaf/0.1/> .
@prefix skos: <http://www.w3.org/2004/02/skos/core#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .

<urn:shape:Annotation> a sh:NodeShape ;
  sh:targetClass oa:Annotation ;
  sh:property [ sh:path kg:candidate ; sh:minCount 1 ; sh:maxCount 1 ;
                sh:nodeKind sh:IRI ; sh:pattern "^urn:surface:" ] ;
  sh:property [ sh:path kg:score ; sh:minCount 1 ; sh:maxCount 1 ;
                sh:nodeKind sh:Literal ;
                sh:pattern "^[0-9]+[.][0-9]$" ] ;
  sh:property [ sh:path kg:conversation ; sh:minCount 1 ;
                sh:maxCount 1 ; sh:nodeKind sh:IRI ] ;
  sh:property [ sh:path kg:turn ; sh:minCount 1 ; sh:maxCount 1 ] .

<urn:shape:Entity> a sh:NodeShape ;
  sh:targetSubjectsOf foaf:name ;
  sh:property [ sh:path foaf:name ; sh:minCount 1 ; sh:maxCount 1 ;
                sh:languageIn ("en" "nl") ] ;
  sh:property [ sh:path skos:altLabel ; sh:maxCount 1 ] ;
  sh:property [ sh:path owl:sameAs ; sh:nodeKind sh:IRI ] .
"""


def q_kg_shacl_report(spark, sf_dir):
    """SHACL-core validation over the pipeline-built KG: the shapes graph
    is authored in standard SHACL/Turtle, parsed by our own Turtle parser
    (shapes_from_graph), and compiled to the declarative plan of
    operators/shacl.py.  The mention-annotation shape conforms (its
    branches return empty — the oracle computes them too, so emptiness is
    checked, not assumed); the entity shape flags lang-less foaf:name
    labels (languageIn) and multi-altLabel entities (maxCount).  Oracle =
    the same constraint algebra in SQL over the committed golden."""
    from .operators.shacl import shapes_from_graph, validate
    from .rdfxml.turtle import iter_turtle

    return validate(_pipeline_result(spark).triples,
                    shapes_from_graph(iter_turtle(_KG_SHAPES_TTL)))


_PATH_SHAPES_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .

<urn:shape:NationSize> a sh:NodeShape ;
  sh:targetObjectsOf <urn:rel:nation> ;
  sh:property [ sh:path [ sh:inversePath <urn:rel:nation> ] ;
                sh:minCount 65 ] .

<urn:shape:MemberGeo> a sh:NodeShape ;
  sh:targetSubjectsOf <urn:rel:nation> ;
  sh:property [ sh:path ( <urn:rel:nation>
                          <http://www.w3.org/2000/01/rdf-schema#label> ) ;
                sh:pattern "^[A-M]" ] ;
  sh:property [ sh:path ( <urn:rel:nation> <urn:rel:region> ) ;
                sh:minCount 1 ; sh:nodeKind sh:IRI ] ;
  sh:property [ sh:path <urn:rel:nation> ;
                sh:node <urn:shape:EarlyNation> ] .

<urn:shape:EarlyNation> a sh:NodeShape ;
  sh:property [ sh:path <http://www.w3.org/2000/01/rdf-schema#label> ;
                sh:pattern "^[A-M]" ] .
"""


def q_kg_shacl_paths(spark, sf_dir):
    """SHACL property paths (§2.3.1) over the TPC-H graph relation:
    sh:inversePath counts a nation's members (custs+supps reaching it
    through ^rel:nation — small nations violate minCount 65 at sf0.01),
    and a sequence path walks member -> nation -> rdfs:label so the
    pattern constraint fires on members of N-Z nations.  The second
    sequence path (nation/region) conforms — computed, not assumed.
    Each non-IRI path compiles to its own (focus -> value) edge
    relation; counting is SET semantics (distinct value nodes)."""
    from .operators.shacl import shapes_from_graph, validate
    from .rdfxml.turtle import iter_turtle

    return validate(tpch_triples(spark, sf_dir),
                    shapes_from_graph(iter_turtle(_PATH_SHAPES_TTL)))


def q_kg_shacl_graphs(spark, sf_dir):
    """Per-named-graph SHACL validation in ONE job: customers' and
    suppliers' membership edges live in separate named graphs, and the
    SAME nation node is validated independently in each — the graph
    label rides every join and groupBy as one more key (no per-graph
    loop).  NationPop demands >= 10 inbound ^rel:in members: nations
    hold ~60 customers but only ~4 suppliers at sf0.01, so violations
    appear in the supplier graph only.  Report carries the graph
    column."""
    from .operators.shacl import validate
    from .rdfxml.turtle import iter_turtle
    from .operators.shacl import shapes_from_graph

    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")

    def q(df, ctx, subj, nkey):
        return df.select(
            F.lit(ctx).alias("context"), subj.alias("subj"),
            F.lit("urn:rel:in").alias("pred"),
            F.concat(F.lit("urn:nation:"),
                     F.col(nkey).cast("string")).alias("obj_value"),
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"))

    quads = (
        q(cust, "urn:graph:cust",
          F.concat(F.lit("urn:cust:"), F.col("c_custkey").cast("string")),
          "c_nationkey")
        .unionByName(q(
            supp, "urn:graph:supp",
            F.concat(F.lit("urn:supp:"), F.col("s_suppkey").cast("string")),
            "s_nationkey")))
    ttl = """@prefix sh: <http://www.w3.org/ns/shacl#> .
    <urn:shape:NationPop> a sh:NodeShape ;
      sh:targetObjectsOf <urn:rel:in> ;
      sh:property [ sh:path [ sh:inversePath <urn:rel:in> ] ;
                    sh:minCount 10 ] ."""
    return validate(quads, shapes_from_graph(iter_turtle(ttl)),
                    per_graph=True)


def q_kg_shacl_closed(spark, sf_dir):
    """SHACL closedness, numeric ranges, severity and deactivation in
    one report: nations carry name/region/pop/comment predicates; the
    closed shape allows name+pop (declared) and region (ignored), so
    every slug triple violates 'closed'; sh:minInclusive 5 /
    sh:maxExclusive 20 on the numeric pop flag the low and high keys
    (try_cast comparison, never an error); the report carries the
    resolved severity column (property-level sh:Info overriding the
    node shape's sh:Warning); a deactivated audit shape that would flag
    every nation contributes nothing — the oracle recomputes all three
    live branches and omits the deactivated one, so skip is
    hash-checked, not assumed.  Closedness is one subj-keyed join of
    the corpus onto the closed-focus set plus a literal
    predicate-complement filter (operators/shacl.py)."""
    from .operators.shacl import shapes_from_graph, validate
    from .rdfxml.turtle import iter_turtle

    n = _read(spark, sf_dir, "nation")
    subj = F.concat(F.lit("urn:nation:"),
                    F.col("n_nationkey").cast("string"))

    def t(pred, value, kind):
        return n.select(subj.alias("subj"), F.lit(pred).alias("pred"),
                        value.alias("obj_value"), F.lit(kind).alias("obj_kind"),
                        F.lit(None).cast("string").alias("obj_lang"))

    triples = (
        t("urn:rel:name", F.col("n_name"), "literal")
        .unionByName(t("urn:rel:region",
                       F.concat(F.lit("urn:region:"),
                                F.col("n_regionkey").cast("string")), "uri"))
        .unionByName(t("urn:rel:pop",
                       F.col("n_nationkey").cast("string"), "literal"))
        .unionByName(t("urn:rel:slug", F.lower(F.col("n_name")), "literal")))
    ttl = """@prefix sh: <http://www.w3.org/ns/shacl#> .
    <urn:shape:NationClosed> a sh:NodeShape ;
      sh:targetSubjectsOf <urn:rel:name> ;
      sh:closed true ;
      sh:ignoredProperties ( <urn:rel:region> ) ;
      sh:severity sh:Warning ;
      sh:property [ sh:path <urn:rel:name> ; sh:minCount 1 ] ;
      sh:property [ sh:path <urn:rel:pop> ; sh:minInclusive 5 ;
                    sh:maxExclusive 20 ; sh:severity sh:Info ] .
    <urn:shape:Audit> a sh:NodeShape ; sh:deactivated true ;
      sh:targetSubjectsOf <urn:rel:name> ;
      sh:property [ sh:path <urn:rel:slug> ; sh:maxCount 0 ] ."""
    return validate(triples, shapes_from_graph(iter_turtle(ttl)),
                    with_severity=True)


def q_kg_shacl_report_rdf(spark, sf_dir):
    """The violations report rendered as W3C validation-report RDF
    (operators/shacl.py::report_triples): the kg_shacl_closed report
    (with resolved severities) becomes sh:ValidationReport /
    sh:ValidationResult triples — deterministic md5-derived result
    bnodes, sh:conforms computed from the same frame — so the publish
    gate's output feeds serializers and SPARQL like any graph.  Oracle
    = the same rendering in SQL over the same report relation."""
    from .operators.shacl import report_triples

    return report_triples(q_kg_shacl_closed(spark, sf_dir))


def q_stream_shacl_maintain(spark, sf_dir):
    """Incremental SHACL maintenance end-to-end: the SAME KG the batch
    ``kg_shacl_report`` validates, written as four ``.nq`` slice files
    and streamed one file per micro-batch into
    ``streaming/shacl_stream.py`` — which must handle what per-batch
    checking cannot: violations that RETRACT (a minCount satisfied by a
    later batch), appear late (maxCount needs accumulated rows), and
    focus that arrives after its value rows.  Only delta-affected focus
    nodes are revalidated per trigger.  Oracle = the batch
    ``kg_shacl_report`` constraint algebra VERBATIM — after the final
    trigger the maintained report must equal batch validation, whatever
    the slicing."""
    import os

    from .operators.shacl import shapes_from_graph
    from .rdfxml.turtle import iter_turtle
    from .sinks.nquads_sink import write_nquads
    from .streaming.quad_stream import read_nquads_stream
    from .streaming.shacl_stream import run_shacl_maintenance

    golden = spark.read.parquet(
        "/root/repo/tests/golden/kg_triples.parquet").withColumn(
        "context", F.lit(None).cast("string"))
    base = _scratch_dir("stream_shacl_")
    in_dir = os.path.join(base, "in")
    write_nquads(golden, in_dir, num_files=4)
    stream = read_nquads_stream(spark, in_dir, glob="*.txt",
                                max_files_per_trigger=1)
    report = os.path.join(base, "report")
    q = run_shacl_maintenance(
        stream.drop("context"),
        shapes_from_graph(iter_turtle(_KG_SHAPES_TTL)),
        os.path.join(base, "table"), report, os.path.join(base, "ckpt"))
    q.awaitTermination(600)
    return spark.read.parquet(report)


def q_kg_snapshot_diff(spark, sf_dir):
    """Manifest-pruned change feed between snapshot versions
    (kg/snapshots.py::snapshot_diff): v1 = the TPC-H triples, v2 = the
    graph_merge delta (drop rel:region edges, add lowercase region alt
    labels) committed through the COW path.  Buckets whose manifest
    pointers are identical across versions are provably unchanged and
    never opened — diff cost tracks churn, not table size; changed
    buckets diff by two co-partitioned null-safe anti-joins.  Oracle =
    the delta stated directly in SQL."""

    from .kg.snapshots import snapshot_create, snapshot_diff, snapshot_merge

    base = tpch_triples(spark, sf_dir)
    root = _scratch_dir("kg_snapdiff_") + "/table"
    snapshot_create(spark, base, root, buckets=8)
    region = _read(spark, sf_dir, "region")
    adds = region.select(
        F.concat(F.lit("urn:region:"),
                 F.col("r_regionkey").cast("string")).alias("subj"),
        F.lit(SKOS_ALTLABEL).alias("pred"),
        F.lower(F.col("r_name")).alias("obj_value"),
        F.lit("literal").alias("obj_kind"), F.lit("en").alias("obj_lang"))
    deletes = base.filter(F.col("pred") == REL_REGION)
    snapshot_merge(spark, root, adds=adds, deletes=deletes)
    return snapshot_diff(spark, root, 1, 2)


def q_kg_snapshot_revalidate(spark, sf_dir):
    """The change feed driving incremental validation end-to-end:
    snapshot v1 -> COW merge adds a SECOND rel:nation edge for every
    50th customer -> snapshot_diff(1,2) names exactly the churned
    subjects -> SHACL revalidates ONLY those focus nodes
    (validate(only_focus=...) semi-join) against the v2 table.  The
    affected set comes from the manifest-pruned diff, so revalidation
    cost tracks churn, not table size — the maintenance loop a
    publish-gated KG runs after every merge.  Oracle = the violations
    stated directly (each touched customer now has 2 nation edges >
    maxCount 1)."""

    from .operators.shacl import shapes_from_graph, validate
    from .rdfxml.turtle import iter_turtle
    from .kg.snapshots import (
        read_snapshot,
        snapshot_create,
        snapshot_diff,
        snapshot_merge,
    )

    base = tpch_triples(spark, sf_dir)
    root = _scratch_dir("kg_snapreval_") + "/table"
    snapshot_create(spark, base, root, buckets=8)
    cust = _read(spark, sf_dir, "customer")
    adds = cust.filter(F.col("c_custkey") % 50 == 0).select(
        F.concat(F.lit("urn:cust:"),
                 F.col("c_custkey").cast("string")).alias("subj"),
        F.lit(REL_NATION).alias("pred"),
        F.concat(F.lit("urn:nation:"),
                 ((F.col("c_nationkey") + 1) % 25).cast("string"))
        .alias("obj_value"),
        F.lit("uri").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_lang"))
    snapshot_merge(spark, root, adds=adds)
    affected = (snapshot_diff(spark, root, 1, 2)
                .select(F.col("subj").alias("focus")).distinct())
    focus = affected.select(
        F.lit("urn:shape:MemberNation").alias("shape_id"), "focus")
    ttl = """@prefix sh: <http://www.w3.org/ns/shacl#> .
    <urn:shape:MemberNation> a sh:NodeShape ;
      sh:targetSubjectsOf <urn:rel:nation> ;
      sh:property [ sh:path <urn:rel:nation> ; sh:maxCount 1 ;
                    sh:nodeKind sh:IRI ] ."""
    return validate(read_snapshot(spark, root).drop("subj_bucket"),
                    shapes_from_graph(iter_turtle(ttl)),
                    only_focus=focus)


def q_kg_snapshot_compact(spark, sf_dir):
    """Write-fast-then-compact maintenance (kg/snapshots.py): the table
    is created with 4 salted writer files per bucket (within-bucket
    write parallelism — one task per 10-TB bucket would serialize the
    create), then snapshot_compact rewrites each fragmented bucket as
    ONE sorted file in a new immutable version; no logical change.
    In-query asserts turn regressions red: exactly one file per
    compacted bucket, pre-compaction time travel intact, per-bucket row
    counts unchanged (compact itself recounts and refuses drift).
    Returns the compacted table; oracle = the triples view itself."""
    import glob as _glob

    from .kg.snapshots import (
        read_snapshot,
        snapshot_compact,
        snapshot_create,
    )

    base = tpch_triples(spark, sf_dir)
    root = _scratch_dir("kg_snapcomp_") + "/table"
    snapshot_create(spark, base, root, buckets=8, files_per_bucket=4)
    m = snapshot_compact(spark, root)
    if m["operation"] != "compact":
        raise AssertionError("nothing was fragmented: %s" % m["operation"])
    for b in m["buckets_touched"]:
        d = root + "/" + m["buckets"][str(b)]
        n = len(_glob.glob(d + "/*.parquet"))
        if n != 1:
            raise AssertionError("bucket %d has %d files" % (b, n))
    if read_snapshot(spark, root, version=m["parent"]).count()             != m["total_rows"]:
        raise AssertionError("pre-compaction version broken")
    return read_snapshot(spark, root).drop("subj_bucket")


def q_kg_snapshot_merge(spark, sf_dir):
    """The SAME merge algebra as ``graph_merge`` on the snapshot-versioned
    COW table (``kg/snapshots.py``) — plus its isolation guarantees,
    asserted in-query so a regression turns the row red: a reader resolved BEFORE the merge still sees the v1 rowset
    afterwards (immutable data files), time travel to v1 equals that
    reader, untouched buckets' manifest entries are reused verbatim from
    the parent (copy-on-write actually copied nothing it didn't have
    to), and the commit CAS rejects a duplicate version.  Returns the
    current snapshot; oracle = the merge in SQL (same as graph_merge)."""

    from .kg.snapshots import (
        SnapshotConflict,
        _commit_manifest,
        _fs,
        read_snapshot,
        snapshot_create,
        snapshot_merge,
        snapshot_versions,
    )

    base = tpch_triples(spark, sf_dir)
    root = _scratch_dir("kg_snap_") + "/table"
    m1 = snapshot_create(spark, base, root, buckets=8)
    v1_reader = read_snapshot(spark, root)  # resolved pre-merge
    v1_rows = v1_reader.count()

    region = _read(spark, sf_dir, "region")
    region_uri = F.concat(F.lit("urn:region:"),
                          F.col("r_regionkey").cast("string"))
    adds = region.select(
        region_uri.alias("subj"), F.lit(SKOS_ALTLABEL).alias("pred"),
        F.lower(F.col("r_name")).alias("obj_value"),
        F.lit("literal").alias("obj_kind"), F.lit("en").alias("obj_lang"))
    deletes = base.filter(F.col("pred") == REL_REGION)
    m2 = snapshot_merge(spark, root, adds=adds, deletes=deletes)

    if v1_reader.count() != v1_rows:  # isolation: pre-merge reader intact
        raise AssertionError("pre-merge reader saw the merge")
    if read_snapshot(spark, root, version=1).count() != v1_rows:
        raise AssertionError("time travel to v1 broken")
    untouched = [b for b in m2["buckets"]
                 if int(b) not in m2["buckets_touched"]]
    if any(m2["buckets"][b] != m1["buckets"][b] for b in untouched):
        raise AssertionError("COW rewrote an untouched bucket")
    fs, hpath = _fs(spark, root)
    try:
        _commit_manifest(fs, hpath, root, dict(m2))
        raise AssertionError("duplicate-version commit did not CAS-fail")
    except SnapshotConflict:
        pass
    if [m["version"] for m in snapshot_versions(spark, root)] != [1, 2]:
        raise AssertionError("lineage chain broken")
    return read_snapshot(spark, root).drop("subj_bucket")


def q_kg_iceberg_seam(spark, sf_dir):
    """Round-5 Iceberg-catalog seam (kg/iceberg.py) exercised through
    its UNIFIED API on the parquet branch: ``table_create`` (v1) ->
    ``table_merge`` COW (v2: deletes every rel:nation membership edge,
    adds lowercase nation alt-labels, and one membership edge present
    in BOTH sets — delete-then-add precedence means it survives) ->
    ``read_table`` current + time travel, with in-query assertions
    that turn the row red on regression: time-travel v1 equals the
    pre-merge rowset, lineage is [1, 2], a path target routes to the
    parquet layer (``catalog_of`` None) and a table-shaped target
    without a configured catalog raises the NAMED
    ``IcebergCatalogNotConfigured`` (scope boundary held).  The
    catalog branch of the same API is config-gated in pytest; this row
    pins the dispatch + COW semantics under the driver's value-hash."""
    from .kg.iceberg import (
        IcebergCatalogNotConfigured,
        catalog_of,
        read_table,
        table_create,
        table_merge,
        table_versions,
    )

    base = tpch_triples(spark, sf_dir)
    root = _scratch_dir("kg_iceberg_") + "/table"
    m1 = table_create(spark, base, root, buckets=8)
    if m1["version"] != 1:
        raise AssertionError("parquet branch did not return manifest v1")
    v1_rows = read_table(spark, root).count()

    nation = _read(spark, sf_dir, "nation")
    nation_uri = F.concat(F.lit("urn:nation:"),
                          F.col("n_nationkey").cast("string"))
    alt = nation.select(
        nation_uri.alias("subj"), F.lit(SKOS_ALTLABEL).alias("pred"),
        F.lower(F.col("n_name")).alias("obj_value"),
        F.lit("literal").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_lang"))
    deletes = base.filter(F.col("pred") == REL_NATION)
    survivor = deletes.filter(F.col("subj") == "urn:cust:1")
    table_merge(spark, root, adds=alt.unionByName(survivor),
                deletes=deletes)

    if catalog_of(spark, root) is not None:
        raise AssertionError("path target misrouted to a catalog")
    try:
        catalog_of(spark, "prod.kg.triples")
        raise AssertionError("unconfigured catalog not rejected")
    except IcebergCatalogNotConfigured:
        pass
    if read_table(spark, root, version=1).count() != v1_rows:
        raise AssertionError("seam time travel to v1 broken")
    if [v["version"] for v in table_versions(spark, root)] != [1, 2]:
        raise AssertionError("seam lineage broken")
    return read_table(spark, root).drop("subj_bucket")


def q_kg_snapshot_sparql(spark, sf_dir):
    """Time-travel SPARQL: the SAME aggregate query evaluated against
    two versions of a snapshot-versioned triple table — v1 the base
    graph, v2 after a MERGE that deletes every rel:region edge and adds
    lowercase region alt-labels.  Each version resolves its own
    immutable manifest, so the two results differ exactly by the merge
    delta: v1 counts nation->region memberships, v2 counts none of
    those but sees the new alt-labels.  Demonstrates SPARQL-over-
    snapshot composition; oracle rebuilds both versions' relations in
    SQL."""

    from .kg.snapshots import read_snapshot, snapshot_create, snapshot_merge
    from .sparql import sparql_select

    base = tpch_triples(spark, sf_dir)
    root = _scratch_dir("kg_snap_sparql_") + "/table"
    snapshot_create(spark, base, root, buckets=8)

    region = _read(spark, sf_dir, "region")
    region_uri = F.concat(F.lit("urn:region:"),
                          F.col("r_regionkey").cast("string"))
    adds = region.select(
        region_uri.alias("subj"), F.lit(SKOS_ALTLABEL).alias("pred"),
        F.lower(F.col("r_name")).alias("obj_value"),
        F.lit("literal").alias("obj_kind"), F.lit("en").alias("obj_lang"))
    deletes = base.filter(F.col("pred") == REL_REGION)
    snapshot_merge(spark, root, adds=adds, deletes=deletes)

    q = """
        SELECT ?p (COUNT(?o) AS ?n) WHERE {{
            ?s ?p ?o .
            FILTER(?p = <{rel_region}> || ?p = <{skos_alt}>)
        }} GROUP BY ?p
    """.format(rel_region=REL_REGION, skos_alt=SKOS_ALTLABEL)
    out = None
    for v in (1, 2):
        part = (sparql_select(
            read_snapshot(spark, root, version=v).drop("subj_bucket"), q)
            .withColumn("version", F.lit(v)))
        out = part if out is None else out.unionByName(part)
    return out


def q_kg_rdfxml_shards(spark, sf_dir):
    """K1 distributed: serialize the pipeline's per-conversation triple
    closures to RDF/XML shards (deterministic serializer, fixture-parity
    rules), PARSE EACH SHARD BACK, and return (shard, n_triples, fp) where
    fp is a bnode-bijection-safe content fingerprint of the parsed-back
    triples — hash-compared against the committed pure-Python golden, so
    the driver pins full round-trip content, not just counts."""
    from .kg.extract import KG_CONVERSATION
    from .sinks.rdfxml_sink import serialize_shards

    res = _pipeline_result(spark)
    conv_triples = res.triples.filter(
        F.col("subj").startswith("_:")
        | F.col("subj").startswith("urn:conv:"))
    # shard by conversation: bnodes never cross conversations, so each
    # shard's subject closure is complete (SURVEY.md §3 E3).  Bnode labels
    # don't carry the conv id — recover it via the kg:conversation edge
    # (self-join on subject).
    conv_of = (
        conv_triples.filter(F.col("pred") == KG_CONVERSATION)
        .select(F.col("subj").alias("b"), F.col("obj_value").alias("ctx")))
    sharded = (
        conv_triples.join(conv_of, conv_triples["subj"] == conv_of["b"], "left")
        .withColumn("context", F.coalesce(
            F.col("ctx"),
            F.when(F.col("subj").startswith("urn:conv:"), F.col("subj"))))
        .filter(F.col("context").isNotNull())
        .drop("b", "ctx")
    )
    shards = serialize_shards(sharded, "context")

    def parse_back(batches):
        import pandas as pd
        import xml.etree.ElementTree as ET

        from .graph import Graph
        from .kg.fingerprint import triple_set_fingerprint
        from .model import node_to_row
        from .rdfxml.parser import RDFParser

        for batch in batches:
            out = {"shard": [], "n_triples": [], "fp": []}
            for shard, xml in zip(batch["shard"], batch["xml"]):
                g = RDFParser(sink=Graph()).parse(ET.fromstring(xml))
                rows = [node_to_row(s, p, o) for s, p, o in g.triples()]
                out["shard"].append(shard)
                out["n_triples"].append(len(rows))
                out["fp"].append(triple_set_fingerprint(rows))
            yield pd.DataFrame(out)

    return shards.mapInPandas(
        parse_back, schema="shard string, n_triples long, fp string")


def q_stream_mention_rate(spark, sf_dir):
    """Structured Streaming surface, drained in COMPLETE mode via
    foreachBatch: file stream of transcript drops -> incremental mention
    extraction -> hourly windowed mention rates with exact distinct-conv
    counts.  Complete-mode drain emits every window including the final
    one (append + watermark would hold the tail window back forever on a
    bounded input).  Hash-compared against the committed pure-Python
    golden windows."""

    from .streaming.transcript_stream import (
        mention_rate,
        read_transcript_stream,
        run_to_parquet_complete,
        stream_mentions,
    )

    base = _scratch_dir("stream_q_")
    _synth_transcripts(spark).write.mode("overwrite").parquet(base + "/in")
    q = run_to_parquet_complete(
        mention_rate(stream_mentions(read_transcript_stream(spark, base + "/in")),
                     window="1 hour", watermark="0 seconds"),
        base + "/out", base + "/ckpt")
    q.awaitTermination(600)
    return spark.read.parquet(base + "/out").select(
        F.unix_timestamp("window_start").alias("window_start"),
        F.unix_timestamp("window_end").alias("window_end"),
        "surface_key",
        F.col("n_mentions").cast("long").alias("n_mentions"),
        F.col("n_convs").cast("long").alias("n_convs"))


def _write_turn_slices(spark, base: str) -> str:
    """Write the seeded transcripts as turn-slice parquet files with
    strictly increasing mtimes (file-source batch order follows
    modification time) — the forced-multi-micro-batch input shared by the
    streaming driver queries.  Two slices: the minimum that still forces
    state/merge results to carry ACROSS micro-batches (the property under
    test; the oracles are slicing-independent, and the per-micro-batch
    machinery dominates the gate's wall-clock — tests/test_streaming.py
    exercises deeper slicings).  Returns the input directory."""
    import os

    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    t = _synth_transcripts(spark)
    for i, (lo, hi) in enumerate([(0, 3), (4, 7)]):
        part = os.path.join(base, "part%d" % i)
        t.filter(F.col("turn_idx").between(lo, hi)).coalesce(1).write.mode(
            "overwrite").parquet(part)
        src = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        dst = os.path.join(in_dir, "slice_%d.parquet" % i)
        os.rename(os.path.join(part, src), dst)
        # the explicit mtimes fully determine file-source batch order
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    return in_dir


def q_stream_stateful_scores(spark, sf_dir):
    """Custom stateful streaming operator (``applyInPandasWithState``)
    under FORCED multi-micro-batch processing: the input is written as
    turn-slice files with strictly increasing mtimes and drained
    with maxFilesPerTrigger=1, so every conversation's support state MUST
    carry across micro-batches to produce the batch-path cumulative
    scores.  Oracle: the golden kg_mentions scores reformatted — the
    operator's contract is exact batch equivalence."""
    import os

    from .streaming.transcript_stream import (
        await_drain,
        read_transcript_stream,
        run_to_parquet,
        stateful_mention_scores,
        stream_mentions,
    )

    base = _scratch_dir("stream_state_q_")
    in_dir = _write_turn_slices(spark, base)
    stream = read_transcript_stream(spark, in_dir, max_files_per_trigger=1)
    q = run_to_parquet(
        stateful_mention_scores(stream_mentions(stream),
                                state_ttl_minutes=None),
        os.path.join(base, "out"), os.path.join(base, "ckpt"))
    await_drain(q, timeout_sec=420)
    return spark.read.parquet(os.path.join(base, "out")).select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("start").cast("long").alias("start"),
        "surface", "surface_key", "score")


def q_stream_dedup_fps(spark, sf_dir):
    """Streaming ingestion-time exact dedup under FORCED multi-micro-batch
    processing (2 shards, maxFilesPerTrigger=1): the documents table
    arrives as file drops, stateful ``dropDuplicates`` on the
    normalized-text fingerprint keeps the first-seen doc per key ACROSS
    batches.  The surviving doc per group is arrival-order-dependent, so
    the oracle-stable projection is the surviving FINGERPRINT set —
    which must equal DuckDB's ``SELECT DISTINCT md5(normalized)``."""
    import os

    from .streaming.doc_stream import read_document_stream, stream_exact_dedup
    from .streaming.transcript_stream import run_to_parquet

    base = _scratch_dir("stream_dedup_")
    in_dir = os.path.join(base, "in")
    _read(spark, sf_dir, "documents").repartition(2, "doc_id") \
        .write.parquet(in_dir)
    q = run_to_parquet(
        stream_exact_dedup(read_document_stream(
            spark, in_dir, max_files_per_trigger=1)),
        os.path.join(base, "out"), os.path.join(base, "ckpt"))
    q.awaitTermination(600)
    return spark.read.parquet(os.path.join(base, "out")).select("fp")


def q_stream_merge_triples(spark, sf_dir):
    """Incremental KG maintenance end-to-end: transcript file drops ->
    incremental mention extraction -> stateless triple fan-out -> per-
    micro-batch MERGE (set semantics, ``snapshot_merge``) into the
    snapshot triple table.  Forced
    multi-micro-batch (turn-slice files, maxFilesPerTrigger=1) so the
    table is built by successive merges, each deduplicating against the
    rows the earlier ones committed.  Oracle: the pure-Python golden of
    the stateless fan-out over all mentions — the table the merges must
    converge to regardless of batch slicing."""
    import os

    from .kg.snapshots import read_snapshot
    from .streaming.transcript_stream import (
        read_transcript_stream,
        run_merge_to_triple_table,
        stream_mentions,
        stream_triples,
    )

    base = _scratch_dir("stream_merge_q_")
    in_dir = _write_turn_slices(spark, base)
    stream = read_transcript_stream(spark, in_dir, max_files_per_trigger=1)
    table = os.path.join(base, "triple_table")
    q = run_merge_to_triple_table(
        stream_triples(stream_mentions(stream)), table,
        os.path.join(base, "ckpt"), buckets=8)
    q.awaitTermination(600)
    return read_snapshot(spark, table).select(
        "subj", "pred", "obj_value", "obj_kind", "obj_lang")


def q_stream_nq_ingest(spark, sf_dir):
    """Streaming named-graph ingest end-to-end: the TPC-H quad split
    written as six ``.nq`` slice files, streamed one file per
    micro-batch through the SAME column-expression parser the batch
    path uses, MERGEd exactly-once (null-safe 6-column anti-join,
    replay-idempotent foreachBatch) into a parquet quad table.  Oracle
    = the batch quads relation — six successive merges must converge to
    exactly the batch parse, including default-graph NULL contexts."""
    import os

    from .sinks.nquads_sink import write_nquads
    from .streaming.quad_stream import (
        read_nquads_stream,
        run_nquads_to_quad_table,
    )

    quads = tpch_triples(spark, sf_dir).withColumn(
        "context",
        F.when(F.col("subj").startswith("urn:cust:"), F.lit("urn:g:cust"))
        .when(F.col("subj").startswith("urn:supp:"), F.lit("urn:g:supp"))
        .otherwise(F.lit(None).cast("string")))
    base = _scratch_dir("stream_nq_")
    in_dir = os.path.join(base, "in")
    write_nquads(quads, in_dir, num_files=6)
    stream = read_nquads_stream(spark, in_dir, glob="*.txt",
                                max_files_per_trigger=1)
    table = os.path.join(base, "quad_table")
    q = run_nquads_to_quad_table(stream, table,
                                 os.path.join(base, "ckpt"))
    q.awaitTermination(600)
    return spark.read.parquet(table)


def q_stream_graph_hashes(spark, sf_dir):
    """Incremental per-graph content fingerprints over streaming ingest
    (streaming/quad_stream.py::run_nquads_with_graph_hashes): per-nation
    membership quads written as six .nq slices, streamed two files per
    micro-batch; each batch's genuinely-new rows XOR-fold into the
    manifest-committed hash state (the fold distributes over set-insert
    deltas, so incremental == batch exactly).  Oracle = the batch fold
    in SQL over the same relations — the streamed state must hash-match
    it bit-for-bit."""
    import os

    from .sinks.nquads_sink import write_nquads
    from .streaming.quad_stream import (
        read_graph_hashes,
        read_nquads_stream,
        run_nquads_with_graph_hashes,
    )

    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")

    def q(df, subj, nkey):
        return df.select(
            F.concat(F.lit("urn:g:"),
                     F.col(nkey).cast("string")).alias("context"),
            subj.alias("subj"), F.lit("urn:rel:in").alias("pred"),
            F.concat(F.lit("urn:nation:"),
                     F.col(nkey).cast("string")).alias("obj_value"),
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"))

    quads = (q(cust, F.concat(F.lit("urn:cust:"),
                              F.col("c_custkey").cast("string")),
               "c_nationkey")
             .unionByName(q(supp, F.concat(F.lit("urn:supp:"),
                                           F.col("s_suppkey").cast("string")),
                            "s_nationkey")))
    base = _scratch_dir("stream_gh_")
    in_dir = os.path.join(base, "in")
    write_nquads(quads, in_dir, num_files=6)
    stream = read_nquads_stream(spark, in_dir, glob="*.txt",
                                max_files_per_trigger=2)
    q_ = run_nquads_with_graph_hashes(
        stream, os.path.join(base, "table"), os.path.join(base, "hashes"),
        os.path.join(base, "ckpt"))
    q_.awaitTermination(600)
    return read_graph_hashes(spark, os.path.join(base, "hashes"))


def q_similarity_lsh_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id")
    return lsh_topk(emb, queries, k=5, n_planes=8, dim=64, bands=4).withColumn(
        "rank", F.col("rank").cast("long"))


def q_similarity_ivf_topk(spark, sf_dir):
    """IVF-flat approximate top-k (Voronoi coarse quantizer over
    deterministic pivots, probe-2, exact cosine re-rank) — the
    complementary ANN strategy to sign-LSH banding."""
    from .textops.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id")
    return ivf_topk(emb, queries, k=5, n_pivots=8, probes=2,
                    dim=64).withColumn("rank", F.col("rank").cast("long"))


def q_similarity_ivf_arrow(spark, sf_dir):
    """The IVF scale path (`use_arrow=True`: numpy-matmul bucket
    assignment, probe scoring, and cosine re-rank — measured ~3.7x the
    expression twin, BENCH/BASELINE.md) against the SAME sequential-fold
    SQL oracle: the 6-decimal rounding absorbs summation-order noise, so
    the Arrow path is value-exact on this data (asserted here by the
    driver's hash compare, and for top-k result sets in tests)."""
    from .textops.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id")
    return ivf_topk(emb, queries, k=5, n_pivots=8, probes=2, dim=64,
                    use_arrow=True).withColumn(
                        "rank", F.col("rank").cast("long"))


def q_similarity_ivf_kmeans(spark, sf_dir):
    """TRAINED IVF (engine extension; ANN scale path with a learned
    coarse quantizer): fixed-point Lloyd k-means (8 centroids, 2
    iterations on the 2^-20 integer grid — exact int64 arithmetic, so
    the iterative training is order-independent and hash-reproducible),
    then probe-2 integer-L2 top-5 over 16 query vectors.  Oracle = the
    identical integer algorithm as chained CTEs in DuckDB: the
    fixed-point PageRank discipline applied to ANN training."""
    from .textops.kmeans import ivf_kmeans_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 16).withColumnRenamed(
        "vec_id", "query_id")
    return ivf_kmeans_topk(emb, queries, k=5, n_pivots=8, n_iter=2,
                           probes=2).withColumn(
                               "rank", F.col("rank").cast("long"))


# ==========================================================================
# registry
# ==========================================================================

# ==========================================================================
# dataset assembly: deterministic splits / sampling / sequence packing,
# repetition-based quality stats, whole-graph triangle analytics
# ==========================================================================

def q_data_prep_pipeline(spark, sf_dir):
    """CAPSTONE composition, training-data side (the LLM-pretraining
    mirror of ``kg_publish_pipeline``): the full data-prep chain a
    100-TB corpus runs before tokenization, as ONE query —

    1. FUZZY DEDUP DECISION: MinHash-LSH pairs -> connected components
       -> per-doc keep flag (``textops/dedup.py``); drop the dups.
    2. QUALITY GATE: survivors scored by
       ``textstats.quality_features``; keep ``quality_score >= 4``.
    3. DECONTAMINATION: drop any survivor sharing a 13-gram with the
       held-out eval slice (``doc_id % 10 == 3``), hashed-gram
       broadcast probe (``textops/decontaminate.py``).
    4. SPLIT + BUDGET: deterministic md5 train/val/test assignment
       (``textops/sampling.assign_split``) and per-doc token counts —
       the (doc_id, split, n_tokens) relation a packing/mixing stage
       consumes.

    Every stage's per-doc metric is subset-independent (dedup keep
    flags come from the full corpus; quality/contamination/split are
    per-doc functions), so the oracle composes the four independently
    verified component oracles by doc_id equi-joins — one green row
    pins the whole chain end-to-end.  Plan shape: the corpus is
    scanned by each metric stage, the decision sets are id-only and
    AQE-broadcast back; no corpus-sized shuffle beyond the components'
    own audited exchanges."""
    from .textops.decontaminate import decontaminate
    from .textops.dedup import minhash_dedup_clusters
    from .textops.sampling import assign_split
    from .textops.textstats import quality_features, token_count

    docs = _read(spark, sf_dir, "documents")
    kept = (minhash_dedup_clusters(docs, k=16, bands=8, threshold=0.6,
                                   hash_fn="md5")
            .filter(F.col("keep")).select("doc_id"))
    stage1 = docs.join(kept, "doc_id")
    good = (quality_features(stage1.select("doc_id", "text"))
            .filter(F.col("quality_score") >= 4).select("doc_id"))
    stage2 = stage1.join(good, "doc_id")
    corpus = stage2.filter(F.col("doc_id") % 10 != 3)
    eval_set = docs.filter(F.col("doc_id") % 10 == 3)
    clean = (decontaminate(corpus, eval_set, n=13)
             .filter(~F.col("contaminated")).select("doc_id"))
    stage3 = corpus.join(clean, "doc_id")
    return assign_split(stage3, "doc_id").select(
        "doc_id", "split",
        token_count(F.col("text")).cast("long").alias("n_tokens"))


def q_sample_hash_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment keyed on md5(id):
    shuffle-free, order-independent, stable under incremental ingestion
    (a document can never migrate between splits as the corpus grows)."""
    from .textops.sampling import assign_split

    docs = _read(spark, sf_dir, "documents")
    return assign_split(docs, "doc_id").select("doc_id", "split")


def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified sample: the 20 smallest-md5 documents per
    language — a uniform per-stratum sample every engine reproduces.
    Runs the HOT-STRATUM path (salted two-stage top-k aggregation, no
    window); the window path produces the identical set (asserted in
    tests/test_sampling.py) against the same oracle."""
    from .textops.sampling import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", "doc_id", 20,
                             salt_buckets=8).select("doc_id", "lang")


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing into 512-token windows: per-doc
    (bucket, pack_id, pack_offset) metadata, embarrassingly parallel
    across md5-prefix buckets."""
    from .textops.sampling import pack_sequences

    docs = _read(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", max_len=512).select(
        "doc_id", "bucket", "n_tokens", "pack_id", "pack_offset")


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition statistics (top-token / top-bigram
    concentration) via explode + two-level partial-aggregatable counts."""
    from .textops.textstats import repetition_features

    return repetition_features(_read(spark, sf_dir, "documents"))


def q_sample_weighted(spark, sf_dir):
    """Deterministic per-row Bernoulli mixing
    (textops/sampling.py::weighted_sample): each language gets its own
    keep rate (en 800k ppm, zh 500k, rest 250k — a data-mixing recipe),
    drawn as md5int(id) mod 1e6 < rate so the coin flips are exact
    integers, reproducible across engines, and independent of row
    order.  Zero shuffle — the draw is a pushable per-row predicate.
    Oracle = the identical draw in SQL."""
    from .textops.sampling import weighted_sample

    docs = _read(spark, sf_dir, "documents")
    rate = (F.when(F.col("lang") == "en", 800_000)
            .when(F.col("lang") == "zh", 500_000)
            .otherwise(250_000))
    return weighted_sample(docs, rate).select("doc_id", "lang", "source")


def q_text_boilerplate(spark, sf_dir):
    """Boilerplate line removal (textops/boilerplate.py): the documents
    table is deterministically wrapped with a per-source HEADER and
    footer line (100% of each source's docs) plus a PROMO line on every
    third doc (~33%); detection flags exactly the header/footer
    (strict integer threshold: n*100 > 50*n_docs), the strip drops them
    corpus-wide via one broadcast per-source array + JVM array algebra
    (split/filter/array_join — no second explode), and the PROMO line
    survives.  Oracle recomputes detection AND stripping in SQL
    (list_filter lambda over the same built texts)."""
    from .textops.boilerplate import strip_boilerplate

    built = _read(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.lit("HEADER "), F.col("source"), F.lit("\n"), F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("\nPROMO offer"))
             .otherwise(F.lit("")),
            F.lit("\nfooter "), F.col("source")))
    return (strip_boilerplate(built, min_docs=2, max_doc_pct=50)
            .select("doc_id", "source", "text"))


def q_text_tfidf(spark, sf_dir):
    """Fixed-point TF-IDF top-5 terms per document
    (textops/tfidf.py::tfidf_topk): score = tf * N * SCALE div df in
    exact BIGINT (rational idf — float log is not bit-identical across
    engines; ranking unchanged for fixed tf), ties broken on term.
    One explode + two partial aggregations + a term-keyed df join + a
    per-doc window (fine-grained key, no skew).  Oracle = the same
    algebra in SQL with BIGINT // division."""
    from .textops.tfidf import tfidf_topk

    return tfidf_topk(_read(spark, sf_dir, "documents"), k=5)


def q_kg_graph_hashes(spark, sf_dir):
    """Per-named-graph canonical content fingerprints
    (kg/fingerprint.py::graph_content_hashes): membership edges in one
    graph per nation, the customer slice unioned TWICE so the oracle
    also proves set semantics (duplicates collapse before the XOR
    fold).  Order-independent 60-bit md5-prefix bit_xor + count — no
    per-graph sort, no collect_list, hub graphs never materialize in a
    task.  Oracle = the same fold in SQL (DISTINCT + bit_xor over
    CAST('0x'||substr(md5(...)) AS BIGINT))."""
    from .kg.fingerprint import graph_content_hashes

    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")

    def q(df, subj, nkey):
        return df.select(
            F.concat(F.lit("urn:g:"),
                     F.col(nkey).cast("string")).alias("context"),
            subj.alias("subj"), F.lit("urn:rel:in").alias("pred"),
            F.concat(F.lit("urn:nation:"),
                     F.col(nkey).cast("string")).alias("obj_value"),
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"))

    cq = q(cust, F.concat(F.lit("urn:cust:"),
                          F.col("c_custkey").cast("string")), "c_nationkey")
    sq = q(supp, F.concat(F.lit("urn:supp:"),
                          F.col("s_suppkey").cast("string")), "s_nationkey")
    return graph_content_hashes(cq.unionByName(cq).unionByName(sq))


def q_text_bpe(spark, sf_dir):
    """BPE vocabulary training (textops/bpe.py::train_bpe): 10 merges
    learned over the seeded synthetic transcript corpus — the REAL
    Sennrich merge loop, with the per-word greedy fold expressed as a
    pure JVM F.aggregate column expression (no Python UDF anywhere).
    Per round: one partial-aggregated (pair, count) shuffle + a
    driver-side argmax (control-plane, like kmeans' centroids); ties
    break lexicographically so the merge list is bit-identical across
    partitionings.  Oracle = committed golden from the independent
    pure-Python trainer (tools/golden_ref.py::ref_bpe_merges)."""
    from .textops.bpe import train_bpe

    merges = train_bpe(_synth_transcripts(spark), n_merges=10,
                       min_count=2)
    return local_frame(
        spark,
        [(r, l, rt, n) for r, l, rt, n in merges],
        "rank int, left string, right string, n long")


def q_text_bpe_tokens(spark, sf_dir):
    """BPE application end-to-end (textops/bpe.py::apply_bpe): the
    merges trained by ``text_bpe`` replayed over the same transcript
    corpus as K chained JVM F.aggregate folds, token streams
    reassembled with explicit posexplode ordering, then exploded to
    one (conv_id, turn_idx, pos, token) row per sub-word.  Oracle =
    committed golden from the independent pure-Python
    tokenizer (golden_ref.ref_bpe_tokens)."""
    from .textops.bpe import apply_bpe, train_bpe

    t = _synth_transcripts(spark)
    merges = train_bpe(t, n_merges=10, min_count=2)
    toks = apply_bpe(t, merges, id_cols=["conv_id", "turn_idx"])
    return toks.select(
        "conv_id", "turn_idx",
        F.posexplode("bpe_tokens").alias("pos", "token"))


def q_text_bpe_arrow(spark, sf_dir):
    """BPE application via the PRODUCTION-vocab path
    (textops/bpe.py::_apply_bpe_arrow): the same trained merges as
    ``text_bpe_tokens`` applied through the single-pass Arrow
    ``mapInPandas`` tokenizer (per-batch unique-word cache,
    lowest-rank-pair iteration — provably equivalent to the rank-order
    fold for trained merge lists, see apply_bpe's docstring).  Zero
    shuffle and O(1) plan depth in vocabulary size, vs. the fold
    path's K-deep expression tree — this is the strategy auto-selected
    above ARROW_MERGE_THRESHOLD merges.  Oracle = the SAME committed
    golden as text_bpe_tokens (golden_ref.ref_bpe_tokens), so the
    driver pins cross-strategy parity."""
    from .textops.bpe import apply_bpe, train_bpe

    t = _synth_transcripts(spark)
    merges = train_bpe(t, n_merges=10, min_count=2)
    toks = apply_bpe(t, merges, id_cols=["conv_id", "turn_idx"],
                     strategy="arrow")
    return toks.select(
        "conv_id", "turn_idx",
        F.posexplode("bpe_tokens").alias("pos", "token"))


def q_text_chunks(spark, sf_dir):
    """Fixed-window chunking with overlap
    (textops/chunking.py::chunk_documents): 16-token windows sliding by
    12 over every document — pure JVM array algebra (split/sequence/
    transform/slice) + one posexplode, NO shuffle (chunking is
    row-local; output rides the input partitioning).  Oracle = the same
    windows via generate_series + list_slice."""
    from .textops.chunking import chunk_documents

    return chunk_documents(_read(spark, sf_dir, "documents"),
                           max_tokens=16, overlap=4)


def q_text_collocations(spark, sf_dir):
    """Windowed co-occurrence counts
    (textops/collocations.py::collocation_counts): ordered token pairs
    within 2 positions plus unigram marginals and the corpus total —
    the exact-integer relation every PMI-family association score is a
    presentation function of (no log, no float, no overflow).  Pair
    generation is row-local array algebra (no positional self-join);
    counting is two partial aggregations.  Oracle = the same windows
    via generate_series + list_slice."""
    from .textops.collocations import collocation_counts

    return collocation_counts(_read(spark, sf_dir, "documents"),
                              window=2, min_count=3)


def q_graph_triangles(spark, sf_dir):
    """Per-node triangle participation over a deterministic circulant
    graph C_n(1,2) on the nation nodes (each i linked to i+1 and i+2 mod
    n — every node sits in exactly 3 triangles, so the answer is fully
    checkable).  The .count() is control-plane (25-row dimension)."""
    from .operators.graph_algos import triangle_participation

    nation = _read(spark, sf_dir, "nation")
    n = nation.count()
    uri = F.concat(F.lit("urn:nation:"), F.col("n_nationkey").cast("string"))
    edges = None
    for step in (1, 2):
        e = nation.select(
            uri.alias("src"),
            F.concat(F.lit("urn:nation:"),
                     ((F.col("n_nationkey") + step) % n).cast("string"))
            .alias("dst"))
        edges = e if edges is None else edges.unionByName(e)
    return triangle_participation(edges)


# Ordering contract: the driver iterates QUERIES in dict order and its
# per-round run is budget-capped (CORRECTNESS_r02 recorded exactly the
# first 50 entries).  Queries that have never had a driver-written green
# CORRECTNESS row therefore run FIRST — the round-1 failures (kg_*,
# stream_mention_rate) at the very front — and the 50 entries already
# green in CORRECTNESS_r02 run last (they are re-verified whenever budget
# allows; all 91 also run in tools/check_oracles.py every round).
QUERIES = {
    # -- never driver-verified: round-1 failures first ---------------------
    # (kg_*/stream queries are oracled against committed golden parquet
    # generated by the independent pure-Python reference pipeline,
    # tools/golden_ref.py; cross-checked by tools/make_golden.py)
    "kg_mentions": q_kg_mentions,
    "kg_triples": q_kg_triples,
    "kg_canonical_map": q_kg_canonical_map,
    "kg_entity_labels": q_kg_entity_labels,
    "kg_rdfxml_shards": q_kg_rdfxml_shards,
    "kg_checkpoint_resume": q_kg_checkpoint_resume,
    "kg_shacl_report": q_kg_shacl_report,
    "kg_shacl_paths": q_kg_shacl_paths,
    "kg_shacl_graphs": q_kg_shacl_graphs,
    "kg_shacl_closed": q_kg_shacl_closed,
    "kg_shacl_report_rdf": q_kg_shacl_report_rdf,
    "rdfs_schema_cycles": q_rdfs_schema_cycles,
    "owl_chain_entailment": q_owl_chain_entailment,
    "kg_snapshot_merge": q_kg_snapshot_merge,
    "kg_iceberg_seam": q_kg_iceberg_seam,
    "kg_snapshot_sparql": q_kg_snapshot_sparql,
    "stream_shacl_maintain": q_stream_shacl_maintain,
    "stream_mention_rate": q_stream_mention_rate,
    "kg_sparql_entities": q_kg_sparql_entities,
    "kg_structure_triples": q_kg_structure_triples,
    "kg_e2e_sparql": q_kg_e2e_sparql,
    "sparql_hash_funcs": q_sparql_hash_funcs,
    "sparql_term_constructors": q_sparql_term_constructors,
    "sparql_datetime_funcs": q_sparql_datetime_funcs,
    "sparql_named_graphs": q_sparql_named_graphs,
    "sparql_group_order_expr": q_sparql_group_order_expr,
    "sparql_path_graph_var": q_sparql_path_graph_var,
    "sparql_path_mixed": q_sparql_path_mixed,
    # -- never driver-verified: S/K operators, analytics, streaming --------
    "graph_contains": q_graph_contains,
    "rdf_ingest_dir": q_rdf_ingest_dir,
    "nt_ingest": q_nt_ingest,
    "ttl_ingest": q_ttl_ingest,
    "jsonld_ingest": q_jsonld_ingest,
    "jsonld_roundtrip": q_jsonld_roundtrip,
    "nq_ingest": q_nq_ingest,
    "trig_ingest": q_trig_ingest,
    "sparql_dataset_ingest": q_sparql_dataset_ingest,
    "sparql_update_graphs": q_sparql_update_graphs,
    "nt_roundtrip": q_nt_roundtrip,
    "ttl_roundtrip": q_ttl_roundtrip,
    "nq_roundtrip": q_nq_roundtrip,
    "trig_roundtrip": q_trig_roundtrip,
    "sparql_json_decode": q_sparql_json_decode,
    "rdfxml_roundtrip": q_rdfxml_roundtrip,
    "scalar_functions": q_scalar_functions,
    "scalar_matches_iri": q_scalar_matches_iri,
    "embed_cosine_topk": q_embed_cosine_topk,
    "embed_dup_pairs": q_embed_dup_pairs,
    "embed_dup_clusters": q_embed_dup_clusters,
    "similarity_lsh_topk": q_similarity_lsh_topk,
    "similarity_ivf_topk": q_similarity_ivf_topk,
    "similarity_ivf_arrow": q_similarity_ivf_arrow,
    "multimodal_features": q_multimodal_features,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_frames": q_multimodal_frames,
    "events_sessions": q_events_sessions,
    "events_asof_signup": q_events_asof_signup,
    "events_range_hot_hours": q_events_range_hot_hours,
    "events_range_hot_hours_bucketized": q_events_range_hot_hours_bucketized,
    "events_quantiles": q_events_quantiles,
    "text_bpe_tokens": q_text_bpe_tokens,
    "text_bpe_arrow": q_text_bpe_arrow,
    "owl_graphs_entailment": q_owl_graphs_entailment,
    "kg_publish_pipeline": q_kg_publish_pipeline,
    "kg_void": q_kg_void,
    "kg_snapshot_compact": q_kg_snapshot_compact,
    "kg_edge_cut": q_kg_edge_cut,
    "pricing_summary": q_pricing_summary,
    "pricing_pivot": q_pricing_pivot,
    "pricing_cube": q_pricing_cube,
    "pricing_rollup": q_pricing_rollup,
    "stream_stateful_scores": q_stream_stateful_scores,
    "stream_dedup_fps": q_stream_dedup_fps,
    "stream_merge_triples": q_stream_merge_triples,
    "stream_nq_ingest": q_stream_nq_ingest,
    "sample_hash_split": q_sample_hash_split,
    "data_prep_pipeline": q_data_prep_pipeline,
    "sample_stratified": q_sample_stratified,
    "pack_sequences": q_pack_sequences,
    "text_repetition": q_text_repetition,
    "text_boilerplate": q_text_boilerplate,
    "sample_weighted": q_sample_weighted,
    "text_tfidf": q_text_tfidf,
    "text_chunks": q_text_chunks,
    "kg_graph_hashes": q_kg_graph_hashes,
    "stream_graph_hashes": q_stream_graph_hashes,
    "kg_snapshot_diff": q_kg_snapshot_diff,
    "text_collocations": q_text_collocations,
    "text_bpe": q_text_bpe,
    "rdfs_graphs_entailment": q_rdfs_graphs_entailment,
    "kg_snapshot_revalidate": q_kg_snapshot_revalidate,
    "graph_triangles": q_graph_triangles,
    "sparql_path_star": q_sparql_path_star,
    "sparql_path_opt": q_sparql_path_opt,
    # -- driver-green in CORRECTNESS_r02 (re-verified when budget allows) --
    "graph_scan_masked": q_graph_scan_masked,
    "graph_iterate": q_graph_iterate,
    "graph_adjacency_topk": q_graph_adjacency_topk,
    "graph_merge": q_graph_merge,
    "graph_connected_components": q_graph_connected_components,
    "graph_objects": q_graph_objects,
    "graph_find_labels": q_graph_find_labels,
    "graph_bgp": q_graph_bgp,
    "graph_add_dedup": q_graph_add_dedup,
    "graph_remove": q_graph_remove,
    "graph_diff": q_graph_diff,
    "graph_in_degree": q_graph_in_degree,
    "graph_literal_values": q_graph_literal_values,
    "graph_pagerank": q_graph_pagerank,
    "graph_khop": q_graph_khop,
    "graph_shortest_paths": q_graph_shortest_paths,
    "graph_hits": q_graph_hits,
    "graph_walks": q_graph_walks,
    "rdfs_entailment": q_rdfs_entailment,
    "kg_sameas_smush": q_kg_sameas_smush,
    "similarity_ivf_kmeans": q_similarity_ivf_kmeans,
    "stream_rdfs_maintain": q_stream_rdfs_maintain,
    "owl_entailment": q_owl_entailment,
    "owl_equiv_entailment": q_owl_equiv_entailment,
    "kg_key_sameas": q_kg_key_sameas,
    "stream_owl_maintain": q_stream_owl_maintain,
    "sparql_results_csv": q_sparql_results_csv,
    "sparql_results_tsv": q_sparql_results_tsv,
    "sparql_results_xml": q_sparql_results_xml,
    "sparql_update_load": q_sparql_update_load,
    "sparql_select_bgp": q_sparql_select_bgp,
    "sparql_select_bgp_stats": q_sparql_select_bgp_stats,
    "sparql_optional": q_sparql_optional,
    "sparql_union": q_sparql_union,
    "sparql_aggregate": q_sparql_aggregate,
    "sparql_path_seq": q_sparql_path_seq,
    "sparql_path_alt_plus": q_sparql_path_alt_plus,
    "sparql_path_inverse": q_sparql_path_inverse,
    "sparql_not_exists": q_sparql_not_exists,
    "sparql_minus": q_sparql_minus,
    "sparql_values_bind": q_sparql_values_bind,
    "sparql_having": q_sparql_having,
    "sparql_ask": q_sparql_ask,
    "sparql_describe": q_sparql_describe,
    "sparql_construct": q_sparql_construct,
    "sparql_agg_expr": q_sparql_agg_expr,
    "sparql_json_encode": q_sparql_json_encode,
    "sparql_negated_set": q_sparql_negated_set,
    "sparql_path_negated": q_sparql_path_negated,
    "sparql_path_negated_star": q_sparql_path_negated_star,
    "sparql_arithmetic": q_sparql_arithmetic,
    "sparql_subquery": q_sparql_subquery,
    "sparql_update": q_sparql_update,
    "sparql_group_concat": q_sparql_group_concat,
    "sparql_scalar_funcs": q_sparql_scalar_funcs,
    "text_token_count": q_text_token_count,
    "text_fingerprint": q_text_fingerprint,
    "text_simhash": q_text_simhash,
    "text_lang_id": q_text_lang_id,
    "text_quality": q_text_quality,
    "text_decontaminate": q_text_decontaminate,
    "text_pii_redact": q_text_pii_redact,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash": q_dedup_minhash,
    "dedup_clusters": q_dedup_clusters,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
}


# Queries with a driver-written green CORRECTNESS row.  The authoritative
# source is the CORRECTNESS_r*.json files the driver leaves in the repo
# root — ``_driver_green()`` unions them at import time, so the rotation
# self-updates every round without editing this file (after the driver
# writes CORRECTNESS_r04, its 50 rows join the green set automatically
# and the deferred round-4 queries move into round 5's budget).  The
# frozen r01∪r02∪r03 list below is the FALLBACK when the files are not
# readable (e.g. the package imported outside the repo checkout).
_DRIVER_GREEN_FALLBACK = frozenset({
    "dedup_clusters",
    "dedup_exact",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "dedup_simhash_pairs",
    "embed_cosine_topk",
    "embed_dup_clusters",
    "embed_dup_pairs",
    "events_asof_signup",
    "events_quantiles",
    "events_range_hot_hours",
    "events_sessions",
    "graph_add_dedup",
    "graph_adjacency_topk",
    "graph_bgp",
    "graph_connected_components",
    "graph_contains",
    "graph_diff",
    "graph_find_labels",
    "graph_in_degree",
    "graph_iterate",
    "graph_khop",
    "graph_literal_values",
    "graph_merge",
    "graph_objects",
    "graph_pagerank",
    "graph_remove",
    "graph_scan_masked",
    "jsonld_ingest",
    "jsonld_roundtrip",
    "kg_canonical_map",
    "kg_checkpoint_resume",
    "kg_e2e_sparql",
    "kg_entity_labels",
    "kg_mentions",
    "kg_rdfxml_shards",
    "kg_shacl_closed",
    "kg_shacl_graphs",
    "kg_shacl_paths",
    "kg_shacl_report",
    "kg_shacl_report_rdf",
    "kg_snapshot_merge",
    "kg_snapshot_sparql",
    "kg_sparql_entities",
    "kg_structure_triples",
    "kg_triples",
    "nq_ingest",
    "nq_roundtrip",
    "nt_ingest",
    "nt_roundtrip",
    "owl_chain_entailment",
    "pricing_cube",
    "pricing_pivot",
    "pricing_summary",
    "rdf_ingest_dir",
    "rdfs_schema_cycles",
    "rdfxml_roundtrip",
    "scalar_functions",
    "scalar_matches_iri",
    "similarity_ivf_arrow",
    "similarity_ivf_topk",
    "similarity_lsh_topk",
    "sparql_agg_expr",
    "sparql_aggregate",
    "sparql_arithmetic",
    "sparql_ask",
    "sparql_construct",
    "sparql_dataset_ingest",
    "sparql_datetime_funcs",
    "sparql_describe",
    "sparql_group_concat",
    "sparql_group_order_expr",
    "sparql_hash_funcs",
    "sparql_having",
    "sparql_json_decode",
    "sparql_json_encode",
    "sparql_minus",
    "sparql_named_graphs",
    "sparql_negated_set",
    "sparql_not_exists",
    "sparql_optional",
    "sparql_path_alt_plus",
    "sparql_path_graph_var",
    "sparql_path_inverse",
    "sparql_path_mixed",
    "sparql_path_seq",
    "sparql_scalar_funcs",
    "sparql_select_bgp",
    "sparql_select_bgp_stats",
    "sparql_subquery",
    "sparql_union",
    "sparql_update",
    "sparql_update_graphs",
    "sparql_values_bind",
    "stream_mention_rate",
    "stream_shacl_maintain",
    "text_decontaminate",
    "text_fingerprint",
    "text_lang_id",
    "text_pii_redact",
    "text_quality",
    "text_simhash",
    "text_token_count",
    "trig_ingest",
    "trig_roundtrip",
    "ttl_ingest",
    "ttl_roundtrip",
})


def _row_is_green(row) -> bool:
    """A CORRECTNESS row counts as driver-verified ONLY when every
    check the driver performs passed: row count, schema, value hash,
    no error.  Mere presence of a name in a CORRECTNESS file is NOT
    verification — round 4's ``kg_edge_cut``/``graph_hits`` rows had
    ``hash_match: false`` and must stay front-loaded until a round
    writes them green (round-4 verdict directive #1/#2)."""
    return (isinstance(row, dict)
            and row.get("rows_match") is True
            and row.get("schema_match") is True
            and row.get("hash_match") is True
            and not row.get("err"))


def _driver_green(base: str = None) -> dict:
    """Map of query name -> latest round whose CORRECTNESS_r*.json row
    for it is fully green (see ``_row_is_green``) — read at import time
    so the front-load tracks the actual provenance record round over
    round.  Red or errored rows do NOT register: a query that last
    appeared red sorts with the never-verified block and re-enters the
    driver's 50-query window automatically.  ``base`` overrides the
    repo root (tests)."""
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    if base is None:
        base = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    seen: dict = {}
    for path in sorted(_glob.glob(_os.path.join(base,
                                                "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                loaded = _json.load(fh)
            if isinstance(loaded, dict):
                for name, row in loaded.items():
                    if _row_is_green(row):
                        seen[name] = max(seen.get(name, 0), rnd)
        except (OSError, ValueError):
            continue
    return seen if seen else {n: 0 for n in _DRIVER_GREEN_FALLBACK}


# Registry order = what the driver verifies (it runs the first ~50
# entries in dict order).  Two blocks:
#   1. every query WITHOUT a fully-green driver row (never run, red, or
#      errored) — these need verification most;
#   2. the green block, oldest verification first, so the driver's
#      spare slots continuously re-confirm the stalest provenance
#      instead of re-running last round's fresh greens.
# Ties keep original registry order (Python sort is stable).
_green = _driver_green()
QUERIES = {name: QUERIES[name] for group in (
    [n for n in QUERIES if n not in _green],
    sorted([n for n in QUERIES if n in _green], key=_green.get),
) for name in group}



def _fmt(sql: str) -> str:
    return sql.format(
        cte=TRIPLES_CTE, foaf=FOAF_NAME, rdfs=RDFS_LABEL,
        skos_pref=SKOS_PREFLABEL, dcterms=DCTERMS_TITLE,
        skos_alt=SKOS_ALTLABEL, rel_nation=REL_NATION, rel_region=REL_REGION)


ORACLES = {
    **{name: _fmt(sql) for name, sql in _GRAPH_ORACLES.items()},
    **{name: _fmt(sql) for name, sql in _SPARQL_ORACLES.items()},
    **{name: _fmt(sql) for name, sql in _GRAPH_ALGO_ORACLES.items()},
    "text_token_count":
        "SELECT doc_id, len(%s)::BIGINT AS n_tokens FROM documents" % _TOKS,
    "text_fingerprint":
        "SELECT doc_id, md5(%s) AS fp FROM documents" % _NORM,
    "text_simhash": _simhash_sql(),
    "text_lang_id": _lang_id_sql(),
    "text_quality": _quality_sql(),
    "text_decontaminate": _decontaminate_sql(),
    "text_pii_redact": _pii_redact_sql(),
    "dedup_exact": """
WITH f AS (SELECT doc_id, md5(%s) AS fp FROM documents)
SELECT doc_id, fp, doc_id = min(doc_id) OVER (PARTITION BY fp) AS keep
FROM f""" % _NORM,
    "dedup_ngram_jaccard": _ngram_jaccard_sql(),
    "dedup_minhash": _minhash_sql(),
    "dedup_clusters": _minhash_clusters_sql(),
    "dedup_simhash_pairs": _simhash_pairs_sql(),
    "embed_cosine_topk": _cosine_topk_sql(),
    "similarity_lsh_topk": _lsh_topk_sql(),
    "similarity_ivf_topk": _ivf_topk_sql(),
    "similarity_ivf_arrow": _ivf_topk_sql(),
    "similarity_ivf_kmeans": _ivf_kmeans_sql(),
    "events_sessions": _EVENTS_SESSIONS_SQL,
    "events_asof_signup": """
WITH e AS (SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tsu
           FROM events),
purchases AS (SELECT user_id, tsu, event_id, value FROM e
              WHERE event_type = 'purchase'),
signups AS (SELECT user_id, tsu, min_by(value, event_id) AS value
            FROM e WHERE event_type = 'signup' GROUP BY user_id, tsu)
SELECT p.user_id, p.tsu, p.event_id, p.value, s.value AS value_asof
FROM purchases p ASOF LEFT JOIN signups s
  ON p.user_id = s.user_id AND p.tsu >= s.tsu""",
    "events_range_hot_hours": """
WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS tsu FROM events),
hot AS (SELECT (tsu // 3600000000) * 3600000000 AS hstart,
               count(*) AS n_errors
        FROM e WHERE event_type = 'error'
        GROUP BY 1 HAVING count(*) >= 6),
purchases AS (SELECT event_id, tsu FROM e WHERE event_type = 'purchase')
SELECT p.event_id, h.hstart, h.n_errors
FROM purchases p JOIN hot h
  ON p.tsu >= h.hstart AND p.tsu < h.hstart + 3600000000""",
    "events_quantiles": """
WITH q AS (SELECT event_type,
             quantile_cont(value, [0.25, 0.5, 0.75]) AS qs
           FROM events GROUP BY event_type)
SELECT event_type, p.prob::DOUBLE AS prob, round(qs[p.i], 6) AS quantile
FROM q, (VALUES (1, 0.25), (2, 0.5), (3, 0.75)) p(i, prob)""",
    "pricing_summary": _PRICING_SQL,
    "rdf_ingest_dir": _driver_fixture_sql("rdf"),
    "nt_ingest": _driver_fixture_sql("nt"),
    "ttl_ingest": _driver_fixture_sql("ttl"),
    "nq_ingest": _driver_fixture_sql("nq"),
    "trig_ingest": _driver_fixture_sql("trig"),
    "jsonld_ingest": _driver_fixture_sql("jsonld"),
    "sparql_dataset_ingest": """
WITH all_quads AS (
  %s
)
SELECT context AS g,
  CASE WHEN starts_with(context, '_:') THEN 'bnode' ELSE 'uri' END AS g_kind,
  CAST(NULL AS VARCHAR) AS g_lang,
  count(*)::BIGINT AS n
FROM all_quads WHERE context IS NOT NULL
GROUP BY 1, 2, 3""" % "\n  UNION ALL ".join(
        _driver_fixture_sql(k)
        for k in ("rdf", "nt", "ttl", "nq", "trig", "jsonld")),
    "sparql_json_decode": """
SELECT n_nationkey AS row_id, 'urn:nation:' || n_nationkey AS obj_value,
       'uri' AS obj_kind, CAST(NULL AS VARCHAR) AS obj_lang FROM nation
UNION ALL
SELECT n_nationkey, n_name, 'literal', 'en' FROM nation
UNION ALL
SELECT n_nationkey, '_:n' || n_nationkey, 'bnode', NULL FROM nation
UNION ALL
SELECT n_nationkey, CAST(n_nationkey AS VARCHAR), 'literal', NULL
FROM nation""",
    "rdfxml_roundtrip": _fmt("""
WITH {cte}
SELECT subj, pred, obj_value, obj_kind, obj_lang FROM triples"""),
    "nt_roundtrip": _fmt("""
WITH {cte}
SELECT subj, pred, obj_value, obj_kind, obj_lang FROM triples"""),
    "ttl_roundtrip": _fmt("""
WITH {cte}
SELECT subj, pred, obj_value, obj_kind, obj_lang FROM triples"""),
    "jsonld_roundtrip": _fmt("""
WITH {cte}
SELECT subj, pred, obj_value, obj_kind, obj_lang FROM triples"""),
    "nq_roundtrip": _fmt("""
WITH {cte}
SELECT CASE WHEN subj LIKE 'urn:cust:%' THEN 'urn:g:cust'
            WHEN subj LIKE 'urn:supp:%' THEN 'urn:g:supp' END AS context,
       subj, pred, obj_value, obj_kind, obj_lang FROM triples"""),
    "trig_roundtrip": _fmt("""
WITH {cte}
SELECT CASE WHEN subj LIKE 'urn:cust:%' THEN 'urn:g:cust'
            WHEN subj LIKE 'urn:supp:%' THEN 'urn:g:supp' END AS context,
       subj, pred, obj_value, obj_kind, obj_lang FROM triples"""),
    "stream_nq_ingest": _fmt("""
WITH {cte}
SELECT CASE WHEN subj LIKE 'urn:cust:%' THEN 'urn:g:cust'
            WHEN subj LIKE 'urn:supp:%' THEN 'urn:g:supp' END AS context,
       subj, pred, obj_value, obj_kind, obj_lang FROM triples"""),
    "pricing_rollup": """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "multimodal_features": _MULTIMODAL_SQL,
    **ORACLES_MULTIMODAL_EXTRA,
    "embed_dup_pairs": _embed_dup_sql(),
    "embed_dup_clusters": _embed_clusters_sql(),
    "scalar_functions": _SCALAR_FNS_SQL,
    "scalar_matches_iri": "SELECT candidate, is_iri FROM (VALUES\n  %s) AS t(candidate, is_iri)" % ",\n  ".join(
        "('%s', %s)" % (c.replace("'", "''"), "TRUE" if e else "FALSE")
        for c, e in _IRI_CASES),
    "graph_contains": _fmt("""
WITH {cte},
probes(probe_id, p_subj, p_pred, p_obj) AS (VALUES
  (1, 'urn:cust:1', '{foaf}', CAST(NULL AS VARCHAR)),
  (2, CAST(NULL AS VARCHAR), '{rel_nation}', CAST(NULL AS VARCHAR)),
  (3, 'urn:nope:1', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
  (4, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 'EUROPE'),
  (5, 'urn:region:0', '{skos_pref}', 'AFRICA'))
SELECT probe_id, EXISTS (
  SELECT 1 FROM triples t
  WHERE (p_subj IS NULL OR t.subj = p_subj)
    AND (p_pred IS NULL OR t.pred = p_pred)
    AND (p_obj IS NULL OR t.obj_value = p_obj)) AS found
FROM probes"""),
    "pricing_pivot": """
SELECT l_returnflag,
  sum(CASE WHEN l_linestatus = 'O'
      THEN l_quantity::DECIMAL(18,2) END)::DOUBLE AS qty_o,
  sum(CASE WHEN l_linestatus = 'F'
      THEN l_quantity::DECIMAL(18,2) END)::DOUBLE AS qty_f
FROM lineitem GROUP BY l_returnflag""",
    "pricing_cube": """
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    # kg_*/stream golden oracles: committed parquet generated by the
    # PURE-PYTHON reference pipeline (tools/golden_ref.py via
    # tools/make_golden.py) over the same seeded synthetic input —
    # independent of every Spark operator (exact all-pairs Jaccard +
    # union-find canonicalization, reference-semantics Graph.findLabel,
    # single-threaded scoring).  DuckDB reads them directly by path.
    **{
        name: "SELECT * FROM read_parquet('/root/repo/tests/golden/%s.parquet')"
        % name
        for name in ("kg_mentions", "kg_triples", "kg_canonical_map",
                     "kg_entity_labels", "kg_rdfxml_shards",
                     "stream_mention_rate", "stream_merge_triples",
                     "kg_structure_triples")
    },
}

# SPARQL over the pipeline-built KG: identical SQL over the committed
# golden triples (kg_triples already hash-pins pipeline output == golden)
# named graphs: var-graph iteration + constant-graph OPTIONAL join —
# suppliers carry a nation link in their graph, customers don't
ORACLES["sparql_named_graphs"] = """
WITH named AS (
  SELECT 'urn:graph:cust' AS g, 'urn:cust:' || c_custkey AS s,
         c_name AS n FROM customer
  UNION ALL
  SELECT 'urn:graph:supp', 'urn:supp:' || s_suppkey, s_name FROM supplier)
SELECT named.g, 'uri' AS g_kind, CAST(NULL AS VARCHAR) AS g_lang,
  named.s, 'uri' AS s_kind, CAST(NULL AS VARCHAR) AS s_lang,
  named.n, 'literal' AS n_kind, CAST(NULL AS VARCHAR) AS n_lang,
  CASE WHEN named.g = 'urn:graph:supp'
       THEN 'urn:nation:' || supplier.s_nationkey ELSE NULL END AS nat,
  CASE WHEN named.g = 'urn:graph:supp' THEN 'uri' ELSE NULL END AS nat_kind,
  CAST(NULL AS VARCHAR) AS nat_lang
FROM named
LEFT JOIN supplier ON named.g = 'urn:graph:supp'
  AND named.s = 'urn:supp:' || supplier.s_suppkey
WHERE named.n LIKE '%7'"""

# checkpoint/resume: the final on-disk table after a half-then-full
# resumable run must be ROW-IDENTICAL to the single-shot pipeline's
# committed golden — resume slicing must not change a single row
ORACLES["kg_checkpoint_resume"] = (
    "SELECT * FROM read_parquet('/root/repo/tests/golden/kg_triples.parquet')")

# snapshot COW merge: same algebra as graph_merge — base EXCEPT deletes
# UNION adds (set semantics) — executed through the versioned table; the
# isolation/time-travel/CAS properties are asserted inside the query
ORACLES["kg_snapshot_sparql"] = _fmt("""
WITH {cte},
v1 AS (SELECT pred FROM triples
       WHERE pred IN ('{rel_region}', '{skos_alt}')),
v2 AS (
  SELECT pred FROM triples
  WHERE pred = '{skos_alt}'
  UNION ALL
  SELECT '{skos_alt}' FROM region
)
SELECT p, 'uri' AS p_kind, CAST(NULL AS VARCHAR) AS p_lang, n, version
FROM (
  SELECT pred AS p, COUNT(*) AS n, 1 AS version FROM v1 GROUP BY pred
  UNION ALL
  SELECT pred AS p, COUNT(*) AS n, 2 AS version FROM v2 GROUP BY pred
)""")

ORACLES["kg_snapshot_compact"] = _fmt("""
WITH {cte}
SELECT subj, pred, obj_value, obj_kind, obj_lang FROM triples""")

ORACLES["kg_snapshot_diff"] = _fmt("""
WITH {cte}
SELECT 'removed' AS change, subj, pred, obj_value, obj_kind, obj_lang
FROM triples WHERE pred = '{rel_region}'
UNION ALL
SELECT 'added', 'urn:region:' || r_regionkey, '{skos_alt}',
       lower(r_name), 'literal', 'en'
FROM region""")

ORACLES["kg_snapshot_revalidate"] = """
SELECT 'urn:shape:MemberNation' AS shape_id,
       'urn:cust:' || c_custkey AS focus,
       'urn:rel:nation' AS path, 'maxCount' AS "constraint",
       '2' AS value
FROM customer WHERE c_custkey % 50 = 0"""

ORACLES["kg_iceberg_seam"] = _fmt("""
WITH {cte},
dels AS (SELECT * FROM triples WHERE pred = '{rel_nation}'),
keep AS (SELECT * FROM triples
         WHERE subj = 'urn:cust:1' AND pred = '{rel_nation}'),
adds AS (SELECT 'urn:nation:' || n_nationkey AS subj,
                '{skos_alt}' AS pred, lower(n_name) AS obj_value,
                'literal' AS obj_kind, CAST(NULL AS VARCHAR) AS obj_lang
         FROM nation)
SELECT subj, pred, obj_value, obj_kind, obj_lang FROM (
  (SELECT * FROM triples EXCEPT SELECT * FROM dels)
  UNION
  SELECT * FROM adds
  UNION
  SELECT * FROM keep
)""")

ORACLES["kg_snapshot_merge"] = _fmt("""
WITH {cte},
dels AS (SELECT * FROM triples WHERE pred = '{rel_region}'),
adds AS (SELECT 'urn:region:' || r_regionkey AS subj,
                '{skos_alt}' AS pred, lower(r_name) AS obj_value,
                'literal' AS obj_kind, 'en' AS obj_lang FROM region)
SELECT subj, pred, obj_value, obj_kind, obj_lang FROM (
  (SELECT * FROM triples EXCEPT SELECT * FROM dels)
  UNION
  SELECT * FROM adds
)""")

# SHACL report: the same constraint algebra in SQL over the committed
# golden — every declared branch is recomputed (focus resolution, value
# join, per-value checks, zero-case-aware cardinality), so conforming
# branches are CHECKED empty rather than assumed
ORACLES["kg_shacl_paths"] = _fmt("""
WITH {cte},
members AS (
  SELECT DISTINCT subj, obj_value AS nation FROM triples
  WHERE pred = '{rel_nation}'
),
sizes AS (SELECT nation, COUNT(*) AS cnt FROM members GROUP BY nation),
labels AS (
  SELECT subj AS nation, obj_value AS label FROM triples
  WHERE pred = '{rdfs}'
)
SELECT shape_id, focus, path, "constraint", value FROM (
  SELECT 'urn:shape:NationSize' AS shape_id, nation AS focus,
         '^{rel_nation}' AS path, 'minCount' AS "constraint",
         CAST(cnt AS VARCHAR) AS value
  FROM sizes WHERE cnt < 65
  UNION ALL
  SELECT 'urn:shape:MemberGeo', m.subj, '{rel_nation}/{rdfs}',
         'pattern', l.label
  FROM members m JOIN labels l ON l.nation = m.nation
  WHERE NOT regexp_matches(l.label, '^[A-M]')
  UNION ALL
  -- sh:node: a member's nation must conform to EarlyNation (label
  -- matches ^[A-M]); one 'node' row per member of a failing nation
  SELECT 'urn:shape:MemberGeo', m.subj, '{rel_nation}', 'node', m.nation
  FROM members m JOIN labels l ON l.nation = m.nation
  WHERE NOT regexp_matches(l.label, '^[A-M]')
)""")

ORACLES["owl_chain_entailment"] = _fmt("""
WITH {cte},
members AS (
  SELECT subj, obj_value AS nation FROM triples
  WHERE pred = '{rel_nation}'
),
nat_region AS (
  SELECT subj AS nation, obj_value AS region FROM triples
  WHERE pred = '{rel_region}'
),
in_region AS (
  SELECT DISTINCT m.subj, r.region
  FROM members m JOIN nat_region r ON r.nation = m.nation
)
SELECT subj, 'urn:rel:inRegion' AS pred, region AS obj_value,
       'uri' AS obj_kind, CAST(NULL AS VARCHAR) AS obj_lang
FROM in_region
UNION ALL
SELECT i.subj, 'urn:rel:zoneOf',
       'urn:zone:' || (CAST(REPLACE(i.region, 'urn:region:', '')
                            AS INTEGER) % 2),
       'uri', CAST(NULL AS VARCHAR)
FROM in_region i""")

ORACLES["kg_edge_cut"] = _fmt("""
WITH {cte},
b AS (
  SELECT *, CAST(('0x' || substr(md5(subj), 1, 1)) AS INTEGER)
         AS subj_bucket
  FROM triples
),
subj_b AS (
  SELECT subj AS o_subj, MIN(subj_bucket) AS o_bucket FROM b
  GROUP BY subj
),
joined AS (
  SELECT e.subj_bucket AS s_bucket, s.o_bucket
  FROM b e JOIN subj_b s ON s.o_subj = e.obj_value
  WHERE e.obj_kind = 'uri'
)
SELECT COUNT(*) AS n_edges,
       CAST(SUM(CASE WHEN s_bucket != o_bucket THEN 1 ELSE 0 END)
            AS BIGINT) AS cut_edges,
       CAST(SUM(CASE WHEN s_bucket != o_bucket THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS cut_ppm
FROM joined""")
# CASTs load-bearing: DuckDB SUM(int)/int-ratio outputs are HUGEINT,
# which the driver's fetch renders differently from BIGINT (round-4
# red row).  Guarded by TestOracleOutputTyping.


ORACLES["kg_publish_pipeline"] = """
WITH all_quads AS (
  %s
),
base AS (
  SELECT DISTINCT subj, pred, obj_value, obj_kind, obj_lang FROM all_quads
),
onto(subj, pred, obj_value, obj_kind, obj_lang) AS (VALUES
  ('http://xmlns.com/foaf/0.1/Document', 'http://www.w3.org/2000/01/rdf-schema#subClassOf', 'urn:class:Work', 'uri',
   CAST(NULL AS VARCHAR)),
  ('http://xmlns.com/foaf/0.1/Person', 'http://www.w3.org/2000/01/rdf-schema#subClassOf', 'urn:class:Agent', 'uri', NULL),
  ('http://purl.org/dc/terms/creator', 'http://www.w3.org/2000/01/rdf-schema#domain', 'urn:class:Work', 'uri', NULL),
  ('http://www.w3.org/2000/01/rdf-schema#seeAlso', 'http://www.w3.org/2000/01/rdf-schema#range', 'urn:class:Linked', 'uri', NULL)),
inf AS (
  SELECT DISTINCT subj, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred, 'urn:class:Work' AS obj_value,
         'uri' AS obj_kind, CAST(NULL AS VARCHAR) AS obj_lang
  FROM base WHERE pred = 'http://purl.org/dc/terms/creator'
  UNION
  SELECT DISTINCT obj_value, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'urn:class:Linked', 'uri', NULL
  FROM base WHERE pred = 'http://www.w3.org/2000/01/rdf-schema#seeAlso' AND obj_kind <> 'literal'
  UNION
  SELECT DISTINCT subj, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'urn:class:Work', 'uri', NULL
  FROM base WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AND obj_value = 'http://xmlns.com/foaf/0.1/Document'
  UNION
  SELECT DISTINCT subj, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'urn:class:Agent', 'uri', NULL
  FROM base WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AND obj_value = 'http://xmlns.com/foaf/0.1/Person'
),
closed AS (
  SELECT * FROM base UNION SELECT * FROM onto UNION SELECT * FROM inf
),
works AS (
  SELECT DISTINCT subj FROM closed
  WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AND obj_value = 'urn:class:Work'
),
rep AS (
  SELECT 'urn:shape:Work' AS shape_id, w.subj AS focus,
         'http://purl.org/dc/terms/title' AS path, 'minCount' AS "constraint", '0' AS value
  FROM works w WHERE NOT EXISTS (
    SELECT 1 FROM closed t
    WHERE t.subj = w.subj AND t.pred = 'http://purl.org/dc/terms/title')
),
nodes AS (
  SELECT *, '_:r' || md5(concat_ws(chr(31), shape_id, focus, path,
                                   "constraint", value)) AS node
  FROM rep
),
report AS (
  SELECT '_:report' AS subj, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
         'http://www.w3.org/ns/shacl#ValidationReport' AS obj_value, 'uri' AS obj_kind,
         CAST(NULL AS VARCHAR) AS obj_lang
  UNION ALL SELECT '_:report', 'http://www.w3.org/ns/shacl#conforms', 'false', 'literal', NULL
  UNION ALL SELECT node, 'http://www.w3.org/ns/shacl#focusNode', focus,
    CASE WHEN focus LIKE '_:%%' THEN 'bnode' ELSE 'uri' END, NULL FROM nodes
  UNION ALL SELECT node, 'http://www.w3.org/ns/shacl#resultPath', path, 'uri', NULL FROM nodes
  UNION ALL SELECT node, 'http://www.w3.org/ns/shacl#value', value,
    CASE WHEN value LIKE 'urn:%%' OR value LIKE 'http%%'
         THEN 'uri' ELSE 'literal' END, NULL FROM nodes
  UNION ALL SELECT node, 'http://www.w3.org/ns/shacl#sourceShape', shape_id, 'uri', NULL FROM nodes
  UNION ALL SELECT node, 'http://www.w3.org/ns/shacl#sourceConstraintComponent',
    'http://www.w3.org/ns/shacl#MinCountConstraintComponent', 'uri', NULL FROM nodes
  UNION ALL SELECT '_:report', 'http://www.w3.org/ns/shacl#result', node, 'bnode', NULL FROM nodes
),
published AS (
  SELECT * FROM closed UNION SELECT * FROM report
),
tot AS (
  SELECT COUNT(*) AS n, COUNT(DISTINCT subj) AS d_s,
         COUNT(DISTINCT obj_value) AS d_o, COUNT(DISTINCT pred) AS np,
         COUNT(DISTINCT CASE WHEN pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
           THEN obj_value END) AS nc,
         COUNT(DISTINCT CASE WHEN NOT subj LIKE '_:%%' THEN subj END) AS ne
  FROM published
),
pp AS (
  SELECT pred, COUNT(*) AS n, '_:pp-' || md5(pred) AS part
  FROM published GROUP BY pred
),
cp AS (
  SELECT obj_value AS c, COUNT(DISTINCT subj) AS n,
         '_:cp-' || md5(obj_value) AS part
  FROM published WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
  GROUP BY obj_value
)
SELECT subj, pred, obj_value, obj_kind, obj_lang FROM (
  SELECT 'urn:void:dataset' AS subj, 'http://rdfs.org/ns/void#triples' AS pred,
         CAST(n AS VARCHAR) AS obj_value, 'literal' AS obj_kind,
         CAST(NULL AS VARCHAR) AS obj_lang FROM tot
  UNION ALL SELECT 'urn:void:dataset', 'http://rdfs.org/ns/void#distinctSubjects',
    CAST(d_s AS VARCHAR), 'literal', NULL FROM tot
  UNION ALL SELECT 'urn:void:dataset', 'http://rdfs.org/ns/void#distinctObjects',
    CAST(d_o AS VARCHAR), 'literal', NULL FROM tot
  UNION ALL SELECT 'urn:void:dataset', 'http://rdfs.org/ns/void#properties',
    CAST(np AS VARCHAR), 'literal', NULL FROM tot
  UNION ALL SELECT 'urn:void:dataset', 'http://rdfs.org/ns/void#classes',
    CAST(nc AS VARCHAR), 'literal', NULL FROM tot
  UNION ALL SELECT 'urn:void:dataset', 'http://rdfs.org/ns/void#entities',
    CAST(ne AS VARCHAR), 'literal', NULL FROM tot
  UNION ALL SELECT 'urn:void:dataset', 'http://rdfs.org/ns/void#propertyPartition', part,
    'bnode', NULL FROM pp
  UNION ALL SELECT part, 'http://rdfs.org/ns/void#property', pred, 'uri', NULL FROM pp
  UNION ALL SELECT part, 'http://rdfs.org/ns/void#triples', CAST(n AS VARCHAR), 'literal',
    NULL FROM pp
  UNION ALL SELECT 'urn:void:dataset', 'http://rdfs.org/ns/void#classPartition', part,
    'bnode', NULL FROM cp
  UNION ALL SELECT part, 'http://rdfs.org/ns/void#class', c, 'uri', NULL FROM cp
  UNION ALL SELECT part, 'http://rdfs.org/ns/void#entities', CAST(n AS VARCHAR), 'literal',
    NULL FROM cp
)""" % "\n  UNION ALL ".join(
    _driver_fixture_sql(k)
    for k in ("rdf", "nt", "ttl", "nq", "trig", "jsonld"))


ORACLES["sparql_path_negated"] = _fmt("""
WITH {cte}
SELECT 'urn:region:' || n_regionkey AS o, 'uri' AS o_kind,
       CAST(NULL AS VARCHAR) AS o_lang
FROM nation WHERE n_nationkey = 7
UNION ALL
SELECT 'urn:cust:' || c_custkey, 'uri', NULL
FROM customer WHERE c_nationkey = 7
UNION ALL
SELECT 'urn:supp:' || s_suppkey, 'uri', NULL
FROM supplier WHERE s_nationkey = 7""")


ORACLES["sparql_path_negated_star"] = _fmt("""
WITH {cte},
hop AS (SELECT c.c_custkey, n.n_nationkey, n.n_name, n.n_regionkey,
               r.r_name
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE c.c_custkey = 1)
SELECT 'urn:cust:1' AS o, 'uri' AS o_kind,
       CAST(NULL AS VARCHAR) AS o_lang
UNION ALL SELECT 'urn:nation:' || n_nationkey, 'uri', NULL FROM hop
UNION ALL SELECT n_name, 'literal', 'en' FROM hop
UNION ALL SELECT 'urn:region:' || n_regionkey, 'uri', NULL FROM hop
UNION ALL SELECT r_name, 'literal', NULL FROM hop""")


ORACLES["kg_void"] = _fmt("""
WITH {cte},
t AS (
  SELECT * FROM triples
  UNION ALL
  SELECT 'urn:cust:' || c_custkey,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
         'urn:class:Customer', 'uri', NULL FROM customer
  UNION ALL
  SELECT 'urn:supp:' || s_suppkey,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
         'urn:class:Supplier', 'uri', NULL FROM supplier
),
tot AS (
  SELECT COUNT(*) AS n, COUNT(DISTINCT subj) AS d_s,
         COUNT(DISTINCT obj_value) AS d_o, COUNT(DISTINCT pred) AS np,
         COUNT(DISTINCT CASE WHEN pred =
           'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
           THEN obj_value END) AS nc,
         COUNT(DISTINCT CASE WHEN NOT subj LIKE '_:%' THEN subj END)
           AS ne
  FROM t
),
pp AS (
  SELECT pred, COUNT(*) AS n, '_:pp-' || md5(pred) AS part
  FROM t GROUP BY pred
),
cp AS (
  SELECT obj_value AS c, COUNT(DISTINCT subj) AS n,
         '_:cp-' || md5(obj_value) AS part
  FROM t WHERE pred =
    'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
  GROUP BY obj_value
)
SELECT subj, pred, obj_value, obj_kind, obj_lang FROM (
  SELECT 'urn:void:dataset' AS subj,
         'http://rdfs.org/ns/void#triples' AS pred,
         CAST(n AS VARCHAR) AS obj_value, 'literal' AS obj_kind,
         CAST(NULL AS VARCHAR) AS obj_lang FROM tot
  UNION ALL SELECT 'urn:void:dataset',
    'http://rdfs.org/ns/void#distinctSubjects', CAST(d_s AS VARCHAR),
    'literal', NULL FROM tot
  UNION ALL SELECT 'urn:void:dataset',
    'http://rdfs.org/ns/void#distinctObjects', CAST(d_o AS VARCHAR),
    'literal', NULL FROM tot
  UNION ALL SELECT 'urn:void:dataset',
    'http://rdfs.org/ns/void#properties', CAST(np AS VARCHAR),
    'literal', NULL FROM tot
  UNION ALL SELECT 'urn:void:dataset',
    'http://rdfs.org/ns/void#classes', CAST(nc AS VARCHAR),
    'literal', NULL FROM tot
  UNION ALL SELECT 'urn:void:dataset',
    'http://rdfs.org/ns/void#entities', CAST(ne AS VARCHAR),
    'literal', NULL FROM tot
  UNION ALL SELECT 'urn:void:dataset',
    'http://rdfs.org/ns/void#propertyPartition', part, 'bnode', NULL
    FROM pp
  UNION ALL SELECT part, 'http://rdfs.org/ns/void#property', pred,
    'uri', NULL FROM pp
  UNION ALL SELECT part, 'http://rdfs.org/ns/void#triples',
    CAST(n AS VARCHAR), 'literal', NULL FROM pp
  UNION ALL SELECT 'urn:void:dataset',
    'http://rdfs.org/ns/void#classPartition', part, 'bnode', NULL
    FROM cp
  UNION ALL SELECT part, 'http://rdfs.org/ns/void#class', c, 'uri',
    NULL FROM cp
  UNION ALL SELECT part, 'http://rdfs.org/ns/void#entities',
    CAST(n AS VARCHAR), 'literal', NULL FROM cp
)""")

ORACLES["owl_graphs_entailment"] = """
WITH ce AS (
  SELECT 'urn:cust:' || c_custkey AS s,
         'urn:nation:' || c_nationkey AS n FROM customer
),
ne AS (
  SELECT 'urn:nation:' || n_nationkey AS n,
         'urn:region:' || n_regionkey AS r FROM nation
),
se AS (
  SELECT 'urn:supp:' || s_suppkey AS s,
         'urn:nation:' || s_nationkey AS n FROM supplier
)
SELECT context, subj, pred, obj_value, obj_kind, obj_lang FROM (
  SELECT 'urn:g:a' AS context, s AS subj, 'urn:rel:in' AS pred,
         n AS obj_value, 'uri' AS obj_kind,
         CAST(NULL AS VARCHAR) AS obj_lang FROM ce
  UNION ALL SELECT 'urn:g:a', n, 'urn:rel:in', r, 'uri', NULL FROM ne
  UNION ALL SELECT 'urn:g:a', ce.s, 'urn:rel:in', ne.r, 'uri', NULL
    FROM ce JOIN ne USING (n)
  UNION ALL SELECT 'urn:g:a', 'urn:rel:in',
    'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
    'http://www.w3.org/2002/07/owl#TransitiveProperty', 'uri', NULL
  UNION ALL SELECT 'urn:g:b', s, 'urn:rel:in', n, 'uri', NULL FROM se
  UNION ALL SELECT 'urn:g:b', n, 'urn:rel:hosts', s, 'uri', NULL FROM se
  UNION ALL SELECT 'urn:g:b', 'urn:rel:in',
    'http://www.w3.org/2002/07/owl#inverseOf', 'urn:rel:hosts',
    'uri', NULL
)"""

ORACLES["rdfs_graphs_entailment"] = """
WITH ce AS (
  SELECT DISTINCT 'urn:cust:' || c_custkey AS s,
         'urn:nation:' || c_nationkey AS o FROM customer
),
se AS (
  SELECT DISTINCT 'urn:supp:' || s_suppkey AS s,
         'urn:nation:' || s_nationkey AS o FROM supplier
)
SELECT context, subj, pred, obj_value, obj_kind, obj_lang FROM (
  SELECT 'urn:g:cust' AS context, s AS subj, 'urn:rel:in' AS pred,
         o AS obj_value, 'uri' AS obj_kind,
         CAST(NULL AS VARCHAR) AS obj_lang FROM ce
  UNION ALL SELECT 'urn:g:supp', s, 'urn:rel:in', o, 'uri', NULL FROM se
  UNION ALL SELECT 'urn:g:cust', 'urn:rel:in',
    'http://www.w3.org/2000/01/rdf-schema#domain', 'urn:class:Member',
    'uri', NULL
  UNION ALL SELECT 'urn:g:cust', 'urn:class:Member',
    'http://www.w3.org/2000/01/rdf-schema#subClassOf', 'urn:class:Party',
    'uri', NULL
  UNION ALL SELECT 'urn:g:supp', 'urn:rel:in',
    'http://www.w3.org/2000/01/rdf-schema#domain', 'urn:class:Vendor',
    'uri', NULL
  UNION ALL SELECT 'urn:g:supp', 'urn:rel:in',
    'http://www.w3.org/2000/01/rdf-schema#range', 'urn:class:NationS',
    'uri', NULL
  UNION ALL SELECT 'urn:g:cust', s,
    'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
    'urn:class:Member', 'uri', NULL FROM ce
  UNION ALL SELECT 'urn:g:cust', s,
    'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
    'urn:class:Party', 'uri', NULL FROM ce
  UNION ALL SELECT 'urn:g:supp', s,
    'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
    'urn:class:Vendor', 'uri', NULL FROM se
  UNION ALL SELECT DISTINCT 'urn:g:supp', o,
    'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
    'urn:class:NationS', 'uri', NULL FROM se
)"""

ORACLES["rdfs_schema_cycles"] = """
WITH RECURSIVE edges(pred, a, b) AS (
  SELECT 'http://www.w3.org/2000/01/rdf-schema#subClassOf',
         'urn:class:' || n_nationkey,
         'urn:class:' || ((n_nationkey + 5) % 25) FROM nation
  UNION ALL
  SELECT 'http://www.w3.org/2000/01/rdf-schema#subClassOf',
         'urn:rc:' || r_regionkey, 'urn:rc:' || (r_regionkey + 1)
  FROM region
  UNION ALL
  SELECT 'http://www.w3.org/2000/01/rdf-schema#subPropertyOf',
         'urn:prop:p0', 'urn:prop:p0'
),
clo(pred, a, b) AS (
  SELECT pred, a, b FROM edges
  UNION
  SELECT c.pred, c.a, e.b FROM clo c
  JOIN edges e ON e.pred = c.pred AND e.a = c.b
)
SELECT DISTINCT pred, a AS node FROM clo WHERE a = b"""

ORACLES["kg_shacl_graphs"] = """
WITH members AS (
  SELECT 'urn:graph:cust' AS g, 'urn:nation:' || c_nationkey AS nation,
         'urn:cust:' || c_custkey AS member FROM customer
  UNION ALL
  SELECT 'urn:graph:supp', 'urn:nation:' || s_nationkey,
         'urn:supp:' || s_suppkey FROM supplier
),
sizes AS (
  SELECT g, nation, COUNT(DISTINCT member) AS cnt
  FROM members GROUP BY g, nation
)
SELECT 'urn:shape:NationPop' AS shape_id, g AS graph, nation AS focus,
       '^urn:rel:in' AS path, 'minCount' AS "constraint",
       CAST(cnt AS VARCHAR) AS value
FROM sizes WHERE cnt < 10"""

ORACLES["kg_shacl_closed"] = """
SELECT shape_id, focus, path, "constraint", value, severity FROM (
  -- sh:closed: slug is neither a declared path nor ignored, so every
  -- slug triple is one violation; severity = node shape's sh:Warning
  SELECT 'urn:shape:NationClosed' AS shape_id,
         'urn:nation:' || n_nationkey AS focus,
         'urn:rel:slug' AS path, 'closed' AS "constraint",
         lower(n_name) AS value,
         'http://www.w3.org/ns/shacl#Warning' AS severity
  FROM nation
  UNION ALL
  -- numeric ranges on pop (= nationkey); property-level sh:Info wins
  SELECT 'urn:shape:NationClosed', 'urn:nation:' || n_nationkey,
         'urn:rel:pop', 'minInclusive', CAST(n_nationkey AS VARCHAR),
         'http://www.w3.org/ns/shacl#Info'
  FROM nation WHERE n_nationkey < 5
  UNION ALL
  SELECT 'urn:shape:NationClosed', 'urn:nation:' || n_nationkey,
         'urn:rel:pop', 'maxExclusive', CAST(n_nationkey AS VARCHAR),
         'http://www.w3.org/ns/shacl#Info'
  FROM nation WHERE n_nationkey >= 20
  -- the deactivated urn:shape:Audit contributes nothing by design
)"""

ORACLES["kg_shacl_report_rdf"] = """
WITH rep(shape_id, focus, path, "constraint", value, severity) AS (
  SELECT 'urn:shape:NationClosed', 'urn:nation:' || n_nationkey,
         'urn:rel:slug', 'closed', lower(n_name),
         'http://www.w3.org/ns/shacl#Warning'
  FROM nation
  UNION ALL
  SELECT 'urn:shape:NationClosed', 'urn:nation:' || n_nationkey,
         'urn:rel:pop', 'minInclusive', CAST(n_nationkey AS VARCHAR),
         'http://www.w3.org/ns/shacl#Info'
  FROM nation WHERE n_nationkey < 5
  UNION ALL
  SELECT 'urn:shape:NationClosed', 'urn:nation:' || n_nationkey,
         'urn:rel:pop', 'maxExclusive', CAST(n_nationkey AS VARCHAR),
         'http://www.w3.org/ns/shacl#Info'
  FROM nation WHERE n_nationkey >= 20
),
nodes AS (
  SELECT *, '_:r' || md5(concat_ws(chr(31), shape_id, focus, path,
                                   "constraint", value, severity))
         AS node
  FROM rep
)
SELECT subj, pred, obj_value, obj_kind, obj_lang FROM (
  SELECT '_:report' AS subj,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
         'http://www.w3.org/ns/shacl#ValidationReport' AS obj_value,
         'uri' AS obj_kind, CAST(NULL AS VARCHAR) AS obj_lang
  UNION ALL SELECT '_:report', 'http://www.w3.org/ns/shacl#conforms',
    'false', 'literal', NULL
  UNION ALL SELECT node, 'http://www.w3.org/ns/shacl#focusNode',
    focus, 'uri', NULL FROM nodes
  UNION ALL SELECT node, 'http://www.w3.org/ns/shacl#resultPath',
    path, 'uri', NULL FROM nodes
  UNION ALL SELECT node, 'http://www.w3.org/ns/shacl#value', value,
    CASE WHEN value LIKE 'urn:%' OR value LIKE 'http%'
         THEN 'uri' ELSE 'literal' END, NULL FROM nodes
  UNION ALL SELECT node, 'http://www.w3.org/ns/shacl#sourceShape',
    shape_id, 'uri', NULL FROM nodes
  UNION ALL SELECT node,
    'http://www.w3.org/ns/shacl#sourceConstraintComponent',
    'http://www.w3.org/ns/shacl#' || upper("constraint"[1])
      || "constraint"[2:] || 'ConstraintComponent',
    'uri', NULL FROM nodes
  UNION ALL SELECT node, 'http://www.w3.org/ns/shacl#resultSeverity',
    severity, 'uri', NULL FROM nodes
  UNION ALL SELECT '_:report', 'http://www.w3.org/ns/shacl#result',
    node, 'bnode', NULL FROM nodes
)"""

ORACLES["kg_shacl_report"] = """
WITH g AS (
  SELECT * FROM read_parquet('/root/repo/tests/golden/kg_triples.parquet')
),
focus AS (
  SELECT 'urn:shape:Annotation' AS shape_id, subj AS focus FROM g
   WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
     AND obj_value = 'http://www.w3.org/ns/oa#Annotation'
  UNION ALL
  SELECT DISTINCT 'urn:shape:Entity', subj FROM g
   WHERE pred = 'http://xmlns.com/foaf/0.1/name'
),
props(shape_id, path, min_count, max_count) AS (VALUES
  ('urn:shape:Annotation', 'http://data.example.org/kg#candidate',    1, 1),
  ('urn:shape:Annotation', 'http://data.example.org/kg#score',        1, 1),
  ('urn:shape:Annotation', 'http://data.example.org/kg#conversation', 1, 1),
  ('urn:shape:Annotation', 'http://data.example.org/kg#turn',         1, 1),
  ('urn:shape:Entity', 'http://xmlns.com/foaf/0.1/name',              1, 1),
  ('urn:shape:Entity', 'http://www.w3.org/2004/02/skos/core#altLabel',
   NULL, 1)
),
vals AS (
  SELECT f.shape_id, f.focus, g.pred AS path,
         g.obj_value, g.obj_kind, g.obj_lang
  FROM g JOIN focus f ON g.subj = f.focus
  WHERE (f.shape_id = 'urn:shape:Annotation' AND g.pred IN (
           'http://data.example.org/kg#candidate',
           'http://data.example.org/kg#score',
           'http://data.example.org/kg#conversation',
           'http://data.example.org/kg#turn'))
     OR (f.shape_id = 'urn:shape:Entity' AND g.pred IN (
           'http://xmlns.com/foaf/0.1/name',
           'http://www.w3.org/2004/02/skos/core#altLabel',
           'http://www.w3.org/2002/07/owl#sameAs'))
),
value_viol AS (
  SELECT shape_id, focus, path, 'nodeKind' AS "constraint",
         obj_value AS "value"
  FROM vals
  WHERE (shape_id = 'urn:shape:Annotation'
         AND path IN ('http://data.example.org/kg#candidate',
                      'http://data.example.org/kg#conversation')
         AND obj_kind <> 'uri')
     OR (shape_id = 'urn:shape:Annotation'
         AND path = 'http://data.example.org/kg#score'
         AND obj_kind <> 'literal')
     OR (shape_id = 'urn:shape:Entity'
         AND path = 'http://www.w3.org/2002/07/owl#sameAs'
         AND obj_kind <> 'uri')
  UNION ALL
  SELECT shape_id, focus, path, 'pattern', obj_value FROM vals
  WHERE shape_id = 'urn:shape:Annotation'
    AND ((path = 'http://data.example.org/kg#candidate'
          AND (obj_kind = 'bnode'
               OR NOT regexp_matches(obj_value, '^urn:surface:')))
      OR (path = 'http://data.example.org/kg#score'
          AND (obj_kind = 'bnode'
               OR NOT regexp_matches(obj_value, '^[0-9]+[.][0-9]$'))))
  UNION ALL
  SELECT shape_id, focus, path, 'languageIn', obj_value FROM vals
  WHERE shape_id = 'urn:shape:Entity'
    AND path = 'http://xmlns.com/foaf/0.1/name'
    AND NOT (obj_kind = 'literal'
             AND COALESCE(obj_lang IN ('en', 'nl'), FALSE))
),
counts AS (
  SELECT shape_id, focus, path, count(*) AS cnt
  FROM vals GROUP BY shape_id, focus, path
),
card AS (
  SELECT f.shape_id, f.focus, p.path,
         COALESCE(c.cnt, 0) AS cnt, p.min_count, p.max_count
  FROM focus f
  JOIN props p ON p.shape_id = f.shape_id
  LEFT JOIN counts c
    ON c.shape_id = f.shape_id AND c.focus = f.focus AND c.path = p.path
),
card_viol AS (
  SELECT shape_id, focus, path, 'minCount' AS "constraint",
         CAST(cnt AS VARCHAR) AS "value"
  FROM card WHERE cnt < min_count
  UNION ALL
  SELECT shape_id, focus, path, 'maxCount', CAST(cnt AS VARCHAR)
  FROM card WHERE cnt > max_count
)
SELECT * FROM value_viol UNION ALL SELECT * FROM card_viol"""

# incremental SHACL maintenance must converge to the batch report,
# whatever the micro-batch slicing — the batch oracle verbatim
ORACLES["stream_shacl_maintain"] = ORACLES["kg_shacl_report"]

# UPDATE LOAD: the tpch quad relation UNION the fixture rows re-homed
# into the destination graph (set semantics)
ORACLES["sparql_update_load"] = """
WITH quads AS (
  SELECT 'urn:graph:cust' AS context, 'urn:cust:' || c_custkey AS subj,
         '%(foaf)s' AS pred, c_name AS obj_value, 'literal' AS obj_kind,
         CAST(NULL AS VARCHAR) AS obj_lang FROM customer
  UNION ALL
  SELECT 'urn:graph:supp', 'urn:supp:' || s_suppkey, '%(foaf)s', s_name,
         'literal', NULL FROM supplier
  UNION ALL
  SELECT 'urn:graph:supp', 'urn:supp:' || s_suppkey, '%(rel_nation)s',
         'urn:nation:' || s_nationkey, 'uri', NULL FROM supplier
  UNION ALL
  SELECT CAST(NULL AS VARCHAR), 'urn:nation:' || n_nationkey, '%(rdfs)s',
         n_name, 'literal', 'en' FROM nation
),
loaded AS (
  SELECT 'urn:g:loaded' AS context, subj, pred, obj_value, obj_kind,
         obj_lang
  FROM (%(fixture)s)
)
SELECT DISTINCT context, subj, pred, obj_value, obj_kind, obj_lang
FROM (SELECT * FROM quads UNION ALL SELECT * FROM loaded)""" % {
    "foaf": FOAF_NAME, "rel_nation": REL_NATION, "rdfs": RDFS_LABEL,
    "fixture": _driver_fixture_sql("nt"),
}

# dateTime accessors: components read straight off the lexical form the
# query itself constructs (substr positions are fixed for the
# yyyy-MM-ddTHH:mm:ss prefix), int-cast to match xsd:integer rendering
ORACLES["sparql_datetime_funcs"] = """
WITH ev AS (
  SELECT event_id,
         strftime(ts, '%Y-%m-%dT%H:%M:%S') AS dt,
         CAST(event_id % 4 AS INT) AS m4
  FROM events WHERE event_id < 200)
SELECT 'urn:event:' || event_id AS s, 'uri' AS s_kind,
  CAST(NULL AS VARCHAR) AS s_lang,
  CAST(CAST(substr(dt, 1, 4) AS INT) AS VARCHAR) AS y,
  'literal' AS y_kind, CAST(NULL AS VARCHAR) AS y_lang,
  CAST(CAST(substr(dt, 6, 2) AS INT) AS VARCHAR) AS mo,
  'literal' AS mo_kind, CAST(NULL AS VARCHAR) AS mo_lang,
  CAST(CAST(substr(dt, 9, 2) AS INT) AS VARCHAR) AS d,
  'literal' AS d_kind, CAST(NULL AS VARCHAR) AS d_lang,
  CAST(CAST(substr(dt, 12, 2) AS INT) AS VARCHAR) AS h,
  'literal' AS h_kind, CAST(NULL AS VARCHAR) AS h_lang,
  CAST(CAST(substr(dt, 15, 2) AS INT) AS VARCHAR) AS mi,
  'literal' AS mi_kind, CAST(NULL AS VARCHAR) AS mi_lang,
  CAST(CAST(substr(dt, 18, 2) AS INT) AS VARCHAR) AS sec,
  'literal' AS sec_kind, CAST(NULL AS VARCHAR) AS sec_lang,
  CASE m4 WHEN 0 THEN 'Z' WHEN 1 THEN '+05:30' WHEN 2 THEN '-08:00'
          ELSE '' END AS tzs,
  'literal' AS tzs_kind, CAST(NULL AS VARCHAR) AS tzs_lang,
  CASE m4 WHEN 0 THEN 'PT0S' WHEN 1 THEN 'PT5H30M' WHEN 2 THEN '-PT8H'
          ELSE NULL END AS dur,
  CASE WHEN m4 = 3 THEN NULL ELSE 'literal' END AS dur_kind,
  CAST(NULL AS VARCHAR) AS dur_lang
FROM ev"""

# end-to-end materialization oracle: the SAME select over the committed
# goldens with the update's foaf:name -> rdfs:label rename applied —
# pins write + merge + SPARQL UPDATE + SELECT agreeing with the
# independent pure-Python pipeline
ORACLES["kg_e2e_sparql"] = """
WITH t1 AS (
  SELECT * FROM read_parquet('/root/repo/tests/golden/kg_triples.parquet')),
t2 AS (
  SELECT * FROM
    read_parquet('/root/repo/tests/golden/kg_structure_triples.parquet')),
men AS (SELECT subj, obj_value
        FROM t1 WHERE pred = 'http://data.example.org/kg#mentions'),
names AS (SELECT subj, obj_value, obj_kind, obj_lang
          FROM t1 WHERE pred = 'http://xmlns.com/foaf/0.1/name'),
turns AS (SELECT subj, obj_value
          FROM t2 WHERE pred = 'http://data.example.org/kg#turnCount')
SELECT names.obj_value AS ename, names.obj_kind AS ename_kind,
       names.obj_lang AS ename_lang,
       count(men.subj)::BIGINT AS n_convs,
       SUM(CAST(turns.obj_value AS DOUBLE)) AS total_turns
FROM men
JOIN names ON names.subj = men.obj_value
JOIN turns ON turns.subj = men.subj
GROUP BY 1, 2, 3"""

ORACLES["kg_sparql_entities"] = """
WITH t AS (
  SELECT * FROM read_parquet('/root/repo/tests/golden/kg_triples.parquet'))
SELECT t2.obj_value AS ename, t2.obj_kind AS ename_kind,
       t2.obj_lang AS ename_lang, count(t1.subj)::BIGINT AS n_convs
FROM t t1
JOIN t t2 ON t2.subj = t1.obj_value
  AND t2.pred = 'http://xmlns.com/foaf/0.1/name'
WHERE t1.pred = 'http://data.example.org/kg#mentions'
GROUP BY 1, 2, 3"""

# the bucketized range-join strategy must produce byte-identical results
# to the broadcast twin — same oracle
ORACLES["events_range_hot_hours_bucketized"] = ORACLES["events_range_hot_hours"]

# the stateful streaming scorer's contract is batch equivalence: its
# cross-micro-batch cumulative scores must equal the golden batch-path
# mention scores (reformatted to the operator's string output)
ORACLES["stream_stateful_scores"] = """
SELECT conv_id, turn_idx::BIGINT AS turn_idx, start::BIGINT AS start,
       surface, surface_key, printf('%.1f', score) AS score
FROM read_parquet('/root/repo/tests/golden/kg_mentions.parquet')"""

# streaming first-seen dedup: WHICH doc survives a group is
# arrival-order-dependent, but the surviving fingerprint set is exactly
# the distinct fingerprints — a direct ANSI-SQL oracle
ORACLES["stream_dedup_fps"] = \
    "SELECT DISTINCT md5(%s) AS fp FROM documents" % _NORM

# dataset-assembly oracles: every decision is keyed on md5(id), so DuckDB
# reproduces the identical assignment from the same literals
def _hash_split_sql() -> str:
    from .textops.sampling import split_thresholds

    cases = []
    for name, bound in split_thresholds([("train", 80), ("val", 10),
                                         ("test", 10)]):
        cases.append(
            "ELSE '%s'" % name if bound is None else
            "WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '%s' THEN '%s'"
            % (bound, name))
    return ("SELECT doc_id, CASE %s END AS split FROM documents"
            % " ".join(cases))


ORACLES["sample_hash_split"] = _hash_split_sql()

ORACLES["sample_weighted"] = """
SELECT doc_id, lang, source FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
           AS BIGINT) % 1000000
      < CASE WHEN lang = 'en' THEN 800000
             WHEN lang = 'zh' THEN 500000 ELSE 250000 END"""

ORACLES["sample_stratified"] = """
WITH ranked AS (
  SELECT doc_id, lang,
    row_number() OVER (PARTITION BY lang
      ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
  FROM documents)
SELECT doc_id, lang FROM ranked WHERE rn <= 20"""

ORACLES["pack_sequences"] = """
WITH toks AS (
  SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
         md5(CAST(doc_id AS VARCHAR)) AS h, len({toks})::BIGINT AS n_tokens
  FROM documents),
packed AS (
  SELECT doc_id, bucket, n_tokens,
    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start
  FROM toks)
SELECT doc_id, bucket, n_tokens,
  CAST(start // 512 AS BIGINT) AS pack_id,
  CAST(start % 512 AS BIGINT) AS pack_offset
FROM packed""".format(toks=_TOKS)

ORACLES["text_boilerplate"] = """
WITH built AS (
  SELECT doc_id, source,
         'HEADER ' || source || chr(10) || text ||
         CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'PROMO offer'
              ELSE '' END ||
         chr(10) || 'footer ' || source AS text
  FROM documents
),
lines AS (
  SELECT DISTINCT source, doc_id, trim(t.l) AS line
  FROM built, UNNEST(string_split(text, chr(10))) AS t(l)
  WHERE trim(t.l) <> ''
),
totals AS (
  SELECT source, COUNT(DISTINCT doc_id) AS n_docs FROM built
  GROUP BY source
),
counts AS (
  SELECT source, line, COUNT(*) AS n FROM lines GROUP BY source, line
),
boiler AS (
  SELECT c.source, list(c.line) AS blines
  FROM counts c JOIN totals t USING (source)
  WHERE c.n >= 2 AND c.n * 100 > 50 * t.n_docs
  GROUP BY c.source
)
SELECT b.doc_id, b.source,
       array_to_string(
         list_filter(string_split(b.text, chr(10)),
                     x -> NOT coalesce(list_contains(bo.blines, trim(x)),
                                       FALSE)),
         chr(10)) AS text
FROM built b LEFT JOIN boiler bo USING (source)"""

ORACLES["text_tfidf"] = r"""
WITH tf AS (
  SELECT doc_id AS doc, t.term, COUNT(*) AS tf
  FROM documents,
       UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                          x -> x <> '')) AS t(term)
  GROUP BY doc_id, t.term
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.doc, tf.term, tf.tf, df.df,
         (tf.tf * n.n * 1000000) // df.df AS score
  FROM tf JOIN df USING (term), n
),
ranked AS (
  SELECT doc, term, tf, df, score,
         ROW_NUMBER() OVER (PARTITION BY doc
                            ORDER BY score DESC, term) AS rnk
  FROM scored
)
SELECT doc, rnk, term, tf, df, score FROM ranked WHERE rnk <= 5"""

ORACLES["kg_graph_hashes"] = """
WITH quads AS (
  SELECT DISTINCT 'urn:g:' || c_nationkey AS g,
         'urn:cust:' || c_custkey AS s, 'urn:rel:in' AS p,
         'urn:nation:' || c_nationkey AS v, 'uri' AS k,
         CAST(NULL AS VARCHAR) AS l
  FROM customer
  UNION
  SELECT DISTINCT 'urn:g:' || s_nationkey, 'urn:supp:' || s_suppkey,
         'urn:rel:in', 'urn:nation:' || s_nationkey, 'uri',
         CAST(NULL AS VARCHAR)
  FROM supplier
)
SELECT g AS graph, COUNT(*) AS n_triples,
       bit_xor(CAST(('0x' || substr(
         md5(concat_ws(chr(31), s, p, v, k, coalesce(l, ''))),
         1, 15)) AS BIGINT)) AS content_hash
FROM quads GROUP BY g"""

ORACLES["stream_graph_hashes"] = """
WITH quads AS (
  SELECT DISTINCT 'urn:g:' || c_nationkey AS g,
         'urn:cust:' || c_custkey AS s, 'urn:rel:in' AS p,
         'urn:nation:' || c_nationkey AS v, 'uri' AS k,
         CAST(NULL AS VARCHAR) AS l
  FROM customer
  UNION
  SELECT DISTINCT 'urn:g:' || s_nationkey, 'urn:supp:' || s_suppkey,
         'urn:rel:in', 'urn:nation:' || s_nationkey, 'uri',
         CAST(NULL AS VARCHAR)
  FROM supplier
)
SELECT g AS graph, COUNT(*) AS n_triples,
       bit_xor(CAST(('0x' || substr(
         md5(concat_ws(chr(31), s, p, v, k, coalesce(l, ''))),
         1, 15)) AS BIGINT)) AS content_hash
FROM quads GROUP BY g"""

ORACLES["text_collocations"] = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
pos AS (
  SELECT doc_id, t, CAST(gs.i AS BIGINT) AS i
  FROM toks, UNNEST(generate_series(1, len(t))) AS gs(i)
),
pairs AS (
  SELECT t[i] AS x, u.y
  FROM pos, UNNEST(list_slice(t, i + 1, i + 2)) AS u(y)
),
pc AS (
  SELECT x, y, COUNT(*) AS pair_count FROM pairs GROUP BY x, y
  HAVING COUNT(*) >= 3
),
uni AS (
  SELECT u.tok, COUNT(*) AS cnt FROM toks, UNNEST(t) AS u(tok)
  GROUP BY u.tok
),
n AS (SELECT SUM(cnt) AS total FROM uni)
SELECT p.x, p.y, p.pair_count, ux.cnt AS x_count, uy.cnt AS y_count,
       CAST(n.total AS BIGINT) AS n_tokens
FROM pc p JOIN uni ux ON ux.tok = p.x JOIN uni uy ON uy.tok = p.y, n"""

ORACLES["text_bpe"] = """
SELECT * FROM read_parquet('/root/repo/tests/golden/text_bpe.parquet')"""

ORACLES["text_bpe_tokens"] = """
SELECT * FROM
read_parquet('/root/repo/tests/golden/text_bpe_tokens.parquet')"""

ORACLES["text_bpe_arrow"] = """
SELECT * FROM
read_parquet('/root/repo/tests/golden/text_bpe_tokens.parquet')"""

ORACLES["text_chunks"] = r"""
WITH toks AS (
  SELECT doc_id AS doc,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents
),
starts AS (
  SELECT doc, t, CAST(gs.s AS BIGINT) AS s
  FROM toks, UNNEST(generate_series(0, len(t) - 1, 12)) AS gs(s)
  WHERE len(t) > 0
)
SELECT doc, s // 12 AS chunk_id,
       len(list_slice(t, s + 1, s + 16)) AS n_tokens,
       array_to_string(list_slice(t, s + 1, s + 16), ' ') AS chunk
FROM starts"""

ORACLES["text_repetition"] = """
WITH base AS (
  SELECT doc_id, {toks} AS l FROM documents),
sized AS (
  SELECT doc_id, l, len(l)::BIGINT AS n_tokens,
    CASE WHEN len(l) < 2 THEN [] ELSE
      list_transform(l[:len(l) - 1], (x, i) -> x || ' ' || l[i + 1])
    END AS bg
  FROM base),
unitop AS (
  SELECT doc_id, max(c) AS mt FROM (
    SELECT doc_id, t, count(*) AS c FROM (
      SELECT doc_id, unnest(l) AS t FROM sized)
    GROUP BY doc_id, t) GROUP BY doc_id),
bigtop AS (
  SELECT doc_id, max(c) AS mt FROM (
    SELECT doc_id, t, count(*) AS c FROM (
      SELECT doc_id, unnest(bg) AS t FROM sized)
    GROUP BY doc_id, t) GROUP BY doc_id)
SELECT s.doc_id, s.n_tokens,
  coalesce(u.mt, 0)::BIGINT AS top_token_count,
  greatest(len(s.l) - 1, 0)::BIGINT AS n_bigrams,
  coalesce(b.mt, 0)::BIGINT AS top_bigram_count
FROM sized s
LEFT JOIN unitop u USING (doc_id)
LEFT JOIN bigtop b USING (doc_id)""".format(toks=_TOKS)

ORACLES["graph_triangles"] = """
WITH nk AS (SELECT n_nationkey AS k, (SELECT count(*) FROM nation) AS n
            FROM nation),
edges_raw AS (
  SELECT 'urn:nation:' || k AS src, 'urn:nation:' || ((k + 1) % n) AS dst
  FROM nk
  UNION ALL
  SELECT 'urn:nation:' || k, 'urn:nation:' || ((k + 2) % n) FROM nk),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges_raw WHERE src != dst),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
nodes AS (
  SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri)
SELECT node, count(*)::BIGINT AS n_triangles FROM nodes GROUP BY node"""


ORACLES["data_prep_pipeline"] = """
WITH dedup AS (%s),
qual AS (%s),
dec AS (%s),
spl AS (%s)
SELECT d.doc_id, s.split,
       len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'),
                       x -> x != ''))::BIGINT AS n_tokens
FROM documents d
JOIN dedup k ON k.doc_id = d.doc_id AND k.keep
JOIN qual q ON q.doc_id = d.doc_id AND q.quality_score >= 4
JOIN dec x ON x.doc_id = d.doc_id AND NOT x.contaminated
JOIN spl s ON s.doc_id = d.doc_id
WHERE d.doc_id %% 10 != 3""" % (
    ORACLES["dedup_clusters"], ORACLES["text_quality"],
    ORACLES["text_decontaminate"], ORACLES["sample_hash_split"])
