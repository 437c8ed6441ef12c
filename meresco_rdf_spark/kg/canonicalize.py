"""Entity canonicalization: salted MinHash blocking + connected components.

Pipeline (north_star step (c)):

1. character-shingle each distinct normalized surface (tiny relation vs
   the mention stream — dedup first, so all similarity work is per
   DISTINCT surface, not per mention);
2. MinHash signatures with K independent hash functions — all computed
   JVM-side (``xxhash64(shingle, seed_k)`` inside ``F.transform`` +
   ``array_min``): no Python, no UDF;
3. LSH banding: signatures split into B bands of R rows; each band hashes
   to a bucket; surfaces sharing any (band, bucket) are candidates.  The
   band join is salted by construction (band_id is part of the join key),
   so one hot bucket never concentrates a partition;
4. exact Jaccard verification on the candidate pairs (``array_intersect``
   / ``array_union`` on the shingle sets — built-ins);
5. connected components over the verified similarity edges via
   alternating large-star / small-star min-label propagation
   (Kiveris et al., "Connected Components in MapReduce and Beyond" —
   PAPERS.md), with ``localCheckpoint`` per round to cut lineage;
6. canonical entity id = lexicographic min surface uri in the component;
   ``extract.pipeline_triples`` broadcast-joins the canonical map onto the
   mention stream before fan-out, and ``sameas_triples`` emits the
   ``owl:sameAs`` provenance.

Scale: steps 1-4 shuffle on (band_id, band_hash) and candidate-pair keys —
cardinality ~ distinct surfaces x B, independent of transcript volume.
Step 5's join keys are component labels; AQE skew-join splits hot
components (giant components are the known worst case — the large-star
step specifically bounds them).  The canonical map is |distinct surfaces|
rows, independent of transcript volume, so emission broadcasts it.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, functions as F

from ..fixpoint import log_round, rounds
from ..session import local_frame
from .extract import OWL_SAMEAS, SURFACE_URI_PREFIX

# Distinct surface keys up to which similarity is computed on the driver
# (exact all-pairs Jaccard + union-find): below it the distributed LSH
# and connected-components DAGs cost more in scheduled jobs than the
# pairs cost in Python.
LOCAL_SURFACES = 2000


# --------------------------------------------------------------------------
# shingles + MinHash (all JVM-side)
# --------------------------------------------------------------------------

def char_shingles(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams of a string, as an array column.
    ``sequence`` + ``transform`` + ``substring`` — whole-stage codegen."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(padded) - (n - 1), F.lit(1))),
            lambda i: padded.substr(i, F.lit(n)),
        )
    )


def minhash_signature(shingles: Column, k: int = 32, seed: int = 42) -> Column:
    """K-permutation MinHash signature (array<long>, length k).

    Each permutation h_i(x) = xxhash64(x, seed+i); signature[i] =
    min over shingles.  Empty shingle sets get LONG_MAX sentinels."""
    def perm_min(i):
        # single-arg lambda: a two-arg lambda would receive (element, index)
        # from F.transform and shadow the permutation number
        return F.coalesce(
            F.array_min(F.transform(shingles, lambda x: F.xxhash64(x, F.lit(seed + i)))),
            F.lit(2**63 - 1),
        )

    return F.array(*[perm_min(i) for i in range(k)])


def lsh_bands(sig_col: str, bands: int, rows: int) -> Column:
    """Signature -> array of (band_id, band_hash) structs."""
    return F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            F.xxhash64(*[F.col(sig_col)[b * rows + r] for r in range(rows)]).alias("band_hash"),
        )
        for b in range(bands)
    ])


def _local_pairs(keys, n: int, threshold: float):
    """Driver-side EXACT all-pairs Jaccard over char shingles — ground
    truth (a superset of what LSH candidate generation can find).  A
    NULL key pairs with nothing, as on the LSH path."""
    def shingle_set(key):
        padded = " %s " % key
        if len(padded) <= n:
            return {padded}
        return {padded[i:i + n] for i in range(len(padded) - n + 1)}

    keys = sorted(k for k in keys if k is not None)
    sh = {key: shingle_set(key) for key in keys}
    out = []
    for i, a in enumerate(keys):
        for b in keys[i + 1:]:
            inter = len(sh[a] & sh[b])
            union = len(sh[a] | sh[b])
            if union and inter / union >= threshold:
                out.append((a, b, inter / union))
    return out


def similar_surface_pairs(surfaces: DataFrame,
                          key_col: str = "surface_key",
                          n: int = 3, k: int = 32,
                          bands: int = 16,
                          threshold: float = 0.5,
                          local_threshold: int = LOCAL_SURFACES) -> DataFrame:
    """Distinct-surface similarity edges ``(a, b)`` with exact Jaccard >=
    threshold, found via MinHash-LSH candidate generation.

    ``surfaces`` needs one row per distinct ``key_col`` value.  Output is
    symmetric-free (a < b).

    Adaptive strategy (CC-style): when the distinct-surface count (read
    off the already-materialized cache) is <= ``local_threshold``, the
    pairs are computed driver-side with EXACT all-pairs Jaccard — both
    faster (the LSH candidate DAG costs ~8 scheduled stages regardless of
    size) and strictly more accurate (no banding false negatives).  Pass
    ``local_threshold=0`` to force the distributed path (tests do).

    Distributed plan shape: narrow signature computation ->
    explode(bands) -> self-equi-join on (band_id, band_hash) carrying ONLY
    (key, band) — shingle arrays never enter a shuffle -> count-based
    exact-Jaccard verification against the exploded inverted index
    (intersection = aggregation; |A u B| = |A| + |B| - |A n B|).
    """
    rows = k // bands
    base = (
        surfaces.select(key_col)
        .dropDuplicates([key_col])
        .withColumn("shingles", char_shingles(F.col(key_col), n))
        .persist()
    )
    try:
        n_surfaces = base.count()  # eager: the inverted index (read twice
        # by the verify joins), the size agg, AND the banded signatures
        # all consume this — without the cache each consumer re-runs the
        # upstream distinct over the full mention stream (measured 13x
        # wall)
        if n_surfaces <= local_threshold:
            keys = [r[0] for r in base.select(key_col).collect()]
            spark = surfaces.sparkSession
            return local_frame(
                spark,
                _local_pairs(keys, n, threshold),
                "a string, b string, jaccard double")
        return _lsh_pairs(base, key_col, k, bands, rows, threshold)
    finally:
        base.unpersist()


def _lsh_pairs(base: DataFrame, key_col: str, k: int, bands: int, rows: int,
               threshold: float) -> DataFrame:
    """The distributed plan of :func:`similar_surface_pairs` over the
    cached ``(key, shingles)`` relation, checkpointed eagerly so the
    caller may release that cache."""
    inv = base.select(key_col, F.explode("shingles").alias("shingle"))
    sizes = inv.groupBy(key_col).agg(F.count("*").alias("n_sh"))
    banded = (
        base.withColumn("sig", minhash_signature(F.col("shingles"), k))
        .withColumn("band", F.explode(lsh_bands("sig", bands, rows)))
        .select(key_col, "band.band_id", "band.band_hash")
    )
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.%s" % key_col) < F.col("r.%s" % key_col)),
        )
        .select(
            F.col("l.%s" % key_col).alias("a"),
            F.col("r.%s" % key_col).alias("b"),
        )
        .dropDuplicates(["a", "b"])
    )
    shared = (
        cand.join(inv.select(F.col(key_col).alias("a"),
                             F.col("shingle").alias("s")), "a")
        .join(inv.select(F.col(key_col).alias("b"),
                         F.col("shingle").alias("s")), ["b", "s"])
        .groupBy("a", "b").agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(key_col).alias("a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(key_col).alias("b"), F.col("n_sh").alias("nb"))
    return (
        shared.join(sa, "a").join(sb, "b")
        .withColumn("jaccard",
                    F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
        .localCheckpoint(eager=True)
    )


# --------------------------------------------------------------------------
# connected components (alternating large-star / small-star)
# --------------------------------------------------------------------------

def _local_components(edge_rows) -> dict:
    """Driver-side union-find (path-halving) -> {node: min-label}."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edge_rows:
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = sorted((ru, rv))
            parent[hi] = lo
    return {node: find(node) for node in parent}


def connected_components(edges: DataFrame,
                         src: str = "a", dst: str = "b",
                         local_threshold: int = 1_000_000) -> DataFrame:
    """Min-label connected components over an undirected edge list.

    Adaptive strategy (same answer either way, asserted in tests):

    - **small graphs** (<= ``local_threshold`` symmetric edges, counted on
      the already-checkpointed edge set): one collect + driver union-find.
      The iterative path costs ~2 scheduled jobs per round regardless of
      data size, which dominates wall time when the similarity graph is
      tiny — and in this pipeline the node universe is DISTINCT SURFACES,
      the same relation the canonical map broadcast already assumes to be
      driver-sized.  This is the AQE move: pick the physical strategy
      from the runtime statistic.
    - **large graphs**: alternating large-star / small-star (Kiveris et
      al. 2014; PAPERS.md): each round is two self-grouping aggregations;
      converges in O(log^2 n) rounds on pathological graphs, 2-4 rounds
      on the near-transitive similarity graphs this pipeline produces.
      Lineage is cut every round with ``localCheckpoint`` (SURVEY.md §4)
      — without it the iterative plan grows exponentially.  Rounds are
      capped by ``fixpoint.MAX_ROUNDS``; running out raises
      ``FixpointNotConverged`` rather than returning under-merged
      components.  Pass ``local_threshold=0`` to force this path (tests
      do).

    Returns ``(node, component)`` where component = min node label
    (string order) of the node's component.
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    sym = sym.unionByName(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    e = sym.dropDuplicates(["u", "v"]).localCheckpoint(eager=True)

    if e.count() <= local_threshold:
        comp = _local_components(
            (r.u, r.v) for r in e.collect())
        spark = edges.sparkSession
        # preserve the caller's node type (surfaces are strings, doc ids
        # are longs); min-label order then matches the distributed path's
        # F.min over the same column type on both paths
        from pyspark.sql.types import StructField, StructType

        node_type = e.schema["u"].dataType
        return local_frame(
            spark,
            sorted(comp.items()),
            StructType([StructField("node", node_type),
                        StructField("component", node_type)]))

    # Faithful ALTERNATING large-star / small-star (one operation per
    # half-round, as the paper proves convergent — a fused both-at-once
    # variant can reach a stable non-star-forest state that under-merges;
    # caught by the local-path parity test on random graphs).
    def _signature(df):
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h")).first()
        return (row.n, row.h)

    prev_sig = None
    for n in rounds("connected components"):
        started = time.perf_counter()
        # LARGE-STAR: per node u over the SYMMETRIC neighbor view,
        # m = min(N(u) + {u}); every strictly-larger neighbor links to m.
        # Output edges are (bigger, smaller) by construction.
        nbrs = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            nbrs.groupBy("u").agg(F.min("v").alias("m"))
            .withColumn("m", F.least(F.col("m"), F.col("u")))
        )
        large = (
            nbrs.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates(["u", "v"])
            .localCheckpoint(eager=True)
        )
        # SMALL-STAR: edges already oriented u > v; per node u,
        # m = min of its (all-smaller) neighbors; every neighbor and u
        # itself links to m.
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates(["u", "v"])
            .localCheckpoint(eager=True)
        )
        e = small
        # converged when the star forest is stable: one cheap
        # order-insensitive signature (count + hash sum) per round
        sig = _signature(e)
        log_round("connected components", n, sig[0], started)
        if sig == prev_sig:
            break
        prev_sig = sig

    # e is now a star forest of (node, root) edges with root < node
    comp = e.groupBy("u").agg(F.min("v").alias("component"))
    # roots: nodes appearing only on the v side point to themselves
    centers = (
        e.select(F.col("v").alias("u"))
        .join(comp.select("u"), "u", "left_anti")
        .dropDuplicates(["u"])
        .withColumn("component", F.col("u"))
    )
    return comp.unionByName(centers).select(
        F.col("u").alias("node"), "component")


def canonical_surface_map(surfaces: DataFrame,
                          key_col: str = "surface_key",
                          threshold: float = 0.5) -> DataFrame:
    """(surface_key, canonical_key, canonical_uri) for every distinct
    surface — singletons map to themselves.

    Up to ``LOCAL_SURFACES`` distinct keys the keys are collected once
    and the whole map is built on the driver (``_local_pairs`` +
    ``_local_components``, the same exact answers the distributed path
    gives when LSH misses no pair); above it the keys are cached and run
    through :func:`similar_surface_pairs` and
    :func:`connected_components`."""
    distinct = surfaces.select(key_col).dropDuplicates([key_col])
    keys = [r[0] for r in distinct.limit(LOCAL_SURFACES + 1).collect()]
    if len(keys) <= LOCAL_SURFACES:
        named = sorted(k for k in keys if k is not None)
        comp = _local_components(
            (a, b) for a, b, _ in _local_pairs(named, 3, threshold))
        rows = []
        for key in named:
            canonical = comp.get(key, key)
            rows.append((key, canonical, SURFACE_URI_PREFIX
                         + canonical.replace(" ", "-")))
        if len(named) < len(keys):
            rows.append((None, None, None))  # as the left join maps NULL
        return local_frame(
            surfaces.sparkSession,
            rows, "surface_key string, canonical_key string, "
                  "canonical_uri string")
    distinct = distinct.persist()
    try:
        distinct.count()  # eager: feeds pair generation and the final
        # mapping join; un-cached it would re-aggregate the whole
        # upstream per consumer
        edges = similar_surface_pairs(distinct, key_col=key_col,
                                      threshold=threshold)
        comps = connected_components(edges)
        mapped = (
            distinct.join(
                comps, distinct[key_col] == comps["node"], "left")
            .select(
                F.col(key_col).alias("surface_key"),
                F.coalesce(F.col("component"), F.col(key_col))
                .alias("canonical_key"))
        )
        uri = F.concat(
            F.lit(SURFACE_URI_PREFIX),
            F.replace(F.col("canonical_key"), F.lit(" "), F.lit("-")))
        return mapped.withColumn("canonical_uri", uri).localCheckpoint(
            eager=True)
    finally:
        distinct.unpersist()


def sameas_triples(canon: DataFrame) -> DataFrame:
    """owl:sameAs provenance edges for every non-identity canonicalization."""
    from_uri = F.concat(
        F.lit(SURFACE_URI_PREFIX),
        F.replace(F.col("surface_key"), F.lit(" "), F.lit("-")))
    return (
        canon.filter(F.col("surface_key") != F.col("canonical_key"))
        .select(
            from_uri.alias("subj"),
            F.lit(OWL_SAMEAS).alias("pred"),
            F.col("canonical_uri").alias("obj_value"),
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"))
    )
