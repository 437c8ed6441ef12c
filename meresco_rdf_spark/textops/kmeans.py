"""Trained IVF coarse quantizer: distributed Lloyd k-means in exact
fixed-point integer arithmetic.

The untrained quantizers in :mod:`.similarity` (sign-LSH planes,
sha1-derived IVF pivots) are storage-free but data-blind: bucket sizes
follow the data distribution, not the other way round.  Training the
pivots on the corpus (classic IVF-flat, the FAISS coarse-quantizer
recipe) moves centroids where the vectors actually are, which buys
recall per candidate examined — measured in
``tools/ann_recall_scale.py`` and BENCH/BASELINE.md.

Why fixed-point integers: Lloyd's algorithm is iterative, and float
summation order differs between Spark partial aggregation, numpy, and
any SQL engine — bit drift in one centroid can flip a boundary
assignment and cascade.  Scaling every vector to an integer grid
(``round(x * 2**20)``) makes every training step EXACT and
order-independent (int64 addition is associative), so the whole
pipeline — init, assignment, centroid update, probe selection, final
L2 ranking — is bit-reproducible on any executor count AND expressible
as a chained-CTE SQL oracle (the driver's ``similarity_ivf_kmeans``
query hash-matches DuckDB running the same integer algorithm).  The
same discipline as the fixed-point PageRank in
``operators/graph_algos.py``.

Headroom audit (dim <= 4096, |x| <= 2 after scaling => components
< 2**21): dot products <= dim * 2**42 < 2**54 fits int64; with dim 64
everything stays below 2**48, also exactly representable in the
DOUBLE that DuckDB's ``list_dot_product`` returns.

Scale shape (100 TB): each Lloyd iteration is ONE corpus scan (the
assignment UDF captures the centroid matrix in its closure — KB-sized,
never joined) plus ONE partial-aggregated exchange of at most
``n_pivots * dim`` rows per map partition.  Nothing grows with corpus
size on the wire; train on a sampled DataFrame (``train_on=``) when
even the scans are too dear.  Search topology is identical to
``similarity.ivf_topk``: bucket equi-join, captured-query scoring,
per-query top-k window.

Engine extension — no counterpart in the reference
(seecr/meresco-rdf has no vector operations); mandated by the
training-data-pipeline requirements (ANN scale path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

SCALE = 1 << 20


def fixed_point(vec: Column, scale: int = SCALE) -> Column:
    """array<float> -> array<long> on the ``1/scale`` grid.

    ``floor(x * scale + 0.5)`` (round-half-up) instead of a ROUND call:
    this exact formulation is reproducible across Spark, numpy, and
    DuckDB, while ROUND is half-even in some engines and half-away in
    others.  float32 -> float64 widening and the *2**k multiply are
    both exact, so every engine sees identical doubles going into the
    floor."""
    s = float(scale)
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * s + F.lit(0.5)))


def _trunc_div(s: int, n: int) -> int:
    """Integer division truncating toward zero — matches Spark's ``div``
    and DuckDB's ``//`` (Python's ``//`` floors, which differs on
    negative sums)."""
    q = abs(s) // n
    return -q if s < 0 else q


def _assign_fixed(centroids: list[list[int]]):
    """pandas_udf: fixed vector -> 1-based nearest-centroid bucket under
    squared L2, computed as ``|c|^2 - 2 v.c`` (the ``|v|^2`` term is
    constant per row).  int64 matmul — exact; ties break to the lowest
    bucket (numpy argmin = first minimum, mirroring ORDER BY dist,
    bucket in the oracle)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType

    cmat = np.array(centroids, dtype=np.int64)          # (k, dim)
    cnorm = (cmat * cmat).sum(axis=1)                   # (k,)

    @F.pandas_udf(IntegerType())
    def bucket(vecs):  # pd.Series of list<long> -> pd.Series of int
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        mat = np.array([np.asarray(v, dtype=np.int64) for v in vecs])
        d = cnorm[None, :] - 2 * (mat @ cmat.T)
        return pd.Series(d.argmin(axis=1) + 1).astype("int32")

    return bucket


def _dist_vs_captured_queries(qid_to_vec: dict):
    """pandas_udf (query_id, c_fixed) -> ``|c|^2 - 2 c.q`` as int64,
    with the query matrix captured in the closure (the
    ``broadcast_queries`` discipline from :mod:`.similarity`: query
    vectors never ride candidate rows through an exchange)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType

    qids = list(qid_to_vec)
    qmat = np.array([qid_to_vec[q] for q in qids], dtype=np.int64)
    pos_of = {q: i for i, q in enumerate(qids)}

    @F.pandas_udf(LongType())
    def dist(qid, cvecs):
        if len(qid) == 0:
            return pd.Series([], dtype="int64")
        pos = qid.map(pos_of).to_numpy()
        mq = qmat[pos]
        mc = np.array([np.asarray(v, dtype=np.int64) for v in cvecs])
        return pd.Series((mc * mc).sum(axis=1) - 2 * (mq * mc).sum(axis=1))

    return dist


def kmeans_train(corpus: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding", n_pivots: int = 8,
                 n_iter: int = 2, scale: int = SCALE) -> list[list[int]]:
    """Lloyd's algorithm on the fixed-point grid; returns the trained
    centroid list (n_pivots x dim Python ints — KB-sized driver state,
    the model IS the return value).

    Deterministic init: the fixed vectors of the ``n_pivots`` smallest
    ids (bucket j = rank-j id).  Per iteration: closure-captured
    assignment (one scan), elementwise integer sums via
    posexplode + partially-aggregated groupBy (the exchange carries at
    most n_pivots * dim rows per map partition), then a driver-side
    truncating-division mean.  Empty buckets keep their previous
    centroid."""
    fixed = corpus.select(
        F.col(id_col).alias("id"),
        fixed_point(F.col(vec_col), scale).alias("v"))
    init_rows = sorted(fixed.orderBy("id").limit(n_pivots).collect(),
                       key=lambda r: r.id)
    if len(init_rows) < n_pivots:
        raise ValueError("corpus smaller than n_pivots=%d" % n_pivots)
    centroids = [list(r.v) for r in init_rows]
    dim = len(centroids[0])
    for _ in range(n_iter):
        assigned = fixed.withColumn(
            "bucket", _assign_fixed(centroids)(F.col("v")))
        sums = (assigned.select("bucket", F.posexplode("v")
                                .alias("pos", "val"))
                .groupBy("bucket", "pos")
                .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect())
        by_bucket: dict = {}
        for r in sums:
            by_bucket.setdefault(r.bucket, {})[r.pos] = (r.s, r.n)
        centroids = [
            [_trunc_div(*by_bucket[j][p]) for p in range(dim)]
            if j in by_bucket else centroids[j - 1]
            for j in range(1, n_pivots + 1)
        ]
    return centroids


def ivf_kmeans_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id", n_pivots: int = 8,
                    n_iter: int = 2, probes: int = 2, scale: int = SCALE,
                    train_on: DataFrame | None = None) -> DataFrame:
    """Approximate L2 top-k with a TRAINED coarse quantizer: k-means
    centroids (see :func:`kmeans_train`), each corpus vector in its
    nearest centroid's inverted list, each query probing its ``probes``
    nearest lists, exact integer L2 ranking the candidates
    (``dist = |c|^2 - 2 c.q``; the per-query ``|q|^2`` constant is
    dropped — rank-equivalent).  Ties break on neighbor_id.

    ``train_on`` substitutes a (sampled) training DataFrame — the
    100-TB recipe, where the quantizer trains on a hash-sample while
    the full corpus is only assigned and searched.

    Returns (query_id, neighbor_id, dist: long, rank)."""
    import numpy as np

    centroids = kmeans_train(
        train_on if train_on is not None else corpus,
        id_col=id_col, vec_col=vec_col, n_pivots=n_pivots,
        n_iter=n_iter, scale=scale)
    assign = _assign_fixed(centroids)
    c = (corpus.select(F.col(id_col).alias("neighbor_id"),
                       fixed_point(F.col(vec_col), scale).alias("c_v"))
         .withColumn("bucket", assign(F.col("c_v"))))

    # queries are the small side (the broadcast_queries assumption):
    # probe selection runs driver-side on the captured matrix; the only
    # thing shipped back to executors is (query_id, bucket) pairs.
    qrows = queries.select(
        F.col(query_id_col).alias("query_id"),
        fixed_point(F.col(vec_col), scale).alias("q_v")).collect()
    cmat = np.array(centroids, dtype=np.int64)
    cnorm = (cmat * cmat).sum(axis=1)
    probe_pairs = []
    qid_to_vec = {}
    for r in qrows:
        qv = np.asarray(r.q_v, dtype=np.int64)
        d = cnorm - 2 * (cmat @ qv)
        for b in np.argsort(d, kind="stable")[:probes]:
            probe_pairs.append((r.query_id, int(b) + 1))
        qid_to_vec[r.query_id] = qv
    spark = corpus.sparkSession
    probe_df = local_frame(
        spark,
        probe_pairs, "query_id long, bucket int")

    # |Q| x probes rows — always the broadcast side, whatever the stats
    # estimator thinks of the UDF-derived bucket column on the corpus
    cand = (F.broadcast(probe_df).join(c, "bucket")
            .filter(F.col("query_id") != F.col("neighbor_id")))
    scored = cand.withColumn(
        "dist",
        _dist_vs_captured_queries(qid_to_vec)(
            F.col("query_id"), F.col("c_v")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "dist", "rank"))
