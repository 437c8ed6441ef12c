"""Deduplication operators for large document corpora.

Five strategies, all DataFrame-native (no Python in the hot path):

- exact: md5-of-normalized-text groupBy — one shuffle on the hash.
- n-gram Jaccard: word-shingle inverted index join, exact Jaccard verify.
- MinHash-LSH: banding over MinHash signatures (wraps the same machinery
  as kg/canonicalize, here over word shingles + pluggable hash so the
  md5 variant is oracle-checkable in DuckDB).
- SimHash: 32-bit weighted bit-vote fingerprint from md5 nibbles
  (md5 -> oracle parity), near-dups = Hamming<=k via banded join.
- embedding cosine: near-dup pairs above a cosine threshold via the
  similarity module.

Scale notes: every strategy is (narrow per-doc signature) -> (shuffle on
signature/bucket key) -> (pair verify).  Pair explosion is bounded by
banding; hot buckets (boilerplate shingles) are capped with a
``max_bucket_size`` guard — the standard web-dedup trick: a shingle shared
by thousands of docs carries no information and only creates skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .textstats import fingerprint, normalized_text, tokens

HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, fp, keep): keep = row has the min id within its normalized-text
    fingerprint group.  One window on fp (hash-partitioned; no skew beyond
    genuine duplicate clusters, which AQE splits)."""
    w = Window.partitionBy("fp")
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .withColumn("keep", F.col(id_col) == F.min(id_col).over(w))
    )


# --------------------------------------------------------------------------
# word shingles + n-gram Jaccard
# --------------------------------------------------------------------------

def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams of the normalized text (pure column
    expression).  NOTE: Catalyst evaluates higher-order functions
    interpreted (no codegen) — for bulk shingling prefer
    :func:`word_shingles_arrow`, which computes the identical result
    ~5x faster through one vectorized Arrow batch."""
    toks = tokens(normalized_text(col))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def word_shingles_arrow(col: Column, n: int = 3) -> Column:
    """Arrow-vectorized twin of :func:`word_shingles` — output-identical
    (asserted in tests), used on the bulk paths."""
    import re as _re

    import pandas as pd
    from pyspark.sql.types import ArrayType, StringType

    @F.pandas_udf(ArrayType(StringType()))
    def shingle(texts):  # pd.Series -> pd.Series (hints omitted: local
        # import + `from __future__ import annotations` breaks inference)
        rx = _re.compile(r"[^a-z0-9]+")
        out = []
        for t in texts:
            toks = [w for w in rx.sub(" ", (t or "").lower()).strip().split(" ")
                    if w]
            if len(toks) <= n:
                out.append([" ".join(toks[:n])])
            else:
                # dict.fromkeys = order-preserving distinct (matches
                # array_distinct's first-occurrence order)
                out.append(list(dict.fromkeys(
                    " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))))
        return pd.Series(out)

    return shingle(col)


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.8,
                        max_bucket_size: int = 50) -> DataFrame:
    """Near-dup pairs by exact word-n-gram Jaccard, candidates from an
    inverted shingle index (docs sharing >=1 shingle).

    ``max_bucket_size`` drops shingles shared by more docs than the cap
    (boilerplate): they add candidates quadratically but no precision —
    this is the skew guard that keeps the self-join bounded at corpus
    scale.  Output: (a, b, jaccard) with a < b.

    Count-based set-similarity join: the intersection size per candidate
    pair is an AGGREGATION over the inverted index (group the shingle
    equi-join by pair and count), and |A u B| = |A| + |B| - |A n B| from
    per-doc shingle counts — shingle ARRAYS never travel through a
    shuffle, so the operator's shuffle volume is O(pairs), not
    O(pairs x shingles).  The frequency cap only gates which pairs become
    CANDIDATES; the intersection count comes from the uncapped index, so
    capping never changes a reported jaccard value, it only skips
    boilerplate-only pairs.

    Per-doc set sizes ride ALONG the existing exchanges instead of
    joining a separate O(docs) sizes relation: ``n_sh`` is computed
    narrowly (``F.size`` over the cached array column) and carried on
    each posting row (+8 bytes) through the verify join into the pair
    aggregate (``F.first`` — constant within a doc).  At corpus scale
    the sizes relation is itself O(corpus) and NOT broadcastable, so
    the former ``shared JOIN sizes JOIN sizes`` tail cost two extra
    full-corpus shuffles; now the union size needs no join at all."""
    # (id, shingle) is already unique: word_shingles emits distinct
    # shingles per doc, so no dedup shuffle is needed here.  Cache the
    # ARRAY form: explode is narrow and recomputes cheaply per consumer,
    # while n_sh derives from F.size with no groupBy shuffle.
    sh = df.select(
        F.col(id_col).alias("id"),
        word_shingles_arrow(F.col(text_col), n).alias("shingles")).persist()
    sh.count()  # eager: the Arrow shingler feeds every consumer below;
    # a lazy cache would re-run it per consumer
    inv = sh.select(
        "id", F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("shingle"))
    # global shingle frequency as a partial-aggregatable groupBy + join —
    # NOT a window: count(*) OVER (PARTITION BY shingle) forces a full
    # sort of the inverted index per partition with no map-side combine,
    # while groupBy collapses each shingle to one row before the join
    shingle_freq = inv.groupBy("shingle").agg(F.count("*").alias("n_docs"))
    freq = inv.join(shingle_freq, "shingle")
    # PREFIX FILTERING (lossless): rank each doc's shingles rarest-first
    # by the global order (n_docs, shingle); if J(A,B) >= t then A and B
    # must share a shingle within their first n_sh - floor(t*n_sh) + 1
    # shingles of that order, so only those prefixes are indexed for
    # candidacy — candidate volume drops quadratically in the prefix
    # fraction.  floor (not ceil) keeps the prefix a superset of the
    # theoretical minimum under float rounding, preserving losslessness.
    rank = F.row_number().over(
        Window.partitionBy("id").orderBy("n_docs", "shingle"))
    prefix_len = F.col("n_sh") - F.floor(F.lit(threshold) * F.col("n_sh")) + 1
    prefix = (
        freq.withColumn("rnk", rank)
        .filter(F.col("rnk") <= prefix_len)
        # skew guard on top: boilerplate shingles add candidates
        # quadratically but no precision
        .filter(F.col("n_docs") <= max_bucket_size)
        .select("id", "shingle")
    )
    cand = (
        prefix.alias("l").join(
            prefix.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    # exact intersection per CANDIDATE pair, over ALL shingles (the cap
    # gates candidacy, never the value): fan candidates out by a's
    # shingles, equi-join against b's postings on (b, shingle), count.
    # Intermediate is O(candidates x shingles-per-doc) — bounded.
    shared = (
        cand.join(inv.select(F.col("id").alias("a"),
                             F.col("n_sh").alias("na"),
                             F.col("shingle").alias("s")), "a")
        .join(inv.select(F.col("id").alias("b"),
                         F.col("n_sh").alias("nb"),
                         F.col("shingle").alias("s")),
              ["b", "s"])
        .groupBy("a", "b").agg(F.count("*").alias("inter"),
                               F.first("na").alias("na"),
                               F.first("nb").alias("nb"))
    )
    return (
        shared
        .withColumn("jaccard",
                    F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# MinHash-LSH dedup (pluggable hash: xxhash64 fast path / md5 oracle path)
# --------------------------------------------------------------------------

def _perm_hash_xx(x: Column, i: int) -> Column:
    return F.xxhash64(x, F.lit(i)).cast("string")


def _perm_hash_md5(x: Column, i: int) -> Column:
    # oracle-parity permutation: md5 exists in DuckDB; min over hex strings
    return F.substring(F.md5(F.concat(x, F.lit("#%d" % i))), 1, 16)


def minhash_dedup_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3, k: int = 16,
                        bands: int = 8, threshold: float = 0.7,
                        hash_fn: str = "xx") -> DataFrame:
    """Near-dup pairs via MinHash banding + exact Jaccard verification.
    ``hash_fn='md5'`` makes every value reproducible in ANSI SQL/DuckDB.

    Shuffle discipline (the 100-TB contract): shingle ARRAYS never enter a
    shuffle.  The banded exchange carries only (id, band_id, band_key) —
    O(docs x bands x key-bytes) — and verification reuses the count-based
    set-similarity join from :func:`ngram_jaccard_pairs`: intersection size
    is an aggregation over the exploded inverted index, |A u B| =
    |A| + |B| - |A n B| from per-doc shingle counts.  The former plan
    duplicated each doc's full shingle array x bands through explode and
    BOTH self-join sides — O(docs x bands x shingle-bytes) shuffle volume,
    which is exactly what dies first at corpus scale."""
    perm = _perm_hash_md5 if hash_fn == "md5" else _perm_hash_xx
    rows = k // bands
    sh = df.select(
        F.col(id_col).alias("id"),
        word_shingles_arrow(F.col(text_col), n).alias("shingles")).persist()
    sh.count()  # eager: feeds the signature path AND the inverted index;
    # a lazy cache would re-run the Arrow shingler per consumer
    # n_sh rides on each posting row (F.size over the cached array — no
    # groupBy shuffle) and flows through the verify join into the pair
    # aggregate, so the union size |A|+|B|-|AnB| needs no join against a
    # separate O(docs) sizes relation (not broadcastable at corpus scale)
    inv = sh.select("id", F.size("shingles").alias("n_sh"),
                    F.explode("shingles").alias("shingle"))

    def perm_min(i):
        # single-arg lambda: a two-arg lambda would receive (element, index)
        # from F.transform and shadow the permutation number
        return F.coalesce(
            F.array_min(F.transform(F.col("shingles"), lambda x: perm(x, i))),
            F.lit("~"))

    sig = sh.withColumn("sig", F.array(*[perm_min(i) for i in range(k)]))
    banded = sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws("|", *[F.col("sig")[b * rows + r] for r in range(rows)])
                .alias("band_key"))
            for b in range(bands)
        ])).alias("band"),
    ).select("id", "band.band_id", "band.band_key").persist()
    banded.count()  # eager: both self-join sides read it; lazy cache would
    # re-run the k-permutation chain on each side
    cand = (
        banded.alias("l").join(
            banded.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    # AQE broadcasts the candidate side of both verify joins, so the
    # inverted index is filtered map-side and never shuffled (a semi-join
    # prefilter of it measured a wash: BENCH/BASELINE.md)
    shared = (
        cand.join(inv.select(F.col("id").alias("a"),
                             F.col("n_sh").alias("na"),
                             F.col("shingle").alias("s")), "a")
        .join(inv.select(F.col("id").alias("b"),
                         F.col("n_sh").alias("nb"),
                         F.col("shingle").alias("s")),
              ["b", "s"])
        .groupBy("a", "b").agg(F.count("*").alias("inter"),
                               F.first("na").alias("na"),
                               F.first("nb").alias("nb"))
    )
    return (
        shared
        .withColumn("jaccard",
                    F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# SimHash (32-bit, md5-nibble bit source -> oracle parity)
# --------------------------------------------------------------------------

def simhash_bits(col: Column, n_bits: int = 32) -> Column:
    """Weighted SimHash as an ``n_bits``-char '0'/'1' string.

    Bit j's vote per token = +1 if nibble ``j % 32`` of
    ``md5(token + block-salt)`` has its high bit set, else -1 (block =
    ``j // 32``; block 0 is unsalted, so 32-bit fingerprints are
    byte-identical to the original definition and the DuckDB oracle).
    Bit j of the fingerprint = 1 iff the vote sum is >= 0.  A string
    (not a long) so ANSI SQL oracles reproduce it exactly without
    64-bit signed overflow games; the block salt (``|b<block>``) keeps
    wider fingerprints (64/128 bits — measurably better precision at
    corpus scale, see BENCH/BASELINE.md) equally reproducible:
    ``md5(x || '|b1')`` in SQL."""
    toks = tokens(normalized_text(col))
    high = F.array(*[F.lit(h) for h in HEX_HIGH])

    def vote(j):
        block = j // 32
        def hashed(x):
            return F.md5(x) if block == 0 else F.md5(
                F.concat(x, F.lit("|b%d" % block)))
        return F.aggregate(
            toks, F.lit(0),
            lambda acc, x: acc + F.when(
                F.array_contains(high, F.substring(hashed(x), j % 32 + 1, 1)),
                F.lit(1)).otherwise(F.lit(-1)))

    return F.concat(*[
        F.when(vote(j) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for j in range(n_bits)
    ])


def simhash_bits_arrow(col: Column, n_bits: int = 32) -> Column:
    """Arrow-vectorized twin of :func:`simhash_bits` — identical output
    (hashlib.md5 hex == Spark/DuckDB md5), ~10x faster than the
    interpreted per-bit aggregate chain."""
    import hashlib
    import re as _re

    import pandas as pd
    from pyspark.sql.types import StringType

    n_blocks = (n_bits + 31) // 32

    @F.pandas_udf(StringType())
    def simhash(texts):  # pd.Series -> pd.Series
        rx = _re.compile(r"[^a-z0-9]+")
        high = set("89abcdef")
        out = []
        for t in texts:
            toks = [w for w in rx.sub(" ", (t or "").lower()).strip().split(" ")
                    if w]
            votes = [0] * n_bits
            for tok in toks:
                # block 0 unsalted (original 32-bit definition); later
                # blocks salt the token — same rule as simhash_bits
                h = "".join(
                    hashlib.md5(
                        tok.encode("utf-8") if blk == 0
                        else ("%s|b%d" % (tok, blk)).encode("utf-8")
                    ).hexdigest()
                    for blk in range(n_blocks))
                for j in range(n_bits):
                    votes[j] += 1 if h[j] in high else -1
            out.append("".join("1" if v >= 0 else "0" for v in votes))
        return pd.Series(out)

    return simhash(col)


def simhash_fingerprints(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", n_bits: int = 32,
                         use_arrow: bool = True) -> DataFrame:
    bits = (simhash_bits_arrow if use_arrow else simhash_bits)(
        F.col(text_col), n_bits)
    return df.select(F.col(id_col), bits.alias("simhash"))


def simhash_dup_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n_bits: int = 32,
                      max_hamming: int = 3, bands: int = 4) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Candidate generation: split the fingerprint into ``bands`` blocks; by
    pigeonhole any pair within Hamming <= bands-1 shares an exact block,
    so the join key is (block_id, block_bits) — no quadratic scan.
    Verify computes exact Hamming distance on the bit strings."""
    fp = simhash_fingerprints(df, id_col, text_col, n_bits)
    width = n_bits // bands
    blocks = fp.select(
        F.col(id_col).alias("id"), "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("block_id"),
                F.substring("simhash", b * width + 1, width).alias("block"))
            for b in range(bands)
        ])).alias("blk"),
    ).select("id", "simhash", "blk.block_id", "blk.block").persist()
    blocks.count()  # eager: both self-join sides reuse the fingerprints
    cand = (
        blocks.alias("l").join(
            blocks.alias("r"),
            (F.col("l.block_id") == F.col("r.block_id"))
            & (F.col("l.block") == F.col("r.block"))
            & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("a"), F.col("r.id").alias("b"),
            F.col("l.simhash").alias("h_a"), F.col("r.simhash").alias("h_b"))
        .dropDuplicates(["a", "b"])
    )
    hamming = F.size(F.filter(
        F.zip_with(
            F.split(F.col("h_a"), ""), F.split(F.col("h_b"), ""),
            lambda x, y: x != y),
        lambda d: d))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# --------------------------------------------------------------------------
# cluster-level dedup decision (pairs -> components -> canonical doc)
# --------------------------------------------------------------------------

def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Turn near-dup PAIRS into the per-document KEEP/DROP decision a
    training-data pipeline actually applies: group pairs into clusters
    via connected components (near-duplicate similarity is not
    transitive, so A~B, B~C must still collapse to ONE survivor even
    when A~C was never a candidate pair), elect the min-id document of
    each cluster as canonical, keep exactly the canonicals.

    Returns ``(doc_id, canonical_id, keep)`` for EVERY input document
    (singletons are their own canonical, keep=true).

    Scale shape: the component graph holds only documents that appear in
    some candidate pair — a small fraction of the corpus under any sane
    threshold — so the components relation is far below the corpus size
    and the join back to ``docs`` is an AQE broadcast of the small side;
    the full corpus is never shuffled.  Components themselves run
    large-star/small-star (or the driver union-find under the adaptive
    threshold), see :func:`..kg.canonicalize.connected_components`."""
    from ..kg.canonicalize import connected_components

    comps = connected_components(
        pairs.select("a", "b")).withColumnRenamed("node", id_col)
    return (
        docs.select(id_col)
        .join(comps, id_col, "left")
        .withColumn("canonical_id", F.coalesce("component", F.col(id_col)))
        .withColumn("keep", F.col("canonical_id") == F.col(id_col))
        .select(id_col, "canonical_id", "keep")
    )


def minhash_dedup_clusters(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", n: int = 3, k: int = 16,
                           bands: int = 8, threshold: float = 0.7,
                           hash_fn: str = "xx") -> DataFrame:
    """MinHash-LSH fuzzy dedup, decided: :func:`minhash_dedup_pairs`
    piped through :func:`dedup_clusters`."""
    pairs = minhash_dedup_pairs(
        df, id_col, text_col, n=n, k=k, bands=bands,
        threshold=threshold, hash_fn=hash_fn)
    return dedup_clusters(df, pairs, id_col)


# --------------------------------------------------------------------------
# embedding near-dup
# --------------------------------------------------------------------------

def embedding_dup_pairs(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.95,
                        n_planes: int = 0) -> DataFrame:
    """Near-dup pairs with cosine >= threshold.  ``n_planes > 0`` switches
    from the exact all-pairs path to random-hyperplane LSH bucketing
    (similarity.hyperplane_buckets) — the scale path."""
    from .similarity import cosine_pairs

    return cosine_pairs(df, id_col, vec_col, threshold, n_planes=n_planes)
