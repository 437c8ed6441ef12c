"""Seeded benchmark inputs.  The same seed gives byte-identical files.

- ``write_transcripts``: the transcript table as parquet, one directory
  per batch.  ``batch=0`` is the base corpus; every later batch holds
  ``batch_convs`` new conversations whose ``conv_id`` never occurs
  earlier.  Rows come from the package's ``synthesize_transcripts``.
- ``resolve_vocabulary``: surfaces with planted alias families of skewed
  sizes, plus the family of every surface, for the entity-resolution
  quality check.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import string

from pyspark.sql import functions as F

TURNS_PER_CONV = 10


def batch_path(root, batch):
    return os.path.join(root, "batch=%d" % batch)


def write_transcripts(spark, root, seed, n_base, batch_convs, n_batches,
                      partitions):
    """Write base + ``n_batches`` delta batches under ``root``."""
    from meresco_rdf_spark.sources.transcripts import synthesize_transcripts

    n_total = n_base + batch_convs * n_batches
    df = synthesize_transcripts(spark, n_total, TURNS_PER_CONV, seed=seed,
                                partitions=partitions)
    conv_idx = F.substring("conv_id", 6, 8).cast("int")
    batch = F.when(conv_idx < n_base, F.lit(0)).otherwise(
        F.floor((conv_idx - n_base) / batch_convs).cast("int") + 1)
    df.withColumn("batch", batch).write.partitionBy("batch").parquet(root)


_PART_UUID = re.compile(r"-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def content_digest(root):
    """sha1 over every data file under ``root``, keyed by its path with
    the per-write UUID removed from part-file names."""
    entries = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.startswith((".", "_")):
                continue
            full = os.path.join(dirpath, name)
            key = _PART_UUID.sub("", os.path.relpath(full, root))
            with open(full, "rb") as fh:
                entries.append((key, hashlib.sha1(fh.read()).hexdigest()))
    h = hashlib.sha1()
    for key, digest in sorted(entries):
        h.update(("%s %s\n" % (key, digest)).encode())
    return h.hexdigest()


# family sizes of the resolve vocabulary: one family large enough that
# its clique alone has > 1M symmetric similarity edges, a skewed middle,
# and mostly singletons
RESOLVE_FAMILY_SIZES = [1001] + [40] * 5 + [5] * 40 + [2] * 100 + [1] * 1500


def resolve_vocabulary(seed, sizes=RESOLVE_FAMILY_SIZES):
    """``[(surface_key, family)]``.  A family's members are one random
    10-letter base plus a distinct 3-letter tag, so any two members
    share 10 of at most 18 character trigrams (Jaccard >= 0.55);
    singletons are random 8-14 letter words."""
    rng = random.Random(seed)
    letters = string.ascii_lowercase
    out = []
    seen = set()

    def word(n):
        while True:
            w = "".join(rng.choice(letters) for _ in range(n))
            if w not in seen:
                seen.add(w)
                return w

    for fam, size in enumerate(sizes):
        if size == 1:
            out.append((word(rng.randint(8, 14)), fam))
            continue
        base = word(10)
        tags = set()
        while len(tags) < size:
            tags.add("".join(rng.choice(letters) for _ in range(3)))
        out.extend(("%s %s" % (base, tag), fam) for tag in sorted(tags))
    rng.shuffle(out)
    return out
