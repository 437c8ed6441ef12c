"""Output checks.  Every expected value comes from ``tools/golden_ref.py``,
the pure-Python reference of the pipeline semantics, computed from the
same parquet inputs the program read.

- ``Expected``: the reference triple set of a transcript corpus, its
  order-insensitive row hash, per-conversation shard fingerprints and
  the answer to each benchmark read.
- ``gazetteer_entities``: the entities the label reads ask for.
- ``row_hash``: the same hash computed by Spark over a triple table.
"""

from __future__ import annotations

import hashlib
import os
import sys
from collections import defaultdict

import pyarrow.parquet as pq
from pyspark.sql import functions as F

TRIPLE_COLS = ["subj", "pred", "obj_value", "obj_kind", "obj_lang"]
_NULL = "\x00"


def golden_ref():
    tools = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import golden_ref as ref

    return ref


def _row_hash(row):
    line = "\x1f".join(_NULL if c is None else str(c) for c in row)
    return int(hashlib.md5(line.encode("utf-8")).hexdigest()[:15], 16)


def row_hash(df):
    """``(rows, hash sum)`` of a triple DataFrame; equals
    ``Expected.row_hash`` for the same row multiset."""
    line = F.concat_ws("\x1f", *[
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in TRIPLE_COLS])
    h = F.conv(F.substring(F.md5(line), 1, 15), 16, 10).cast("decimal(38,0)")
    row = df.select(h.alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("s")).first()
    return int(row.n), int(row.s or 0)


def read_transcript_rows(paths):
    rows = []
    for path in paths:
        table = pq.read_table(path, columns=["conv_id", "turn_idx", "text"])
        cols = table.to_pydict()
        rows.extend(zip(cols["conv_id"], cols["turn_idx"], cols["text"]))
    return rows


def gazetteer_entities():
    """Canonical entity URIs of the gazetteer's aliases, by the reference
    (what ``find_labels`` reads are drawn from)."""
    from meresco_rdf_spark.sources.transcripts import GAZETTEER

    ref = golden_ref()
    aliases = [a for names in GAZETTEER.values() for a in names]
    mentions = ref.ref_mentions(
        [("gazetteer", i, a) for i, a in enumerate(aliases)])
    canon = ref.ref_canonical_map({m["surface_key"] for m in mentions})
    return sorted({c["canonical_uri"] for c in canon})


class Expected:
    """Reference results for one transcript corpus."""

    def __init__(self, transcript_paths):
        ref = golden_ref()
        self._ref = ref
        mentions = ref.ref_mentions(read_transcript_rows(transcript_paths))
        canon = ref.ref_canonical_map({m["surface_key"] for m in mentions})
        self.triples = ref.ref_triples(mentions, canon)
        self.by_subj = defaultdict(list)
        for t in self.triples:
            self.by_subj[t[0]].append(t)
        self.bnodes_of = defaultdict(list)
        for t in self.triples:
            if t[1] == ref.KG_CONVERSATION:
                self.bnodes_of[t[2]].append(t[0])

    @property
    def row_hash(self):
        return len(self.triples), sum(_row_hash(t) for t in self.triples)

    def shard_fingerprint(self, conv_uri):
        """Fingerprint of one conversation's closure: its own rows plus
        the rows of every mention bnode that points at it."""
        rows = list(self.by_subj.get(conv_uri, []))
        for bnode in self.bnodes_of.get(conv_uri, []):
            rows.extend(self.by_subj[bnode])
        return self._ref.triple_set_fingerprint(rows)

    def answer(self, kind, term):
        """The expected rows of one benchmark read, sorted."""
        if kind in ("point", "miss"):
            return sorted(self.by_subj.get(term, []))
        if kind == "labels":
            return sorted(
                (r["subj"], r["label_value"], r["label_lang"])
                for r in self._ref.ref_entity_labels(self.by_subj.get(term, [])))
        if kind == "bgp":
            ref = self._ref
            out = set()
            for _, pred, ent, kind_, _ in self.by_subj.get(term, []):
                if pred != ref.KG_MENTIONS or kind_ != "uri":
                    continue
                for _, p2, name, k2, lang in self.by_subj.get(ent, []):
                    if p2 == ref.FOAF_NAME:
                        out.add((ent, "uri", None, name, k2, lang))
            return sorted(out)
        raise ValueError("unknown read kind %r" % kind)


def parsed_shard_fingerprints(rows):
    """``(errors, {context: fingerprint})`` from parsed-back rows
    ``(context, subj, pred, obj_value, obj_kind, obj_lang, error)``."""
    from meresco_rdf_spark.kg.fingerprint import triple_set_fingerprint

    errors = 0
    by_shard = defaultdict(list)
    for context, s, p, v, k, lang, error in rows:
        if error is not None:
            errors += 1
            continue
        by_shard[context].append((s, p, v, k, lang))
    return errors, {c: triple_set_fingerprint(r) for c, r in by_shard.items()}


def pairwise_quality(predicted, truth):
    """Pairwise precision and recall of a clustering: ``predicted`` and
    ``truth`` map each item to its cluster label."""
    from collections import Counter

    def pairs(counter):
        return sum(n * (n - 1) // 2 for n in counter.values())

    both = Counter((predicted[k], truth[k]) for k in truth)
    hits = pairs(both)
    said = pairs(Counter(predicted[k] for k in truth))
    real = pairs(Counter(truth.values()))
    return (hits / said if said else 1.0), (hits / real if real else 1.0)
