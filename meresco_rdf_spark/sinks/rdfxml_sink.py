"""Subject-sharded RDF/XML egress.

Distributed adapter around the deterministic serializer
(``rdfxml.serializer``, itself fixture-byte-parity with the reference's
``Triples2RdfXml``).  Triples are grouped by a shard key and each shard is
serialized independently inside ``applyInPandas``.

Closure requirement (SURVEY.md §3 E3): a shard must contain every triple
reachable from its root subjects through bnodes — bnode labels never cross
documents/conversations, so sharding by the provenance column
(context / conv_id) keeps closures local by construction.  Sharding by
``pmod(hash(subj), N)`` is only valid after verifying no cross-shard bnode
references (``validate_bnode_locality``).

Scale: one shuffle keyed by shard; per-shard work is the pure local
serializer over a small subject closure; output is (shard, xml) rows
written as text files — one RDF/XML document per shard.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

SHARD_XML_SCHEMA = "shard string, xml string, n_triples long"


def _serialize_group_fn(extra_prefixes: Optional[dict] = None):
    def _serialize_group(pdf):
        import pandas as pd

        from ..graph import Graph
        from ..model import row_to_node
        from ..rdfxml.serializer import Triples2RdfXml, element_to_string
        from ..namespaces import namespaces

        ns = (namespaces.copy_update(extra_prefixes)
              if extra_prefixes else namespaces)
        shard = pdf["shard"].iloc[0]
        graph = Graph()
        for subj, pred, value, kind, lang in zip(
                pdf["subj"], pdf["pred"], pdf["obj_value"], pdf["obj_kind"],
                pdf["obj_lang"]):
            graph.addTriple(subj, pred, row_to_node(value, kind, lang))
        serializer = Triples2RdfXml(namespaces=ns)
        xml = element_to_string(serializer.as_rdfxml(graph), ns)
        return pd.DataFrame({
            "shard": [shard], "xml": [xml],
            "n_triples": [len(graph.triples())]})

    return _serialize_group


def serialize_shards(triples: DataFrame, shard_col: str = "context",
                     num_partitions: Optional[int] = None,
                     extra_prefixes: Optional[dict] = None) -> DataFrame:
    """Triples (+ shard column) -> (shard, xml, n_triples) DataFrame.
    ``extra_prefixes`` extends the namespace table for vocabularies the
    default table doesn't carry (serializer needs a prefix per predicate
    namespace)."""
    df = triples.withColumnRenamed(shard_col, "shard")
    if num_partitions:
        df = df.repartition(num_partitions, "shard")
    return df.groupBy("shard").applyInPandas(
        _serialize_group_fn(extra_prefixes), schema=SHARD_XML_SCHEMA)


def write_rdfxml_shards(triples: DataFrame, path: str,
                        shard_col: str = "context",
                        num_partitions: Optional[int] = None) -> None:
    """Materialize shards as parquet (shard, xml) — parquet rather than raw
    text so shard names survive and writes stay atomic/partitioned."""
    serialize_shards(triples, shard_col, num_partitions).write.mode(
        "overwrite").parquet(path)


def validate_bnode_locality(triples: DataFrame, shard_col: str) -> int:
    """Count bnode labels observed in >1 shard (must be 0 for a sharding to
    be closure-safe).  One agg, usable as a pipeline assertion at scale."""
    subj_shards = (
        triples.filter(F.col("subj").startswith("_:"))
        .select(F.col("subj").alias("label"), F.col(shard_col).alias("shard")))
    obj_shards = (
        triples.filter(F.col("obj_kind") == "bnode")
        .select(F.col("obj_value").alias("label"), F.col(shard_col).alias("shard")))
    return (
        subj_shards.unionByName(obj_shards)
        .groupBy("label")
        .agg(F.countDistinct("shard").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
