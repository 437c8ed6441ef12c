"""Structured Streaming surface: incremental transcript ingest ->
mention/triple streams with watermarked windowed aggregation."""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

# the five-column triple table every triple-stream sink maintains
TRIPLE_DDL = ("subj string, pred string, obj_value string, obj_kind string, "
              "obj_lang string")


def read_if_exists(spark: SparkSession, path: str,
                   ddl: str) -> Optional[DataFrame]:
    """The parquet table a stream sink maintains at ``path``, or None
    before the first batch wrote it.  Probing with ``exists`` (not a read
    that fails) keeps a missing path out of Spark's metadata lookup,
    which logs a WARN stack trace for it; the explicit schema ``ddl``
    (partition columns included) reads a directory whose first write
    committed no file as empty."""
    from ..kg.snapshots import _fs

    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath(path)):
        return None
    return spark.read.schema(ddl).parquet(path)
