"""Tests for ``session.local_frame``: driver rows as an Arrow-built local
relation, with the types and NULLs the list path gave."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import LongType

from meresco_rdf_spark.kg.canonicalize import (
    canonical_surface_map,
    connected_components,
    similar_surface_pairs,
)
from meresco_rdf_spark.kg.extract import SURFACE_URI_PREFIX
from meresco_rdf_spark.session import local_frame


def _lineage(df):
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_plans_as_local_scan_without_python_rdd(spark):
    df = local_frame(spark, [("a", 1), ("b", 2)], "k string, v long")
    assert "PythonRDD" not in _lineage(df)
    assert "LocalTableScan" in df._jdf.queryExecution(
    ).executedPlan().toString()
    # the list path this replaces does run a Python identity map
    listed = spark.createDataFrame([("a", 1)], "k string, v long")
    assert "PythonRDD" in _lineage(listed)


def test_nulls_round_trip_in_numeric_columns(spark):
    rows = [(1, 2, 0.5, "x"), (None, None, None, None), (3, None, 1.0, "z")]
    df = local_frame(spark, rows, "i int, n long, d double, s string")
    assert [tuple(r) for r in df.collect()] == rows
    assert df.filter(F.col("n").isNull()).count() == 2


def test_empty_rows_keep_their_schema(spark):
    ddl = "bucket int, status string, n_turns long, ts double"
    df = local_frame(spark, [], ddl)
    assert df.schema == spark.createDataFrame([], ddl).schema
    assert df.count() == 0
    assert df.union(local_frame(spark, [(1, "done", 2, 0.5)], ddl)).count() == 1


def test_rows_and_dates_match_the_list_path(spark):
    ddl = "s string, d date, n long"
    rows = [Row(s="a", d=datetime.date(2024, 2, 3), n=None),
            Row(s=None, d=None, n=7), ("b", datetime.date(2024, 2, 4), 2)]
    assert (local_frame(spark, rows, ddl).collect()
            == spark.createDataFrame(rows, ddl).collect())


def test_naive_timestamp_is_read_in_the_session_time_zone(spark):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    df = local_frame(spark, [(datetime.datetime(2024, 1, 1, 12, 30),),
                             (None,)], "t timestamp")
    # 2024-01-01 12:30 UTC, whatever the process's local zone
    first = df.select(F.unix_micros("t"), F.col("t").cast("string")).first()
    assert tuple(first) == (1704112200000000, "2024-01-01 12:30:00")
    assert df.filter(F.col("t").isNull()).count() == 1


def test_null_in_a_non_nullable_column_raises(spark):
    from meresco_rdf_spark.model import triple_schema

    with pytest.raises(ValueError, match="subj"):
        local_frame(spark, [(None, "p", "o", "uri", None)], triple_schema())


def test_connected_components_local_path_keeps_long_nodes(spark):
    edges = local_frame(spark, [(3, 1), (1, 2), (10, 11)], "a long, b long")
    comps = connected_components(edges)
    assert comps.schema["node"].dataType == LongType()
    assert comps.schema["component"].dataType == LongType()
    assert {tuple(r) for r in comps.collect()} == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    dist = connected_components(edges, local_threshold=0)
    assert dist.schema == comps.schema


def test_canonical_map_null_key_maps_as_the_left_join(spark):
    surfaces = local_frame(
        spark, [("marie curie",), ("marie curies",), (None,), ("spark",)],
        "surface_key string")
    # the distributed path's construction: LSH pairs, star-CC, left join
    comps = connected_components(similar_surface_pairs(
        surfaces.filter(F.col("surface_key").isNotNull()),
        local_threshold=0), local_threshold=0)
    joined = (surfaces.join(comps, surfaces["surface_key"] == comps["node"],
                            "left")
              .select("surface_key",
                      F.coalesce("component", "surface_key")
                      .alias("canonical_key")))
    reference = {tuple(r) for r in joined.withColumn(
        "canonical_uri", F.concat(
            F.lit(SURFACE_URI_PREFIX),
            F.replace(F.col("canonical_key"), F.lit(" "), F.lit("-"))))
        .collect()}
    assert (None, None, None) in reference
    assert len({r[1] for r in reference}) == 3  # the curies merge
    driver = canonical_surface_map(surfaces)
    assert {tuple(r) for r in driver.collect()} == reference
    assert driver.schema == joined.withColumn(
        "canonical_uri", F.lit(None).cast("string")).schema
