"""Driver-contract tests: entry() smoke, queries()/oracle_sql() registry
consistency, and a DuckDB parity spot-check (the full parity run lives in
tools/check_oracles.py and covers every oracle at sf0.01)."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry_mod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]


class TestDriverContract:
    def test_entry_returns_rows_with_stable_schema(self, spark):
        df = entry_mod.entry(spark)
        assert df.columns == ["subj", "label_value", "label_lang", "in_degree"]
        assert df.count() > 0

    def test_registry_consistency(self):
        queries = entry_mod.queries()
        oracles = entry_mod.oracle_sql()
        assert len(queries) >= 25
        # every query carries an oracle (SQL or committed-golden parquet)
        assert set(oracles) == set(queries)

    @pytest.mark.parametrize("name", ["graph_find_labels", "dedup_exact",
                                      "pricing_summary"])
    def test_query_matches_oracle(self, spark, name):
        queries = entry_mod.queries()
        oracles = entry_mod.oracle_sql()
        sdf = queries[name](spark, SF_DIR)
        con = duckdb.connect()
        for t in ORACLE_TABLES:
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
                        % (t, SF_DIR, t))
        res = con.execute(oracles[name])
        o_cols = [d[0] for d in res.description]
        o_rows = res.fetchall()
        s_rows = [tuple(r) for r in sdf.collect()]
        assert sorted(sdf.columns) == sorted(o_cols)
        assert len(s_rows) == len(o_rows)

        def key(cols, row):
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            return tuple(
                "%.9g" % row[i] if isinstance(row[i], float) else str(row[i])
                for i in order)

        assert sorted(key(sdf.columns, r) for r in s_rows) == \
            sorted(key(o_cols, r) for r in o_rows)

    def test_rows_only_queries_run(self, spark):
        queries = entry_mod.queries()
        df = queries["kg_mentions"](spark, SF_DIR)
        assert df.count() > 0


GREEN_ROW = {"rows_match": True, "schema_match": True,
             "hash_match": True, "err": None}
RED_ROW = {"rows_match": True, "schema_match": True,
           "hash_match": False, "err": None}
ERR_ROW = {"rows_match": False, "schema_match": False,
           "hash_match": False, "err": "boom"}


class TestDynamicRotation:
    def test_driver_green_requires_all_checks(self, tmp_path):
        # presence in a CORRECTNESS file is NOT verification: only rows
        # with rows/schema/hash all true and no err count (round-4
        # regression: kg_edge_cut/graph_hits were red yet rotated out
        # of the driver window)
        import json

        from meresco_rdf_spark.entry_queries import _driver_green

        (tmp_path / "CORRECTNESS_r01.json").write_text(
            json.dumps({"a": GREEN_ROW, "b": RED_ROW, "e": ERR_ROW}))
        (tmp_path / "CORRECTNESS_r02.json").write_text(
            json.dumps({"b": GREEN_ROW, "c": GREEN_ROW, "d": RED_ROW}))
        (tmp_path / "CORRECTNESS_r02_broken.json").write_text("not json")
        assert _driver_green(str(tmp_path)) == {"a": 1, "b": 2, "c": 2}

    def test_driver_green_keeps_latest_green_round(self, tmp_path):
        import json

        from meresco_rdf_spark.entry_queries import _driver_green

        (tmp_path / "CORRECTNESS_r01.json").write_text(
            json.dumps({"a": GREEN_ROW}))
        (tmp_path / "CORRECTNESS_r03.json").write_text(
            json.dumps({"a": GREEN_ROW, "b": GREEN_ROW}))
        # a later RED row does not erase an earlier green one (the
        # driver re-runs it anyway once it re-enters the window; losing
        # the provenance record would be wrong)
        (tmp_path / "CORRECTNESS_r04.json").write_text(
            json.dumps({"b": RED_ROW}))
        assert _driver_green(str(tmp_path)) == {"a": 3, "b": 3}

    def test_driver_green_falls_back_when_no_files(self, tmp_path):
        from meresco_rdf_spark.entry_queries import (
            _DRIVER_GREEN_FALLBACK,
            _driver_green,
        )

        got = _driver_green(str(tmp_path))
        assert set(got) == set(_DRIVER_GREEN_FALLBACK)

    def test_repo_rotation_front_loads_unverified(self):
        # in the actual repo: every entry before the first driver-green
        # one must be non-green (the driver's budget is spent on
        # provenance gaps and red rows first), and the green block is
        # ordered stalest-verification-first
        import meresco_rdf_spark.entry_queries as eq

        green = eq._driver_green()
        names = list(eq.QUERIES.keys())
        first_green = next(i for i, n in enumerate(names) if n in green)
        assert all(n not in green for n in names[:first_green])
        assert all(n in green for n in names[first_green:])
        rounds = [green[n] for n in names[first_green:]]
        assert rounds == sorted(rounds)

    def test_repo_rotation_red_rows_inside_driver_window(self):
        # red rows and never-run queries must sit inside the driver's
        # 50-query window
        import meresco_rdf_spark.entry_queries as eq

        green = eq._driver_green()
        names = list(eq.QUERIES.keys())
        outside = [n for n in names[50:] if n not in green]
        assert outside == []

    def test_driver_green_tolerates_non_dict_json(self, tmp_path):
        import json

        from meresco_rdf_spark.entry_queries import _driver_green

        (tmp_path / "CORRECTNESS_r01.json").write_text(
            json.dumps(["not", "a", "dict"]))
        (tmp_path / "CORRECTNESS_r02.json").write_text(
            json.dumps({"x": GREEN_ROW, "y": {"weird": "row"}}))
        assert _driver_green(str(tmp_path)) == {"x": 2}


class TestOracleOutputTyping:
    """Round-4 regression class: two oracles whose final columns bound
    to DuckDB HUGEINT (uncast ``SUM(...) * 1000000 // x``) hash-failed
    on the driver while passing the local ``fetchall()`` replica — the
    driver's fetch path renders HUGEINT/DECIMAL through a different
    dtype than BIGINT.  Every oracle output column must therefore bind
    to a type with ONE canonical Python rendering identical to Spark's:
    VARCHAR, BOOLEAN, INTEGER, BIGINT, or DOUBLE (floats hash via %.9g
    on both sides).  Binding is enough — no execution — so this covers
    the full registry in seconds."""

    ALLOWED = {"VARCHAR", "BOOLEAN", "INTEGER", "BIGINT", "DOUBLE"}

    def test_every_oracle_binds_to_canonical_types(self):
        con = duckdb.connect()
        for t in ORACLE_TABLES:
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
                        % (t, SF_DIR, t))
        oracles = entry_mod.oracle_sql()
        offenders = []
        for name, sql in oracles.items():
            rel = con.sql(sql)  # binds + types the plan, does not run it
            for col, ty in zip(rel.columns, rel.types):
                if str(ty) not in self.ALLOWED:
                    offenders.append((name, col, str(ty)))
        assert offenders == [], (
            "oracle output columns with driver-ambiguous DuckDB types "
            "(wrap the final SELECT column in CAST(... AS BIGINT) or "
            "an allowed type): %r" % offenders)

    def test_hugeint_fixture_would_be_caught(self):
        # sanity: the exact round-4 failure shape binds to HUGEINT and
        # would be flagged by the check above
        con = duckdb.connect()
        rel = con.sql("SELECT SUM(x) * 1000000 // COUNT(*) AS ppm "
                      "FROM (VALUES (1), (2)) v(x)")
        assert str(rel.types[0]) not in self.ALLOWED


class TestReplicaFetchSemantics:
    """tools/check_oracles.py must fail where the driver fails: a
    HUGEINT-typed oracle is red in the replica (round-4 directive #3's
    done-criterion) and green once CAST."""

    def test_replica_red_on_hugeint_fixture(self):
        sys.path.insert(0, str(REPO / "tools"))
        from check_oracles import duck_fetch

        con = duckdb.connect()
        sql = ("SELECT SUM(x) * 1000000 // COUNT(*) AS ppm "
               "FROM (VALUES (1), (2)) v(x)")
        _, _, offenders = duck_fetch(con, sql)
        assert offenders == [("ppm", "HUGEINT")]
        _, rows, offenders = duck_fetch(
            con, "SELECT CAST(SUM(x) * 1000000 // COUNT(*) AS BIGINT) "
                 "AS ppm FROM (VALUES (1), (2)) v(x)")
        assert offenders == []
        assert rows == [("1500000",)]

    def test_replica_int_rendering_survives_nulls(self):
        sys.path.insert(0, str(REPO / "tools"))
        from check_oracles import duck_fetch

        con = duckdb.connect()
        # nullable BIGINT renders canonical int strings + <NULL> (the
        # pandas path would upcast to float64 and print '5.0')
        _, rows, offenders = duck_fetch(
            con, "SELECT CAST(x AS BIGINT) AS x "
                 "FROM (VALUES (5), (NULL)) v(x) ORDER BY x NULLS LAST")
        assert offenders == []
        assert rows == [("5",), ("<NULL>",)]

    def test_replica_null_double_distinct_from_nan(self):
        sys.path.insert(0, str(REPO / "tools"))
        from check_oracles import duck_fetch

        con = duckdb.connect()
        # a NULL double must hash as <NULL>, a real NaN as NaN — the
        # pandas fetch path collapses both into NaN (caught live on
        # events_asof_signup's genuinely-NULL doubles); Arrow keeps them
        # distinct
        _, rows, offenders = duck_fetch(
            con, "SELECT CAST(x AS DOUBLE) AS x FROM (VALUES (1.5), "
                 "(CAST('NaN' AS DOUBLE)), (NULL)) v(x) "
                 "ORDER BY x NULLS LAST")
        assert offenders == []
        assert rows == [("1.5",), ("NaN",), ("<NULL>",)]
