"""Snapshot-versioned triple tables: COW merge semantics, atomic-commit
CAS, reader isolation, time travel, emptied/new buckets, expiry."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from meresco_rdf_spark.kg.materialize import TRIPLE_SORT, with_subj_bucket
from meresco_rdf_spark.kg.snapshots import (
    SnapshotConflict,
    SnapshotNotFound,
    _commit_manifest,
    _fs,
    expire_snapshots,
    read_snapshot,
    snapshot_compact,
    snapshot_create,
    snapshot_merge,
    snapshot_versions,
)

from helpers import assert_part_files_sorted

SCHEMA = ("subj string, pred string, obj_value string, obj_kind string, "
          "obj_lang string")


def tri(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def rowset(df):
    return {(r.subj, r.pred, r.obj_value, r.obj_kind, r.obj_lang)
            for r in df.select(
                "subj", "pred", "obj_value", "obj_kind", "obj_lang")
            .collect()}


def base_rows(n=40):
    return [("urn:s:%d" % i, "urn:p:label", "name %d" % i, "literal", None)
            for i in range(n)] + [
        ("urn:s:%d" % i, "urn:p:ref", "urn:s:%d" % ((i + 1) % n), "uri",
         None) for i in range(n)]


class TestSnapshotTable:
    def test_create_read_roundtrip(self, spark, tmp_path):
        root = str(tmp_path / "t")
        df = tri(spark, base_rows())
        m = snapshot_create(spark, df, root, buckets=4)
        assert m["version"] == 1 and m["total_rows"] == 80
        got = read_snapshot(spark, root)
        assert rowset(got) == rowset(df)
        # subj_bucket recovered via partition discovery and correct
        chk = with_subj_bucket(df, 4).collect()
        want = {(r.subj, r.pred, r.subj_bucket) for r in chk}
        assert {(r.subj, r.pred, r.subj_bucket) for r in got.collect()} \
            == want

    def test_merge_semantics_and_cow_reuse(self, spark, tmp_path):
        root = str(tmp_path / "t")
        df = tri(spark, base_rows())
        snapshot_create(spark, df, root, buckets=4)
        adds = tri(spark, [
            ("urn:s:0", "urn:p:alt", "zero", "literal", "en"),
            # set-semantics leg: re-adding an existing row must not dup
            ("urn:s:1", "urn:p:label", "name 1", "literal", None)])
        deletes = tri(spark, [
            ("urn:s:2", "urn:p:label", "name 2", "literal", None),
            # no-op delete leg
            ("urn:s:2", "urn:p:label", "GONE", "literal", None)])
        m2 = snapshot_merge(spark, root, adds=adds, deletes=deletes)
        want = ((rowset(df) - rowset(deletes)) | rowset(adds))
        assert rowset(read_snapshot(spark, root)) == want
        assert m2["total_rows"] == len(want)
        # copy-on-write: untouched buckets' manifest entries point at the
        # PARENT's data directory (no rewrite happened)
        m1 = snapshot_versions(spark, root)[0]
        untouched = [b for b in m2["buckets"]
                     if int(b) not in m2["buckets_touched"]]
        assert untouched, "test needs at least one untouched bucket"
        for b in untouched:
            assert m2["buckets"][b] == m1["buckets"][b]
        for b in m2["buckets_touched"]:
            assert m2["buckets"][str(b)] != m1["buckets"].get(str(b))

    def test_reader_isolation_and_time_travel(self, spark, tmp_path):
        root = str(tmp_path / "t")
        df = tri(spark, base_rows())
        snapshot_create(spark, df, root, buckets=4)
        reader = read_snapshot(spark, root)  # resolved BEFORE the merge
        snapshot_merge(spark, root, deletes=df)  # empty the whole table
        # the pre-merge reader still sees v1 in full (immutable files)
        assert reader.count() == 80
        assert rowset(reader) == rowset(df)
        # current is empty; time travel reopens v1
        assert read_snapshot(spark, root).count() == 0
        assert rowset(read_snapshot(spark, root, version=1)) == rowset(df)

    def test_emptied_bucket_leaves_manifest(self, spark, tmp_path):
        root = str(tmp_path / "t")
        df = tri(spark, base_rows())
        snapshot_create(spark, df, root, buckets=4)
        bucketed = with_subj_bucket(df, 4)
        victim = bucketed.select("subj_bucket").first().subj_bucket
        dels = bucketed.filter(F.col("subj_bucket") == victim).drop(
            "subj_bucket")
        m2 = snapshot_merge(spark, root, deletes=dels)
        assert str(victim) not in m2["buckets"]
        cur = read_snapshot(spark, root)
        assert cur.filter(F.col("subj_bucket") == victim).count() == 0
        assert cur.count() == 80 - dels.count()

    def test_add_into_previously_empty_bucket(self, spark, tmp_path):
        root = str(tmp_path / "t")
        df = tri(spark, base_rows(4))
        bucketed = with_subj_bucket(df, 4)
        present = {r.subj_bucket for r in bucketed.collect()}
        snapshot_create(
            spark, bucketed.filter(
                F.col("subj_bucket") == min(present)).drop("subj_bucket"),
            root, buckets=4)
        other = bucketed.filter(F.col("subj_bucket") != min(present)).drop(
            "subj_bucket")
        assert other.count() > 0
        snapshot_merge(spark, root, adds=other)
        assert rowset(read_snapshot(spark, root)) == rowset(df)

    def test_commit_conflict_raises(self, spark, tmp_path):
        root = str(tmp_path / "t")
        snapshot_create(spark, tri(spark, base_rows(4)), root, buckets=2)
        fs, hpath = _fs(spark, root)
        doomed = {"version": 1, "parent": None, "operation": "overwrite",
                  "n_buckets": 2, "buckets": {}, "row_counts": {},
                  "total_rows": 0, "created_unix": 0.0}
        with pytest.raises(SnapshotConflict):
            _commit_manifest(fs, hpath, root, doomed)
        # the losing writer's temp file must not linger
        assert not [f for f in os.listdir(os.path.join(root, "_meta"))
                    if f.startswith(".tmp-")]

    def test_merge_without_snapshot_raises(self, spark, tmp_path):
        with pytest.raises(SnapshotNotFound):
            snapshot_merge(spark, str(tmp_path / "none"),
                           adds=tri(spark, base_rows(2)))
        with pytest.raises(SnapshotNotFound):
            read_snapshot(spark, str(tmp_path / "none"))

    def test_expire_drops_history_keeps_current(self, spark, tmp_path):
        root = str(tmp_path / "t")
        df = tri(spark, base_rows())
        snapshot_create(spark, df, root, buckets=4)
        adds = tri(spark, [("urn:s:0", "urn:p:alt", "x", "literal", None)])
        snapshot_merge(spark, root, adds=adds)
        dels = tri(spark, [("urn:s:0", "urn:p:alt", "x", "literal", None)])
        snapshot_merge(spark, root, deletes=dels)
        current = rowset(read_snapshot(spark, root))
        out = expire_snapshots(spark, root, keep_last=1)
        assert out["expired_versions"] == [1, 2]
        # v3's untouched buckets still reference v1 data dirs — those
        # must SURVIVE expiry (referenced), while v2's superseded touched
        # dir is deleted
        assert rowset(read_snapshot(spark, root)) == current
        with pytest.raises(SnapshotNotFound):
            read_snapshot(spark, root, version=1)
        data_dirs = set(os.listdir(os.path.join(root, "data")))
        kept = snapshot_versions(spark, root)[-1]
        referenced = {p.split("/subj_bucket=", 1)[0].split("/", 1)[1]
                      for p in kept["buckets"].values()}
        assert data_dirs == referenced

    def test_lineage_metrics(self, spark, tmp_path):
        root = str(tmp_path / "t")
        df = tri(spark, base_rows())
        snapshot_create(spark, df, root, buckets=4)
        m2 = snapshot_merge(spark, root, adds=tri(
            spark, [("urn:s:0", "urn:p:alt", "x", "literal", None)]))
        assert m2["parent"] == 1 and m2["version"] == 2
        assert m2["operation"] == "merge"
        assert sum(m2["row_counts"].values()) == m2["total_rows"] == 81
        vs = snapshot_versions(spark, root)
        assert [m["version"] for m in vs] == [1, 2]


class _CrashingFs:
    """Hadoop FileSystem proxy whose k-th create/rename/delete (counted
    across every ``_fs`` handle of one run) crashes — before the call
    runs, or with ``after=True`` once it has run."""

    OPS = ("create", "rename", "delete")

    def __init__(self, fs, calls, fail_at, after):
        self._fs, self._calls = fs, calls
        self._fail_at, self._after = fail_at, after

    def __getattr__(self, name):
        attr = getattr(self._fs, name)
        if name not in self.OPS:
            return attr

        def op(*args):
            self._calls.append(name)
            crash = len(self._calls) == self._fail_at
            if crash and not self._after:
                raise IOError("injected crash before %s" % name)
            out = attr(*args)
            if crash:
                raise IOError("injected crash after %s" % name)
            return out
        return op


def _inject_crash(monkeypatch, fail_at=None, after=False):
    """Route ``snapshots._fs`` through :class:`_CrashingFs`; returns the
    op log (``fail_at=None`` only counts)."""
    from meresco_rdf_spark.kg import snapshots

    real, calls = snapshots._fs, []

    def crashing(spark, root):
        fs, hpath = real(spark, root)
        return _CrashingFs(fs, calls, fail_at, after), hpath
    monkeypatch.setattr(snapshots, "_fs", crashing)
    return calls


def _leftovers(root, spark):
    """Data dirs no manifest references, plus temp manifests."""
    referenced = {p.split("/subj_bucket=", 1)[0]
                  for m in snapshot_versions(spark, root)
                  for p in m["buckets"].values()}
    data = {"data/" + d for d in os.listdir(os.path.join(root, "data"))}
    meta = os.path.join(root, "_meta")
    tmp = {"_meta/" + f for f in os.listdir(meta)
           if f.startswith(".tmp-")} if os.path.isdir(meta) else set()
    return (data - referenced) | tmp


class TestCrashMatrix:
    """A crash at any commit step leaves readers on exactly the old or
    the new rowset, the next writer succeeds, and expire_snapshots
    removes what the crashed writer left behind."""

    ADDS = [("urn:s:0", "urn:p:alt", "zero", "literal", "en"),
            ("urn:s:new", "urn:p:label", "new", "literal", None)]
    DELS = [("urn:s:2", "urn:p:label", "name 2", "literal", None)]

    def _steps(self, monkeypatch, run):
        # every create/rename/delete of a clean run, crashed before it,
        # plus a crash right after the last one (the commit rename)
        with monkeypatch.context() as m:
            calls = _inject_crash(m)
            run()
        assert "rename" in calls, calls
        return ([(k, False) for k in range(1, len(calls) + 1)]
                + [(len(calls), True)])

    def _recovers(self, spark, root, after, retry, want):
        left = _leftovers(root, spark)
        orphans = {d for d in left if d.startswith("data/")}
        # before the commit rename the writer's data dir is an orphan
        # (and, past its create, so is the temp manifest); after it,
        # nothing is left over
        assert len(orphans) == (0 if after else 1), left
        retry()  # the next writer succeeds
        assert rowset(read_snapshot(spark, root)) == want
        assert orphans <= set(expire_snapshots(spark, root)["removed_dirs"])
        assert not _leftovers(root, spark)
        assert rowset(read_snapshot(spark, root)) == want

    def test_every_step_of_a_merge(self, spark, tmp_path, monkeypatch):
        old = set(base_rows())
        new = (old - set(self.DELS)) | set(self.ADDS)

        def setup(name):
            root = str(tmp_path / name)
            snapshot_create(spark, tri(spark, base_rows()), root, buckets=4)
            return root

        def merge(root):
            return snapshot_merge(spark, root, adds=tri(spark, self.ADDS),
                                  deletes=tri(spark, self.DELS))

        clean = setup("clean")
        steps = self._steps(monkeypatch, lambda: merge(clean))
        for k, after in steps:
            root = setup("k%d%s" % (k, "a" if after else "b"))
            with monkeypatch.context() as m:
                _inject_crash(m, fail_at=k, after=after)
                with pytest.raises(IOError, match="injected crash"):
                    merge(root)
            got = rowset(read_snapshot(spark, root))
            assert got == (new if after else old), (k, after)
            self._recovers(spark, root, after, lambda: merge(root), new)

    def test_stream_sink_first_create(self, spark, tmp_path, monkeypatch):
        from pyspark.errors import StreamingQueryException

        from meresco_rdf_spark.streaming.transcript_stream import (
            run_merge_to_triple_table,
        )

        src = str(tmp_path / "src")
        tri(spark, base_rows()).coalesce(1).write.parquet(src)
        want = set(base_rows())

        def drain(name):
            stream = spark.readStream.schema(SCHEMA).parquet(src)
            q = run_merge_to_triple_table(
                stream, str(tmp_path / name), str(tmp_path / (name + "-ck")),
                buckets=4)
            q.awaitTermination(300)

        steps = self._steps(monkeypatch, lambda: drain("clean"))
        for k, after in steps:
            name = "k%d%s" % (k, "a" if after else "b")
            root = str(tmp_path / name)
            with monkeypatch.context() as m:
                _inject_crash(m, fail_at=k, after=after)
                with pytest.raises(StreamingQueryException,
                                   match="injected crash"):
                    drain(name)
            if after:
                assert rowset(read_snapshot(spark, root)) == want
            else:  # no manifest: the table does not exist yet
                assert snapshot_versions(spark, root) == []
            # restart on the same checkpoint replays batch 0
            self._recovers(spark, root, after, lambda: drain(name), want)


def test_every_writer_sorts_its_part_files(spark, tmp_path):
    rows = base_rows(60) + [("urn:s:%d" % i, "urn:p:label", "nom %d" % i,
                             "literal", "fr") for i in range(0, 60, 3)]
    root = str(tmp_path / "t")
    snapshot_create(spark, tri(spark, rows), root, buckets=4)  # plain create
    snapshot_merge(spark, root, adds=tri(spark, [
        ("urn:s:%d" % i, "urn:p:extra", "x", "literal", None)
        for i in range(0, 60, 7)]))
    salted = str(tmp_path / "salted")
    snapshot_create(spark, tri(spark, rows), salted, buckets=4,
                    files_per_bucket=3)
    snapshot_compact(spark, salted)
    assert assert_part_files_sorted(root, TRIPLE_SORT) > 4
    assert assert_part_files_sorted(salted, TRIPLE_SORT) > 4


class TestSnapshotDiff:
    def _setup(self, spark, tmp_path):
        from meresco_rdf_spark.kg.snapshots import snapshot_diff
        root = str(tmp_path / "t")
        snapshot_create(spark, tri(spark, base_rows()), root, buckets=4)
        adds = tri(spark, [("urn:s:1", "urn:p:new", "v", "literal", None)])
        dels = tri(spark, [("urn:s:1", "urn:p:label", "name 1",
                            "literal", None)])
        snapshot_merge(spark, root, adds=adds, deletes=dels)
        return root, snapshot_diff

    def test_diff_reports_added_and_removed(self, spark, tmp_path):
        root, snapshot_diff = self._setup(spark, tmp_path)
        got = {(r.change, r.subj, r.pred, r.obj_value)
               for r in snapshot_diff(spark, root, 1, 2).collect()}
        assert got == {("added", "urn:s:1", "urn:p:new", "v"),
                       ("removed", "urn:s:1", "urn:p:label", "name 1")}

    def test_diff_is_directional(self, spark, tmp_path):
        root, snapshot_diff = self._setup(spark, tmp_path)
        got = {(r.change, r.pred)
               for r in snapshot_diff(spark, root, 2, 1).collect()}
        assert got == {("removed", "urn:p:new"), ("added", "urn:p:label")}

    def test_diff_scans_only_changed_buckets(self, spark, tmp_path):
        root, snapshot_diff = self._setup(spark, tmp_path)
        import re as _re
        files = snapshot_diff(spark, root, 1, 2).inputFiles()
        assert files  # resolved to concrete parquet files
        # only the single touched bucket's directories (old + new) scan
        buckets = {_re.search(r"subj_bucket=(\d+)", f).group(1)
                   for f in files}
        assert len(buckets) == 1

    def test_self_diff_empty(self, spark, tmp_path):
        root, snapshot_diff = self._setup(spark, tmp_path)
        assert snapshot_diff(spark, root, 2, 2).count() == 0

    def test_mismatched_bucket_counts_raise(self, spark, tmp_path):
        from meresco_rdf_spark.kg.snapshots import snapshot_diff
        r1 = str(tmp_path / "a")
        snapshot_create(spark, tri(spark, base_rows()), r1, buckets=4)
        with pytest.raises(SnapshotNotFound):
            snapshot_diff(spark, r1, 1, 9)


class TestSnapshotCompact:
    def _fragmented(self, spark, tmp_path):
        from meresco_rdf_spark.kg.snapshots import snapshot_compact
        root = str(tmp_path / "t")
        # parallel salted create: 3 writers (files) per bucket — the
        # write-fast layout compaction exists to consolidate
        snapshot_create(spark, tri(spark, base_rows()), root, buckets=4,
                        files_per_bucket=3)
        return root, snapshot_compact

    def test_compaction_preserves_rowset_and_history(self, spark, tmp_path):
        root, snapshot_compact = self._fragmented(spark, tmp_path)
        before = rowset(read_snapshot(spark, root))
        m = snapshot_compact(spark, root)
        assert m["operation"] == "compact"
        assert rowset(read_snapshot(spark, root)) == before
        # time travel to pre-compaction versions still works
        assert rowset(read_snapshot(spark, root, version=m["parent"])) \
            == before

    def test_one_file_per_compacted_bucket(self, spark, tmp_path):
        import glob as _glob
        root, snapshot_compact = self._fragmented(spark, tmp_path)
        m = snapshot_compact(spark, root)
        for b in m["buckets_touched"]:
            d = root + "/" + m["buckets"][str(b)]
            assert len(_glob.glob(d + "/*.parquet")) == 1

    def test_unfragmented_is_a_noop(self, spark, tmp_path):
        from meresco_rdf_spark.kg.snapshots import snapshot_compact
        root = str(tmp_path / "t")
        snapshot_create(spark, tri(spark, base_rows()), root, buckets=4)
        m1 = snapshot_versions(spark, root)[-1]
        assert snapshot_compact(spark, root)["version"] == m1["version"]

    def test_untouched_buckets_reuse_parent_dirs(self, spark, tmp_path):
        root, snapshot_compact = self._fragmented(spark, tmp_path)
        parent = snapshot_versions(spark, root)[-1]
        m = snapshot_compact(spark, root)
        for b, rel in m["buckets"].items():
            if int(b) not in m["buckets_touched"]:
                assert rel == parent["buckets"][b]


class TestIcebergSeam:
    """kg/iceberg.py: one API that routes filesystem paths to the
    parquet COW layer and catalog identifiers to native Iceberg
    DDL/DML; the catalog branch is config-gated (skips without a
    configured spark.sql.catalog.*)."""

    def test_path_target_delegates_to_parquet_layer(self, spark, tmp_path):
        from meresco_rdf_spark.kg.iceberg import (
            expire,
            read_table,
            table_create,
            table_merge,
            table_versions,
        )

        root = str(tmp_path / "seam")
        df = tri(spark, base_rows())
        m = table_create(spark, df, root, buckets=4)
        assert m["version"] == 1  # parquet manifest returned
        adds = tri(spark, [("urn:s:new", "urn:p:label", "n", "literal",
                            None)])
        dels = tri(spark, [("urn:s:0", "urn:p:label", "name 0", "literal",
                            None)])
        table_merge(spark, root, adds=adds, deletes=dels)
        got = rowset(read_table(spark, root))
        assert ("urn:s:new", "urn:p:label", "n", "literal", None) in got
        assert ("urn:s:0", "urn:p:label", "name 0", "literal",
                None) not in got
        # time travel + lineage + expiry all reach the parquet layer
        assert rowset(read_table(spark, root, version=1)) == rowset(df)
        assert [v["version"] for v in table_versions(spark, root)] == [1, 2]
        expire(spark, root, keep_last=1)
        assert [v["version"] for v in table_versions(spark, root)] == [2]

    def test_unconfigured_catalog_named_error(self, spark):
        from meresco_rdf_spark.kg.iceberg import (
            IcebergCatalogNotConfigured,
            catalog_of,
        )

        assert catalog_of(spark, "/some/path/t") is None
        assert catalog_of(spark, "file:/some/path") is None
        with pytest.raises(IcebergCatalogNotConfigured,
                           match="spark.sql.catalog.prod"):
            catalog_of(spark, "prod.kg.triples")

    def test_configured_catalog_detected(self, spark):
        from meresco_rdf_spark.kg.iceberg import catalog_of

        spark.conf.set("spark.sql.catalog.mycat", "x.y.FakeCatalog")
        try:
            assert catalog_of(spark, "mycat.db.t") == "mycat"
        finally:
            spark.conf.unset("spark.sql.catalog.mycat")

    def test_bad_identifiers_rejected_before_sql(self, spark):
        from meresco_rdf_spark.kg.iceberg import (
            InvalidTableIdentifier,
            catalog_of,
            expire,
            merge_sql,
        )

        spark.conf.set("spark.sql.catalog.mycat", "x.y.FakeCatalog")
        try:
            # one part naming a configured catalog: no table to expire
            with pytest.raises(InvalidTableIdentifier):
                expire(spark, "mycat")
            for bad in ("mycat.db.t; DROP TABLE x", "mycat.`t`",
                        "mycat..t", "mycat.1t", "mycat.t'"):
                with pytest.raises(InvalidTableIdentifier):
                    catalog_of(spark, bad)
        finally:
            spark.conf.unset("spark.sql.catalog.mycat")
        with pytest.raises(InvalidTableIdentifier):
            merge_sql("cat.db.t", "delta_v s; DROP TABLE x")
        with pytest.raises(InvalidTableIdentifier):
            merge_sql("t", "delta_v")

    def test_history_orders_same_instant_snapshots_by_id(self, spark):
        import datetime

        from meresco_rdf_spark.kg.iceberg import _history

        t0 = datetime.datetime(2024, 1, 1)
        t1 = datetime.datetime(2024, 1, 2)
        snaps = spark.createDataFrame(
            [(t1, 30, "append"), (t1, 10, "overwrite"), (t0, 20, "append")],
            "committed_at timestamp, snapshot_id long, operation string")

        class Session:  # the snapshots metadata table, without a catalog
            def table(self, name):
                assert name == "cat.db.t.snapshots"
                return snaps

        got = [r["snapshot_id"] for r in _history(Session(), "cat.db.t")]
        assert got == [20, 10, 30]

    def test_merge_sql_shape(self):
        from meresco_rdf_spark.kg.iceberg import merge_sql

        sql = merge_sql("cat.db.t", "delta_v")
        # null-safe identity on every triple column (obj_lang nullable)
        for c in ("subj", "pred", "obj_value", "obj_kind", "obj_lang"):
            assert "t.%s <=> s.%s" % (c, c) in sql
        assert "WHEN MATCHED AND s.op = 'del' THEN DELETE" in sql
        assert "WHEN NOT MATCHED AND s.op = 'add' THEN INSERT" in sql

    def test_delta_source_add_wins(self, spark):
        from meresco_rdf_spark.kg.iceberg import _delta_source

        both = ("urn:s:b", "urn:p", "v", "literal", None)
        adds = tri(spark, [both, ("urn:s:a", "urn:p", "v", "literal",
                                  None)])
        dels = tri(spark, [both, ("urn:s:d", "urn:p", "v", "literal",
                                  None)])
        got = {(r.subj, r.op) for r in _delta_source(adds, dels).collect()}
        # the row in both sets resolves to 'add' (delete-then-add
        # survives, matching snapshot_merge), one row per triple
        assert got == {("urn:s:b", "add"), ("urn:s:a", "add"),
                       ("urn:s:d", "del")}
        assert _delta_source(None, None) is None

    @pytest.mark.skipif(
        not os.environ.get("MRS_ICEBERG_CATALOG"),
        reason="no Iceberg catalog in this environment; set "
               "MRS_ICEBERG_CATALOG=<catalog> (with spark.sql.catalog."
               "<catalog> configured + the Iceberg runtime jar) to run "
               "the native-branch end-to-end test")
    def test_catalog_branch_end_to_end(self, spark):
        from meresco_rdf_spark.kg.iceberg import (
            read_table,
            table_create,
            table_merge,
            table_versions,
        )

        cat = os.environ["MRS_ICEBERG_CATALOG"]
        ident = "%s.mrs_test.triples_seam" % cat
        spark.sql("CREATE NAMESPACE IF NOT EXISTS %s.mrs_test" % cat)
        df = tri(spark, base_rows())
        table_create(spark, df, ident, buckets=4)
        assert rowset(read_table(spark, ident)) == rowset(df)
        adds = tri(spark, [("urn:s:new", "urn:p:label", "n", "literal",
                            None)])
        dels = tri(spark, [("urn:s:0", "urn:p:label", "name 0", "literal",
                            None)])
        table_merge(spark, ident, adds=adds, deletes=dels)
        got = rowset(read_table(spark, ident))
        assert ("urn:s:new", "urn:p:label", "n", "literal", None) in got
        assert ("urn:s:0", "urn:p:label", "name 0", "literal",
                None) not in got
        assert rowset(read_table(spark, ident, version=1)) == rowset(df)
        assert len(table_versions(spark, ident)) == 2
        spark.sql("DROP TABLE %s" % ident)
