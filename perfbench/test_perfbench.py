"""Unit tests of the benchmark's own helpers and input generators.

    python3 -m pytest perfbench -q      (from the root of the checkout)
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import tracer  # noqa: E402
import workloads  # noqa: E402


# -- percentiles and medians ---------------------------------------------

def test_median_carries_sample_count():
    assert tracer.median([3.0, 1.0, 2.0]) == {"value": 2.0, "n": 3}
    assert tracer.median([]) == {"value": None, "n": 0}


def test_percentile_interpolates_linearly():
    assert tracer.percentile([1, 2, 3, 4], 50) == 2.5
    assert tracer.percentile([1, 2, 3, 4], 100) == 4
    assert tracer.percentile([5], 95) == 5


@pytest.mark.parametrize("n,p", [
    (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
    (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9)])
def test_tail_is_highest_rung_with_ten_samples_beyond(n, p):
    out = tracer.tail(range(n))
    if p is None:
        assert out is None
    else:
        assert out["p"] == p and out["n"] == n
        assert round(n * (100 - out["p"]) / 100, 6) >= tracer.TAIL_MIN


# -- self time ------------------------------------------------------------

def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end,
            "parent": parent, "op": "op0"}


def test_self_time_subtracts_union_of_foreign_children():
    spans = [
        _span("a", "checkpoint", 0, 10),
        _span("b", "extract", 2, 5, "a"),
        _span("c", "materialize", 4, 7, "a"),   # overlaps b
        _span("d", "checkpoint.fingerprint", 1, 3, "a"),
        _span("e", "emit", 1.5, 2.5, "d"),      # foreign, under same-layer d
    ]
    selfs = tracer.self_times(spans)
    assert selfs["a"] == pytest.approx(10 - 5.5)  # union [1.5, 7]
    assert selfs["d"] == 0.0                      # counted inside "a"
    assert selfs["b"] == pytest.approx(3)
    assert selfs["e"] == pytest.approx(1)


def test_self_time_clips_children_to_parent():
    spans = [_span("a", "extract", 0, 4), _span("b", "emit", 3, 6, "a")]
    assert tracer.self_times(spans)["a"] == pytest.approx(3)


def test_layer_report_busy_counts_top_spans_of_a_layer_once():
    class Fake(tracer.Tracer):
        def __init__(self, spans):
            super().__init__(spark=None)
            self.spans = spans

    spans = [_span("a", "canonicalize", 0, 10),
             _span("b", "canonicalize.cc", 2, 6, "a")]
    rep = Fake(spans).layer_report({"b": {"jobs": 3}})
    assert rep["canonicalize"]["busy_s"] == 10
    assert rep["canonicalize"]["self_s"] == 10
    assert rep["canonicalize.cc"]["span_s"] == 4
    assert rep["canonicalize.cc"]["jobs"] == 3
    assert rep["canonicalize"]["jobs"] == 3


def test_overhead_counts_the_tracers_own_time_only():
    import time

    class Context:
        def setJobGroup(self, *a, **k):
            time.sleep(0.01)

    class Spark:
        sparkContext = Context()

    tr = tracer.Tracer(Spark(), traced_run=True)
    tr.enabled = True
    with tr.span("extract"):
        time.sleep(0.2)  # the traced call's own work
        with tr.untracked():
            time.sleep(0.05)  # a count taken for the report
    # two job-group calls around the span, two around the count
    assert 0.09 <= tr.own_s < 0.15
    assert len(tr.spans) == 1


# -- Spark UI metric strings ----------------------------------------------

@pytest.mark.parametrize("text,value", [
    ("1,000", 1000.0), ("17.3 KiB", 17.3 * 1024), ("0.0 B", 0.0),
    ("239 ms", 0.239), ("2.5 MiB", 2.5 * 1024 ** 2),
    ("total (min, med, max (stageId: taskId))\n9.6 s (2.4 s, 2.4 s, 2.5 s "
     "(stage 3.0: task 12))", 9.6),
    ("", 0.0)])
def test_parse_metric(text, value):
    assert tracer.parse_metric(text) == pytest.approx(value)


# -- checks ---------------------------------------------------------------

def test_pairwise_quality():
    truth = {"a": 1, "b": 1, "c": 1, "d": 2}
    assert checks.pairwise_quality(dict(truth), truth) == (1.0, 1.0)
    split = {"a": "x", "b": "x", "c": "y", "d": "z"}
    precision, recall = checks.pairwise_quality(split, truth)
    assert precision == 1.0 and recall == pytest.approx(1 / 3)
    merged = {k: "x" for k in truth}
    precision, recall = checks.pairwise_quality(merged, truth)
    assert precision == pytest.approx(3 / 6) and recall == 1.0


def test_row_hash_matches_python_side(spark):
    rows = [("s", "p", "o", "uri", None), ("s", "p", "l", "literal", "en")]
    df = spark.createDataFrame(rows, ", ".join(
        "%s string" % c for c in checks.TRIPLE_COLS))
    expected = (len(rows), sum(checks._row_hash(r) for r in rows))
    assert checks.row_hash(df) == expected


# -- input generators ---------------------------------------------------------

def test_resolve_vocabulary_is_seeded():
    a = gen.resolve_vocabulary(1)
    assert a == gen.resolve_vocabulary(1)
    assert a != gen.resolve_vocabulary(2)


def test_resolve_vocabulary_clears_both_adaptive_thresholds():
    vocab = gen.resolve_vocabulary(3)
    sizes = {}
    for _, fam in vocab:
        sizes[fam] = sizes.get(fam, 0) + 1
    assert sorted(sizes.values()) == sorted(gen.RESOLVE_FAMILY_SIZES)
    assert len({k for k, _ in vocab}) == len(vocab) > 2000
    assert sum(n * (n - 1) for n in sizes.values()) > 1_000_000


def test_resolve_family_members_are_similar():
    ref = checks.golden_ref()
    vocab = gen.resolve_vocabulary(4)
    fam = max(gen.RESOLVE_FAMILY_SIZES)
    members = [k for k, f in vocab if f == 0][:50]
    assert len(members) == 50 and fam > 50
    for a in members:
        for b in members:
            sa, sb = ref.char_shingles(a), ref.char_shingles(b)
            assert len(sa & sb) / len(sa | sb) >= 0.5


@pytest.fixture(scope="module")
def spark():
    from meresco_rdf_spark.session import get_spark

    session = get_spark(app_name="perfbench-tests", master="local[2]",
                         shuffle_partitions=2,
                         extra_conf={"spark.ui.enabled": "false"})
    yield session


def test_transcripts_are_byte_identical_per_seed(spark, tmp_path):
    def write(name, seed):
        root = str(tmp_path / name)
        gen.write_transcripts(spark, root, seed, n_base=30, batch_convs=5,
                              n_batches=2, partitions=2)
        return root

    a, b, c = write("a", 7), write("b", 7), write("c", 8)
    assert gen.content_digest(a) == gen.content_digest(b)
    assert gen.content_digest(a) != gen.content_digest(c)
    convs = [
        {r.conv_id for r in spark.read.parquet(gen.batch_path(a, i))
         .select("conv_id").distinct().collect()}
        for i in range(3)]
    assert [len(c) for c in convs] == [30, 5, 5]
    assert not (convs[0] & convs[1]) and not (convs[1] & convs[2])


# -- BENCHMARK.json -------------------------------------------------------------

def _bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_what_the_run_prints():
    bench = _bench()
    assert [m["name"] for m in bench["per_layer"]] == [
        n for n, _ in layers.PER_LAYER]
    assert [m["unit"] for m in bench["per_layer"]] == [
        u for _, u in layers.PER_LAYER]
    run = workloads.Build.__new__(workloads.Build)
    run.setup = {"session.start_s": 1.0}
    run.samples = {k: [1.0] for k in ("build_cpu_s", "read_point_cpu_s")}
    printed = run.headline(1.0)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: u for k, (_, u) in printed.items()}
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_benchmark_json_follows_the_format():
    bench = _bench()
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(name.match(n) for n in names)
    assert all(unit.match(m["unit"])
               for m in bench["end_to_end"] + bench["per_layer"])
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in bench["workloads"])
