"""The benchmark workloads, driven only through the package's public calls.

Every workload is a closed loop with one client: an op starts when the
previous one has finished.  An op has up to three steps, each timed on
its own, with the CPU time of the process tree beside the wall time:

1. write -- ``build``: ``run_pipeline`` then ``write_triple_table`` and
   ``write_adjacency_table``; ``refresh``: append one batch of new
   conversations, then ``run_checkpointed``;
2. publish RDF/XML (``rdfxml`` and ``build``) -- ``write_rdfxml_shards``
   of a set of conversation closures taken from the table, then
   ``read_rdfxml_triples`` of those shards (``keep_errors=True``);
3. read -- a seeded mix of ``scan`` point reads (some miss),
   ``find_labels`` of one entity and a 2-pattern ``match_patterns``
   anchored on one conversation.

Every run is one fresh driver process, like one ``spark-submit`` job.
Set-up is timed apart: session start, input generation (three times,
median; the three outputs must be byte-identical) and a base build or
warm-up that warms the JVM before any op is timed, as
``tools/submit_pipeline.py`` warms up before it times.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from collections import defaultdict

from pyspark.sql import functions as F

import checks
import gen
import rss

# input sizes (conversations of 10 turns)
BUILD_CONVS = 600
SAMPLE_SHARDS = 20        # conversations published per build op
RDFXML_CONVS = 200
RDFXML_SHARDS = 60        # conversations published per rdfxml op
REFRESH_BASE_CONVS = 200
BATCH_CONVS = 1           # new conversations per refresh op
N_BATCHES = 6             # batches generated; ops stop when they run out
# run_checkpointed conversation buckets: a 1-conversation delta dirties
# one of them, so a delta that re-processes more buckets shows
N_BUCKETS = 2
GEN_REPEATS = 3
# reads per op: kind -> count; "point" reads hit, "miss" reads ask for an
# absent subject.  A refresh run makes one op, so its op reads more.
READ_MIX = (("point", 12), ("miss", 2), ("labels", 1), ("bgp", 1))
REFRESH_READ_MIX = (("point", 24), ("miss", 4), ("labels", 2), ("bgp", 2))
WARM_POINT_READS = 16     # untimed point reads before a run's first timed one


def _clock():
    return time.perf_counter()


class Run:
    """One benchmark run: set-up, the op loop, checks and the report."""

    def __init__(self, spark, tracer, work, seed, nproc, session_s):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.nproc = nproc
        self.rng = random.Random(seed)
        self.setup = {"session.start_s": session_s}
        self.samples = defaultdict(list)
        self.attempted = 0
        self.failures = []
        self.reads_warm = False
        self.warming = False  # a warm-up op records no samples
        self.trace_counts = defaultdict(float)
        self.entities = checks.gazetteer_entities()

    # -- bookkeeping ----------------------------------------------------

    def path(self, *parts):
        return os.path.join(self.work, *parts)

    def fail(self, what):
        self.failures.append(what)

    def timed(self, fn):
        t0 = _clock()
        out = fn()
        return out, _clock() - t0

    def cpu_timed(self, key, fn):
        """``timed(fn)``, and sample the CPU seconds the process tree
        used meanwhile under ``key``."""
        c0 = rss.tree_cpu_s(os.getpid())
        out = self.timed(fn)
        self.sample(key, rss.tree_cpu_s(os.getpid()) - c0)
        return out

    def sample(self, key, value):
        if not self.warming:
            self.samples[key].append(value)

    def generate(self, write):
        """Run ``write(root)`` GEN_REPEATS times; the copies must be
        byte-identical.  Returns the first copy's root."""
        times, digests = [], set()
        for i in range(GEN_REPEATS):
            root = self.path("input%d" % i)
            times.append(self.timed(lambda: write(root))[1])
            digests.add(gen.content_digest(root))
        if len(digests) != 1:
            self.fail("input generation is not deterministic for seed %d"
                      % self.seed)
        self.setup["gen_s"] = statistics.median(times)
        for i in range(1, GEN_REPEATS):
            shutil.rmtree(self.path("input%d" % i))
        return self.path("input0")

    def generate_transcripts(self, n_base, batch_convs, n_batches):
        return self.generate(lambda root: gen.write_transcripts(
            self.spark, root, self.seed, n_base, batch_convs, n_batches,
            self.nproc))

    def conv_uris(self, first, count):
        return ["urn:conv:conv-%08d" % i for i in range(first, first + count)]

    # -- the three op steps -----------------------------------------------

    def publish(self, table_path, conv_uris, expected):
        """Serialize the closures of ``conv_uris`` and parse them back;
        both directions are checked."""
        from meresco_rdf_spark.kg.extract import KG_CONVERSATION

        table = self.spark.read.parquet(table_path).select(*checks.TRIPLE_COLS)
        bnodes = (table.filter((F.col("pred") == KG_CONVERSATION)
                               & F.col("obj_value").isin(conv_uris))
                  .select(F.col("subj").alias("b"),
                          F.col("obj_value").alias("context")))
        closure = (
            table.join(bnodes, table["subj"] == bnodes["b"]).drop("b")
            .unionByName(table.filter(F.col("subj").isin(conv_uris))
                         .withColumn("context", F.col("subj")))
        ).persist()
        n_closure = closure.count()
        want = {c: expected.shard_fingerprint(c) for c in conv_uris}
        try:
            self._publish(closure, n_closure, want)
        finally:
            closure.unpersist()

    def _publish(self, closure, n_closure, want):
        from meresco_rdf_spark.sinks.rdfxml_sink import write_rdfxml_shards
        from meresco_rdf_spark.sources.rdf_source import read_rdfxml_triples

        tracer = self.tracer
        shards, parsed = self.path("shards"), self.path("parsed")
        with tracer.span("rdfxml_sink") as sid:
            _, dt_w = self.cpu_timed("xml_write_cpu_s", lambda: write_rdfxml_shards(
                closure, shards, shard_col="context"))
        tracer.count(sid, "shards", len(want))
        docs = self.spark.read.parquet(shards).select(
            F.col("shard").alias("context"), "xml")
        if tracer.enabled:
            with tracer.untracked():
                tracer.count(sid, "xml_mb", docs.agg(
                    F.sum(F.length("xml"))).first()[0] / 1e6)
        with tracer.span("rdf_source") as sid:
            _, dt_r = self.timed(lambda: read_rdfxml_triples(
                docs, keep_errors=True).write.mode("overwrite").parquet(parsed))
        rows = self.spark.read.parquet(parsed).select(
            "context", *checks.TRIPLE_COLS, "error").collect()
        errors, fps = checks.parsed_shard_fingerprints(rows)
        tracer.count(sid, "rows_out", len(rows))
        tracer.count(sid, "parse_errors", errors)
        self.attempted += 2
        if errors:
            self.fail("%d RDF/XML parse errors" % errors)
        if fps != want:
            wrong = sum(fps.get(c) != fp for c, fp in want.items())
            self.fail("%d of %d shards differ from their source closure "
                      "(%d shards read back)" % (wrong, len(want), len(fps)))
        self.sample("xml_write_triples_per_s", n_closure / dt_w)
        self.sample("xml_read_triples_per_s", (len(rows) - errors) / dt_r)

    def reads(self, table_path, conv_pool):
        """The seeded read mix; returns ``[(kind, term, sorted rows)]``."""
        from meresco_rdf_spark.kg.extract import FOAF_NAME, KG_MENTIONS
        from meresco_rdf_spark.operators.graph_ops import (
            find_labels, match_patterns, scan)

        table = self.spark.read.parquet(table_path)
        plan = []
        for kind, n in self.read_mix:
            for _ in range(n):
                if kind in ("point", "bgp"):
                    plan.append((kind, self.rng.choice(conv_pool)))
                elif kind == "miss":
                    plan.append((kind, "urn:conv:conv-x%07d"
                                 % self.rng.randrange(10 ** 7)))
                else:
                    plan.append((kind, self.rng.choice(self.entities)))
        self.rng.shuffle(plan)

        def query(kind, term):
            if kind in ("point", "miss"):
                return scan(table, subject=term).select(*checks.TRIPLE_COLS)
            if kind == "labels":
                return find_labels(scan(table, subject=term))
            return match_patterns(table, [(term, KG_MENTIONS, "?e"),
                                          ("?e", FOAF_NAME, "?n")])

        # the run's first reads: untimed reads of each kind, since the
        # first queries of a shape pay class loading, code generation and
        # the JIT's first compiles
        if not self.reads_warm:
            for kind, term in {k: t for k, t in plan}.items():
                query(kind, term).collect()
            for term in self.rng.sample(conv_pool, WARM_POINT_READS):
                query("point", term).collect()
            self.reads_warm = True
        # let the writes' garbage go before the timed reads
        self.spark.sparkContext._jvm.System.gc()
        answers = []
        for kind, term in plan:
            with self.tracer.span("graph_ops." + kind) as sid:
                rows, dt = self.cpu_timed("read_%s_cpu_s" % kind,
                                          lambda: query(kind, term).collect())
            self.tracer.count(sid, "rows_returned", len(rows))
            self.tracer.count(sid, "reads", 1)
            self.attempted += 1
            self.sample("read_ms", dt * 1e3)
            self.sample("read_%s_ms" % kind, dt * 1e3)
            answers.append((kind, term, sorted(tuple(r) for r in rows)))
        return answers

    def check_reads(self, answers, expected):
        wrong = [(k, t) for k, t, rows in answers if rows != expected.answer(k, t)]
        if wrong:
            self.fail("%d of %d reads differ from the reference, first %r"
                      % (len(wrong), len(answers), wrong[0]))

    def check_table(self, out_dir, expected):
        table = self.spark.read.parquet(os.path.join(out_dir, "triples"))
        got = checks.row_hash(table)
        if got != expected.row_hash:
            self.fail("triple table (rows, hash) %r != reference %r"
                      % (got, expected.row_hash))
        degrees = self.spark.read.parquet(os.path.join(out_dir, "adjacency")) \
            .agg(F.sum("degree")).first()[0]
        if degrees != got[0]:
            self.fail("adjacency degrees sum to %s, triple table has %d rows"
                      % (degrees, got[0]))
        return got[0]

    def loop(self, op, seconds, trace):
        """Closed loop: start another op only while its predicted end
        (the previous op's duration) stays within ``seconds``.  A traced
        run makes one op, traced, whatever ``seconds`` is."""
        start = _clock()
        k = 0
        while True:
            self.tracer.enabled = trace
            self.tracer.op = "op%d" % k
            t0 = _clock()
            op(k)
            wall = _clock() - t0
            self.samples["op_wall_s"].append(wall)
            self.tracer.end_op()
            self.tracer.enabled = False
            k += 1
            if trace or self.exhausted() or _clock() - start + wall > seconds:
                break
        return k

    def exhausted(self):
        return False

    # the samples behind write_cpu_s: CPU seconds of one op's write step
    write_cpu_key = "build_cpu_s"
    read_mix = READ_MIX

    def headline(self, peak_mb):
        """The end-to-end metrics: ``{name: (value, unit)}``."""
        med = lambda key: statistics.median(self.samples[key])  # noqa: E731
        return {
            "setup_s": (sum(self.setup.values()), "s"),
            "peak_rss_mb": (peak_mb, "MB"),
            "write_cpu_s": (med(self.write_cpu_key), "s"),
            "point_read_cpu_ms": (med("read_point_cpu_s") * 1e3, "ms"),
        }

    def final_checks(self):
        """Checks that need the state after the last op."""


class Build(Run):
    """Full rebuild from the transcript parquet, then publish and read."""

    name = "build"

    def set_up(self):
        from meresco_rdf_spark.kg import extract, pipeline

        self.input = gen.batch_path(
            self.generate_transcripts(BUILD_CONVS, 1, 0), 0)
        self.out = self.path("kg")
        self.expected = checks.Expected([self.input])
        # warm-up: one untimed build, so every timed build runs on a warm
        # JVM and warm Python workers
        self.warming = True
        self.setup["warmup_s"] = self._build(self.out)
        self.warming = False
        tr = self.tracer
        tr.wrap(pipeline, "detect_mentions", "extract",
                before=lambda a: {"rows_in": a[0].count()})
        tr.wrap(pipeline, "canonical_surface_map", "canonicalize",
                before=lambda a: {"surfaces_in": a[0].count()},
                after=lambda out: {"components": out.select(
                    "canonical_key").distinct().count()})
        _wrap_canonicalize_internals(tr)
        tr.wrap(extract, "pipeline_triples", "emit")

    def _build(self, out_dir):
        from meresco_rdf_spark.kg.materialize import (
            write_adjacency_table, write_triple_table)
        from meresco_rdf_spark.kg.pipeline import run_pipeline

        def build():
            res = run_pipeline(self.spark.read.parquet(self.input))
            with self.tracer.span("materialize"):
                write_triple_table(res.triples, os.path.join(out_dir, "triples"),
                                   buckets=self.nproc)
            with self.tracer.span("materialize"):
                write_adjacency_table(res.triples,
                                      os.path.join(out_dir, "adjacency"),
                                      buckets=self.nproc)
            res.mentions.unpersist()
            res.canonical_map.unpersist()

        return self.cpu_timed("build_cpu_s", build)[1]

    def op(self, k):
        dt = self._build(self.out)
        self.attempted += 1
        n = self.check_table(self.out, self.expected)
        self.sample("build_s", dt)
        self.sample("write_triples_per_s", n / dt)
        table = os.path.join(self.out, "triples")
        sample = sorted(self.rng.sample(range(BUILD_CONVS), SAMPLE_SHARDS))
        convs = ["urn:conv:conv-%08d" % i for i in sample]
        self.publish(table, convs, self.expected)
        answers = self.reads(table, self.conv_uris(0, BUILD_CONVS))
        self.check_reads(answers, self.expected)


class Refresh(Run):
    """The checkpointed production path: deltas of new conversations."""

    name = "refresh"
    read_mix = REFRESH_READ_MIX
    write_cpu_key = "refresh_cpu_s"

    def set_up(self):
        from meresco_rdf_spark.kg import pipeline

        self.input_root = self.generate_transcripts(
            REFRESH_BASE_CONVS, BATCH_CONVS, N_BATCHES)
        self.out = self.path("kg")
        self.batches = 0
        self.warming = True
        summary, self.setup["cold_build_s"] = self._refresh()
        self.warming = False
        if summary["buckets_processed"] != N_BUCKETS:
            self.fail("cold build processed %d of %d buckets"
                      % (summary["buckets_processed"], N_BUCKETS))
        tr = self.tracer
        tr.wrap(pipeline, "detect_mentions", "extract",
                before=lambda a: {"rows_in": a[0].count()})
        tr.wrap(pipeline, "mention_triples", "emit")
        tr.wrap(pipeline, "canonical_surface_map", "canonicalize",
                before=lambda a: {"surfaces_in": a[0].count()},
                after=lambda out: {"components": out.select(
                    "canonical_key").distinct().count()})
        _wrap_canonicalize_internals(tr)
        tr.wrap(pipeline, "pending_buckets", "checkpoint.fingerprint")
        tr.wrap(pipeline, "input_fingerprints", "checkpoint.fingerprint")
        tr.wrap(pipeline, "write_triple_table", "materialize")
        tr.wrap(pipeline, "write_adjacency_table", "materialize")

    def inputs(self):
        return [gen.batch_path(self.input_root, b)
                for b in range(self.batches + 1)]

    def _refresh(self):
        from meresco_rdf_spark.kg.pipeline import run_checkpointed

        with self.tracer.span("checkpoint") as sid:
            summary, dt = self.cpu_timed("refresh_cpu_s", lambda: run_checkpointed(
                self.spark, self.spark.read.parquet(*self.inputs()), self.out,
                n_buckets=N_BUCKETS, table_buckets=self.nproc))
        self.tracer.count(sid, "buckets_processed",
                          summary["buckets_processed"])
        return summary, dt

    def dirty_buckets(self, batch_dir):
        """Buckets a batch's conversations fall in, by the bucket rule
        ``kg/checkpoint.py`` documents (pmod(xxhash64(conv_id), n))."""
        return self.spark.read.parquet(batch_dir).select(F.pmod(
            F.xxhash64("conv_id"), F.lit(N_BUCKETS))).distinct().count()

    def exhausted(self):
        return self.batches >= N_BATCHES

    def op(self, k):
        self.batches += 1
        batch_dir = gen.batch_path(self.input_root, self.batches)
        summary, dt = self._refresh()
        self.attempted += 1
        if self.tracer.enabled:
            self.trace_counts["delta_turns"] += BATCH_CONVS * gen.TURNS_PER_CONV
            self.trace_counts["delta_input_bytes"] += _dir_bytes(batch_dir)
        dirty = self.dirty_buckets(batch_dir)
        if summary["buckets_processed"] != dirty:
            self.fail("delta %d processed %d buckets; its conversations "
                      "dirty %d of %d" % (self.batches,
                                          summary["buckets_processed"],
                                          dirty, N_BUCKETS))
        self.sample("delta_refresh_s", dt)
        self.sample("write_triples_per_s", summary["final_triples"] / dt)
        # the reference is the cumulative input, so the table and the
        # reads are checked after the last op only
        table = os.path.join(self.out, "triples")
        n_convs = REFRESH_BASE_CONVS + BATCH_CONVS * self.batches
        self.answers = self.reads(table, self.conv_uris(0, n_convs))

    def final_checks(self):
        expected = checks.Expected(self.inputs())
        self.check_table(self.out, expected)
        self.check_reads(self.answers, expected)


class Rdfxml(Run):
    """RDF/XML publish and parse-back, then reads, over a triple table
    built in set-up.  The table holds the reference triples of the
    transcripts, laid out by the package's ``write_triple_table``, so the
    serializer and parser do all of an op's writing and no extraction
    runs."""

    name = "rdfxml"
    write_cpu_key = "xml_write_cpu_s"

    def set_up(self):
        from meresco_rdf_spark.kg.materialize import write_triple_table

        input_ = gen.batch_path(self.generate_transcripts(RDFXML_CONVS, 1, 0), 0)
        self.expected = checks.Expected([input_])
        self.table = self.path("kg", "triples")
        triples = self.spark.createDataFrame(
            self.expected.triples,
            ", ".join("%s string" % c for c in checks.TRIPLE_COLS))
        self.setup["base_build_s"] = self.timed(lambda: write_triple_table(
            triples, self.table, buckets=self.nproc))[1]
        # warm-up: one untimed, checked op, so every timed op runs on a
        # warm JVM and warm Python workers
        self.warming = True
        self.setup["warmup_s"] = self.timed(lambda: self.op(-1))[1]
        self.warming = False

    def sample_convs(self):
        return ["urn:conv:conv-%08d" % i for i in sorted(
            self.rng.sample(range(RDFXML_CONVS), RDFXML_SHARDS))]

    def op(self, k):
        self.publish(self.table, self.sample_convs(), self.expected)
        answers = self.reads(self.table, self.conv_uris(0, RDFXML_CONVS))
        self.check_reads(answers, self.expected)


def _wrap_canonicalize_internals(tracer):
    from meresco_rdf_spark.kg import canonicalize

    tracer.wrap(canonicalize, "similar_surface_pairs", "canonicalize.pairs")
    tracer.wrap(canonicalize, "connected_components", "canonicalize.cc")


def _dir_bytes(root):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


class Resolve(Run):
    """Entity resolution alone: ``canonical_surface_map`` over a seeded
    vocabulary with planted alias families.  Sized above both adaptive
    thresholds of ``kg/canonicalize.py``: more than 2,000 surfaces (LSH
    runs distributed) and more than 1M symmetric similarity edges
    (connected components runs distributed)."""

    name = "resolve"

    def set_up(self):
        from meresco_rdf_spark.kg import canonicalize

        vocab = gen.resolve_vocabulary(self.seed)
        self.family = dict(vocab)
        self.vocab = self.generate(lambda root: self.spark.createDataFrame(
            [(key,) for key, _ in vocab], "surface_key string")
            .repartition(self.nproc).write.parquet(root))
        self.setup["base_build_s"] = self._resolve()[1]
        tr = self.tracer
        tr.wrap(canonicalize, "canonical_surface_map", "canonicalize",
                before=lambda a: {"surfaces_in": a[0].count()},
                after=lambda out: {"components": out.select(
                    "canonical_key").distinct().count()})
        _wrap_canonicalize_internals(tr)

    def _resolve(self):
        from meresco_rdf_spark.kg import canonicalize

        def resolve():
            out = canonicalize.canonical_surface_map(
                self.spark.read.parquet(self.vocab)).persist()
            out.count()
            return out

        return self.timed(resolve)

    def op(self, k):
        canon, dt = self._resolve()
        self.attempted += 1
        rows = canon.select("surface_key", "canonical_key").collect()
        canon.unpersist()
        precision, recall = checks.pairwise_quality(
            {r.surface_key: r.canonical_key for r in rows}, self.family)
        if len(rows) != len(self.family) or min(precision, recall) < 0.95:
            self.fail("resolve: %d of %d surfaces, pairwise precision %.4f "
                      "recall %.4f (bar 0.95)" % (
                          len(rows), len(self.family), precision, recall))
        self.sample("resolve_s", dt)
        self.sample("resolve_surfaces_per_s", len(self.family) / dt)
        self.sample("precision", precision)
        self.sample("recall", recall)

    def headline(self, peak_mb):
        med = lambda key: statistics.median(self.samples[key])  # noqa: E731
        return {
            "setup_s": (sum(self.setup.values()), "s"),
            "peak_rss_mb": (peak_mb, "MB"),
            "resolve_surfaces_per_s": (med("resolve_surfaces_per_s"),
                                       "surfaces/s"),
        }


WORKLOADS = {"build": Build, "refresh": Refresh, "rdfxml": Rdfxml,
             "resolve": Resolve}
