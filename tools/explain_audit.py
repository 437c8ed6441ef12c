"""Physical-plan audit: assert the plans we ship are the plans we want.

Checks (printed + exit code):
- masked scan (O4): every bound position appears in PushedFilters and the
  parquet ReadSchema is pruned to the selected columns;
- find_labels (O7): single hash aggregate pair (partial + final), no sort,
  no window exchange;
- BGP (O9): AQE converts the selective pattern sides to broadcast joins;
- pipeline emit: exactly one Arrow UDF stage (extraction), the canonical
  map join is a BroadcastHashJoin, and no global dedup exchange exists;
- label election: one aggregation keyed canonical_uri, no join;
- checkpointed global phase: nothing is cached, the adjacency write
  scans the written triple table (never a mentions checkpoint) with one
  exchange, and the final triples carry no global dedup exchange;
- pricing summary: decimal sums stay inside WholeStageCodegen;
- SPARQL front-end: sub-select aggregates before the outer join, UPDATE
  deletes broadcast into the anti-join, negated property sets fold to
  union-branch pruning.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def check(name: str, ok: bool, detail: str = "") -> bool:
    print("%-34s %s %s" % (name, "PASS" if ok else "FAIL", detail))
    return ok


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import functions as F

    from meresco_rdf_spark.entry_queries import tpch_triples
    from meresco_rdf_spark.kg.extract import pipeline_triples
    from meresco_rdf_spark.kg.canonicalize import canonical_surface_map
    from meresco_rdf_spark.kg.extract import detect_mentions
    from meresco_rdf_spark.operators.graph_ops import find_labels, match_patterns
    from meresco_rdf_spark.session import get_spark
    from meresco_rdf_spark.sources.transcripts import synthesize_transcripts

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    results = []

    # O4 masked scan: predicate pushdown + column pruning on raw parquet
    docs = spark.read.parquet("%s/documents.parquet" % sf_dir)
    scan_df = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    p = plan_of(scan_df)
    results.append(check(
        "O4 pushdown+pruning", "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in p
        and re.search(r"ReadSchema: struct<doc_id:\w+,lang:string,n_chars", p) is not None,
        ""))

    # O7 find_labels: partial+final aggregate pair over ONE subj-keyed
    # exchange, no window (min_by has a variable-width buffer, so Spark
    # picks SortAggregate — still map-side combined)
    labels = find_labels(tpch_triples(spark, sf_dir))
    labels.count()  # let AQE finalize
    p = plan_of(labels)
    results.append(check(
        "O7 partial agg, 1 shuffle, no window",
        "partial_min_by" in p and "Window" not in p
        and len(re.findall(r"Exchange hashpartitioning", p)) == 1))

    # O9 BGP: AQE broadcast-joins the selective pattern sides
    bgp = match_patterns(tpch_triples(spark, sf_dir), [
        ("?c", "urn:rel:nation", "?n"),
        ("?n", "urn:rel:region", "?r"),
    ])
    bgp.count()
    p = plan_of(bgp)
    results.append(check(
        "O9 AQE broadcast join", "BroadcastHashJoin" in p, ""))

    # pipeline emit: 1 Arrow eval stage, broadcast canonical join, no
    # full-width dedup exchange on the union
    t = synthesize_transcripts(spark, 500, 8)
    mentions = detect_mentions(t).persist()
    mentions.count()
    # built as run_pipeline builds it: already materialized, not cached
    canon = canonical_surface_map(
        mentions.select("surface_key").dropDuplicates(["surface_key"]))
    tri = pipeline_triples(mentions, canon)
    tri.count()
    p = plan_of(tri)
    # every union branch must read the materialized cache, not re-run the
    # Arrow extraction (the plan string also prints the cached subplan, so
    # count cache scans rather than grepping for Arrow nodes)
    n_cache_scans = len(re.findall(r"InMemoryTableScan|TableCacheQueryStage", p))
    results.append(check(
        "pipeline: emit reads mention cache", n_cache_scans >= 3,
        "(%d cache scans)" % n_cache_scans))
    results.append(check(
        "pipeline: broadcast canon join",
        "BroadcastHashJoin" in p))
    results.append(check(
        "pipeline: no global dedup",
        "obj_lang" not in " ".join(re.findall(r"Exchange hashpartitioning\([^)]*\)", p))))

    # label election: ONE aggregation keyed canonical_uri (sorted forms,
    # position 0 is foaf:name) — no join back onto the counts, no dedup
    from meresco_rdf_spark.kg.extract import label_triples_from_counts

    counts = mentions.groupBy(
        F.col("surface_key").alias("canonical_uri"), "surface").agg(
        F.count("*").alias("n"))
    p = optimized_of(label_triples_from_counts(counts))
    results.append(check(
        "labels: one aggregation, no join",
        "Join" not in p
        and len(re.findall(r"Aggregate \[canonical_uri#\d+\]", p)) == 1))

    # checkpointed global phase: no cache and no count — the triple write
    # computes the emission, and the adjacency write reads the written
    # triple table back (never a mentions checkpoint) in ONE exchange.
    # The emission is unique by construction, so no exchange keys on the
    # full triple (obj_lang is only ever a key of a full-row dedup).  The
    # adjacency plan is built by materialize.adjacency_rows, the helper
    # write_adjacency_table writes, so the audited plan is the shipped one
    from meresco_rdf_spark._scratch import scratch_dir
    from meresco_rdf_spark.kg import pipeline
    from meresco_rdf_spark.kg.materialize import adjacency_rows

    adjacency_scans = []
    adjacency_plans = []
    final_plans = []
    write_adjacency = pipeline.write_adjacency_table
    write_triples = pipeline.write_triple_table

    def audited_triples(triples, path, **kw):
        final_plans.append(plan_of(triples))
        write_triples(triples, path, **kw)

    def audited_write(triples, path, buckets=64, chunk_size=None, **kw):
        rows = adjacency_rows(triples, buckets, chunk_size)
        leaves = rows._jdf.queryExecution().sparkPlan().collectLeaves()
        for leaf in (leaves.apply(i) for i in range(leaves.size())):
            is_file = leaf.getClass().getSimpleName() == "FileSourceScanExec"
            adjacency_scans.append(leaf.relation().location().rootPaths()
                                   .mkString(",") if is_file else None)
        adjacency_plans.append(plan_of(rows))
        write_adjacency(triples, path, buckets=buckets,
                        chunk_size=chunk_size, **kw)

    checkpoint_out = scratch_dir("audit_checkpoint_")
    pipeline.write_adjacency_table = audited_write
    pipeline.write_triple_table = audited_triples
    try:
        pipeline.run_checkpointed(
            spark, synthesize_transcripts(spark, 60, 6),
            checkpoint_out, n_buckets=2, table_buckets=4)
    finally:
        pipeline.write_adjacency_table = write_adjacency
        pipeline.write_triple_table = write_triples
    triples_dir = os.path.join(checkpoint_out, "triples")
    n_exchanges = [len(re.findall(r"Exchange", p)) for p in adjacency_plans]
    results.append(check(
        "checkpoint: adjacency 1 exchange",
        bool(adjacency_scans)
        and all(s is not None and s.endswith(triples_dir)
                for s in adjacency_scans)
        and n_exchanges == [1],
        "(scans %s, exchanges %s)" % (adjacency_scans, n_exchanges)))
    exchanges = [e for p in final_plans for e in re.findall(
        r"Exchange hashpartitioning\([^)]*\)", p)]
    results.append(check(
        "checkpoint: no global dedup",
        len(final_plans) == 1
        and os.path.join(checkpoint_out, "mentions") in final_plans[0]
        and not any("obj_lang" in e for e in exchanges),
        "(%d exchanges)" % len(exchanges)))
    results.append(check(
        "checkpoint: no cache",
        len(final_plans) == 1
        and not re.search(r"InMemory(Relation|TableScan)|TableCacheQueryStage",
                          final_plans[0])))

    # MinHash banding: no shingle ARRAY ever enters an exchange — the
    # banded self-join carries (id, band_id, band_key) only and the
    # verification shuffles the exploded inverted index (scalar rows)
    from meresco_rdf_spark.textops.dedup import minhash_dedup_pairs

    pairs = minhash_dedup_pairs(docs, k=16, bands=8, threshold=0.6)
    fmt = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    s = pairs._jdf.queryExecution().explainString(fmt)
    exchange_inputs = re.findall(
        r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", s)
    bad = [inp for inp in exchange_inputs if "shingles#" in inp]
    results.append(check(
        "minhash: no arrays in exchanges", len(exchange_inputs) > 0 and not bad,
        "(%d exchanges)" % len(exchange_inputs)))

    # vector LSH banding: same discipline as minhash — no embedding ARRAY
    # ever rides a band exchange (an exchange partitioned by band_id /
    # band_bits).  Vectors re-join onto the candidate set, so the only
    # exchanges allowed to carry an array column are the id-keyed
    # vector re-joins.
    from meresco_rdf_spark.textops.similarity import cosine_pairs, lsh_topk

    emb = spark.read.parquet("%s/embeddings.parquet" % sf_dir)
    qset = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id")
    band_exchanges, band_bad = 0, []
    for df_lsh in (lsh_topk(emb, qset, k=5, n_planes=8, dim=64, bands=4),
                   cosine_pairs(emb, threshold=0.4, n_planes=8, dim=64)):
        s2 = df_lsh._jdf.queryExecution().explainString(fmt)
        # BOTH shuffle and broadcast exchanges count: at audit scale AQE
        # broadcasts the tiny band join, at 100 TB it shuffles — either
        # way a banded frame must never carry an embedding array.
        blocks = re.findall(
            r"\(\d+\) (?:Broadcast)?Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]",
            s2)
        for inp in blocks:
            if "band_id" in inp or "band_bits" in inp:
                band_exchanges += 1
                if re.search(r"(embedding|q_vec|c_vec|v_a|v_b)#", inp):
                    band_bad.append(inp)
    results.append(check(
        "vector lsh: no vecs in band exchanges",
        band_exchanges > 0 and not band_bad,
        "(%d band exchanges)" % band_exchanges))

    # verify tail: the union size |A|+|B|-|AnB| comes from n_sh carried
    # on posting rows, NOT from joining the pair aggregate against an
    # O(corpus) sizes relation — exactly 3 joins (banded self-join + the
    # two count-join legs), no join above the pair aggregate
    opt = optimized_of(pairs)
    n_joins = len(re.findall(r"^[\s:+-]*Join ", opt, re.MULTILINE))
    results.append(check(
        "minhash: sizes ride postings, 3 joins",
        n_joins == 3, "(%d joins)" % n_joins))

    # extraction partitioning follows spark.sql.shuffle.partitions / AQE,
    # not the driver's core count (the 100-TB stage-width contract)
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try:
        m13 = detect_mentions(synthesize_transcripts(spark, 50, 4))
        p13 = optimized_of(m13)
        results.append(check(
            "extract: repartition honors conf",
            re.search(r"RepartitionByExpression \[conv_id[^\]]*\](?:, 13)?", p13)
            is not None and "RepartitionByExpression" in p13
            and ", 8" not in p13.split("RepartitionByExpression")[1].split("\n")[0]))
        # turn ordering restored by a JVM Tungsten sort feeding the Arrow
        # stage — never a pandas sort of buffered partitions
        results.append(check(
            "extract: JVM sort before Arrow stage",
            re.search(r"Sort \[conv_id[^\]]*turn_idx", p13) is not None
            and p13.index("MapInPandas") < p13.index("Sort [")))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")

    # dedup decision: the components relation (docs-in-some-pair only,
    # corpus-scale-small) must broadcast into the join back to the full
    # corpus — the corpus itself is never shuffled for the keep/drop verdict
    from meresco_rdf_spark.textops.dedup import minhash_dedup_clusters

    clusters = minhash_dedup_clusters(docs, k=16, bands=8, threshold=0.6)
    # collect() drives THIS DataFrame's own query execution, so the
    # AdaptiveSparkPlan below is the finalized one (count() would plan a
    # separate aggregate query and leave this plan un-adapted)
    clusters.collect()
    p = plan_of(clusters).split("== Initial Plan ==")[0]
    results.append(check(
        "dedup_clusters: broadcast join-back",
        "isFinalPlan=true" in p and "BroadcastHashJoin" in p
        and "SortMergeJoin" not in p,
        ""))

    # stratified sample, hot-stratum path: NO window (a hot stratum must
    # never sort in one task) — two-stage top-k aggregation, stage 1
    # keyed (stratum, salt), stage 2 keyed stratum, winners broadcast
    # back onto the (never-shuffled) corpus
    from meresco_rdf_spark.textops.sampling import stratified_sample

    strat = stratified_sample(docs, "lang", "doc_id", 5, salt_buckets=8)
    p = optimized_of(strat)
    results.append(check(
        "stratified topk-agg: no window, 2-stage",
        "Window" not in p
        and re.search(r"Aggregate \[_strata#\d+, _salt#\d+L?\]", p) is not None
        and re.search(r"Aggregate \[_strata#\d+\]", p) is not None))
    strat.collect()
    p = plan_of(strat).split("== Initial Plan ==")[0]
    results.append(check(
        "stratified topk-agg: broadcast join-back",
        "BroadcastHashJoin" in p and "SortMergeJoin" not in p))

    # pricing summary: decimal agg inside codegen
    from meresco_rdf_spark.entry_queries import q_pricing_summary

    # (WholeStageCodegen spans only render in executed AQE sub-plans, so
    # assert the structural properties: two-phase hash agg, one exchange)
    q1 = q_pricing_summary(spark, sf_dir)
    p = plan_of(q1)
    results.append(check(
        "Q1 partial+final hash agg, 1 shuffle",
        p.count("HashAggregate") >= 2 and "partial_sum" in p
        and len(re.findall(r"Exchange hashpartitioning", p)) == 1))

    # salted adjacency: the hub-subject skew lever must actually be two
    # aggregation stages — stage 1 keyed (subj, _salt), stage 2 keyed
    # subj — so no single reducer ever sees a hub's full edge list
    from meresco_rdf_spark.kg.materialize import adjacency_topk

    adj = adjacency_topk(tpch_triples(spark, sf_dir), k=4, salt_buckets=8)
    p = optimized_of(adj)
    results.append(check(
        "adjacency_topk: 2-stage salted agg",
        re.search(r"Aggregate \[subj#\d+\]", p) is not None
        and re.search(r"Aggregate \[subj#\d+, _salt#\d+L?\]", p) is not None))

    # MERGE (kg/snapshots.py::snapshot_merge): the read-modify-write of
    # touched buckets must cost ONE exchange (the mandatory bucketed-write
    # repartition) — the set-semantics dedup rides the same partitioning
    # as a lag window (subj_bucket is a function of subj, so duplicates
    # are adjacent under the write sort) instead of adding a second
    # full-width dropDuplicates shuffle of every surviving row
    from meresco_rdf_spark.kg.materialize import with_subj_bucket
    from meresco_rdf_spark.kg.snapshots import _merge_rows, snapshot_create

    tri = tpch_triples(spark, sf_dir)
    mroot = os.path.join(scratch_dir("audit_merge_"), "t")
    m1 = snapshot_create(spark, tri, mroot, buckets=8)
    adds = with_subj_bucket(tri, 8).filter(
        F.col("subj_bucket").isin(2, 5)).drop("subj_bucket")
    # the merge's own pre-write plan (_scan of the touched buckets +
    # fused_bucket_dedup), so the audited plan is the shipped one
    touched, merged = _merge_rows(spark, mroot, m1, adds, None)
    p = plan_of(merged)
    results.append(check(
        "merge: 1 exchange, window dedup fused",
        len(re.findall(r"Exchange", p)) == 1 and "Window" in p
        and "HashAggregate" not in p,
        ""))
    # the manifest prunes the table scan to the touched buckets' dirs
    files = [f for f in merged.inputFiles() if "/audit_merge_" in f]
    dirs = ["/%s/" % m1["buckets"][str(b)] for b in touched]
    results.append(check(
        "merge: untouched buckets never opened",
        0 < len(touched) < len(m1["buckets"]) and len(files) > 0
        and all(any(d in f for d in dirs) for f in files),
        "touched=%s files=%d" % (touched, len(files))))

    # decontamination: eval-gram probe is a broadcast join (the corpus
    # side never shuffles for the join); hit counting is a partial+final
    # hash agg; the AQE-executed plan keeps the broadcast exchange
    from meresco_rdf_spark.textops.decontaminate import decontaminate

    corpus = docs.filter(F.col("doc_id") % 10 != 3)
    ev = docs.filter(F.col("doc_id") % 10 == 3)
    p = plan_of(decontaminate(corpus, ev, n=13))
    results.append(check(
        "decontaminate: broadcast probe",
        "BroadcastHashJoin" in p and "xxhash64" in p
        and re.search(r"HashAggregate.*partial_count", p) is not None,
        ""))

    # SPARQL sub-select: the inner COUNT aggregates BEFORE the label
    # join (partial+final hash-agg feeding the join's build side), so
    # the join sees one row per nation, not one per member
    from meresco_rdf_spark.entry_queries import (q_sparql_negated_set,
                                                 q_sparql_subquery,
                                                 q_sparql_update)

    sub = q_sparql_subquery(spark, sf_dir)
    sub.count()
    p = plan_of(sub)
    agg_pos = p.find("HashAggregate")
    join_pos = min(i for i in (p.find("SortMergeJoin"),
                               p.find("BroadcastHashJoin"),
                               p.find("ShuffledHashJoin")) if i >= 0)
    results.append(check(
        "sparql subquery: agg before join",
        "partial_count" in p and agg_pos >= 0 and join_pos >= 0
        # executed plans print top-down: the join node appears ABOVE
        # (before) the aggregate that feeds it
        and join_pos < agg_pos))

    # SPARQL UPDATE: the template-sized delete set broadcasts into the
    # anti-join (the corpus-side relation never shuffles for the delete)
    upd = q_sparql_update(spark, sf_dir)
    upd.count()
    p = plan_of(upd)
    results.append(check(
        "sparql update: broadcast anti-join delete",
        re.search(r"BroadcastHashJoin .*LeftAnti", p) is not None))

    # SPARQL negated property set: over the union-of-branches triples
    # view the NOT-IN folds at compile time — Catalyst evaluates it per
    # branch (pred is a literal there) and PRUNES the excluded branches
    # from the union entirely: no runtime pred filter, no trace of the
    # excluded predicate, and only the surviving branch scans remain
    # (5 probe-side + 2 seed-side = 7 of the 14 a naive plan would scan)
    p = plan_of(q_sparql_negated_set(spark, sf_dir))
    results.append(check(
        "sparql !set: folded to branch pruning",
        "urn:rel:nation" not in p and p.count("FileScan") == 7))

    # SPARQL GRAPH over quads: the graph scope compiles to plain context
    # predicates (GRAPH ?g isnotnull, GRAPH <iri> equality) — over the
    # constant-context union view they CONSTANT-FOLD entirely: excluded
    # branches are pruned from the union (3 of 4 source scans remain:
    # cust names + supp names for GRAPH ?g, supp links for GRAPH <iri>;
    # the NULL-context nation branch is gone), the context column never
    # survives into the executed plan (?g becomes a literal projection
    # per branch), and there is no context-keyed exchange or per-graph
    # loop anywhere
    from meresco_rdf_spark.entry_queries import q_sparql_named_graphs

    ng = q_sparql_named_graphs(spark, sf_dir)
    ng.count()
    p = plan_of(ng)
    results.append(check(
        "sparql graph: folded to branch pruning, no per-graph loop",
        p.count("FileScan") == 3 and "context#" not in p
        and p.count("AS g#") == 2
        and "hashpartitioning(context" not in p))

    # Turtle sink: subject-grouped statement encoding is ONE window
    # exchange (hashpartitioning on subj) and streams per-row — no
    # collect_list/collect_set arrays, no Python stage, so hub subjects
    # with millions of triples never materialize in one task
    from meresco_rdf_spark.sinks.turtle_sink import turtle_lines

    tl = turtle_lines(tpch_triples(spark, sf_dir))
    p = plan_of(tl)
    results.append(check(
        "turtle sink: 1 window exchange, no arrays",
        p.count("Exchange hashpartitioning(subj") == 1
        and "collect_list" not in p and "collect_set" not in p
        and "ArrowEvalPython" not in p and "BatchEvalPython" not in p))

    # N-Quads sink: quad egress is a pure projection — no exchange at
    # all, no Python; and the TriG sink matches the Turtle sink's shape
    # with the window keyed on (context, subj)
    from meresco_rdf_spark.sinks.nquads_sink import nquads_lines
    from meresco_rdf_spark.sinks.trig_sink import trig_lines

    quads = tpch_triples(spark, sf_dir).withColumn(
        "context", F.when(F.col("subj").startswith("urn:cust:"),
                          F.lit("urn:g:cust")))
    p = plan_of(nquads_lines(quads))
    results.append(check(
        "nquads sink: pure projection, no exchange",
        "Exchange" not in p and "ArrowEvalPython" not in p
        and "BatchEvalPython" not in p))
    p = plan_of(trig_lines(quads))
    results.append(check(
        "trig sink: 1 window exchange, no arrays",
        p.count("Exchange hashpartitioning(context") == 1
        and "collect_list" not in p and "collect_set" not in p
        and "ArrowEvalPython" not in p and "BatchEvalPython" not in p))

    # JSON-LD sink: one self-contained node object per statement — pure
    # projection like the N-Quads sink, no exchange, no Python
    from meresco_rdf_spark.sinks.jsonld_sink import jsonld_lines

    p = plan_of(jsonld_lines(quads))
    results.append(check(
        "jsonld sink: pure projection, no exchange",
        "Exchange" not in p and "ArrowEvalPython" not in p
        and "BatchEvalPython" not in p))

    # RDFS closure: all rule composition happens schema-side, so the
    # instance plan is 4 broadcast-join branches + exactly TWO shuffles
    # (the narrow (entity, class) dedup and the wide remainder dedup) —
    # no instance self-join, no iteration, no Python
    from meresco_rdf_spark.entry_queries import q_rdfs_entailment

    ent = q_rdfs_entailment(spark, sf_dir)
    ent.count()
    p = plan_of(ent)
    results.append(check(
        "rdfs closure: broadcast rules, 2 dedup shuffles",
        p.count("BroadcastHashJoin") >= 4
        and p.count("Exchange hashpartitioning") == 2
        and "SortMergeJoin" not in p
        and "ArrowEvalPython" not in p and "BatchEvalPython" not in p))

    # sameAs smushing: components run over the LINK relation only; the
    # corpus sees two broadcast map joins (AQE: the alias->canonical map
    # is small) and the one final set-dedup exchange — never a
    # sort-merge join against the mapping, never Python
    from meresco_rdf_spark.entry_queries import q_kg_sameas_smush

    sm = q_kg_sameas_smush(spark, sf_dir)
    sm.count()
    p = plan_of(sm)
    results.append(check(
        "sameas smush: broadcast map joins, no SMJ, no python",
        p.count("BroadcastHashJoin") >= 2
        and "SortMergeJoin" not in p
        and "ArrowEvalPython" not in p and "BatchEvalPython" not in p))

    # trained IVF search: the (query_id, bucket) probe relation is the
    # explicit broadcast side of the candidate join (never sort-merge
    # against the corpus), and all Python is Arrow-batched
    from meresco_rdf_spark.entry_queries import q_similarity_ivf_kmeans

    km = q_similarity_ivf_kmeans(spark, sf_dir)
    km.count()
    p = plan_of(km)
    results.append(check(
        "ivf kmeans: broadcast probe join, arrow-only python",
        p.count("BroadcastHashJoin") >= 1
        and "SortMergeJoin" not in p
        and "BatchEvalPython" not in p
        and "ArrowEvalPython" in p))

    # OWL closure: inverse/symmetric interaction is ONE broadcast orbit
    # join over the instance scan (never a sort-merge join, never
    # Python); the transitive rounds ran eagerly into checkpointed
    # RDDs, so the final plan is branches + exactly one dedup exchange
    from meresco_rdf_spark.entry_queries import q_owl_entailment

    ow = q_owl_entailment(spark, sf_dir)
    ow.count()
    p = plan_of(ow)
    results.append(check(
        "owl closure: broadcast orbit join, 1 dedup shuffle",
        p.count("BroadcastHashJoin") >= 1
        and p.count("Exchange hashpartitioning") == 1
        and "SortMergeJoin" not in p
        and "ArrowEvalPython" not in p and "BatchEvalPython" not in p))

    # owl equivalence: class rename must be a broadcast join; the orbit
    # join stays broadcast; still exactly one dedup exchange
    from meresco_rdf_spark.entry_queries import q_owl_equiv_entailment

    oe = q_owl_equiv_entailment(spark, sf_dir)
    oe.count()
    p = plan_of(oe)
    results.append(check(
        "owl equivalence: broadcast orbit+class joins, 1 dedup shuffle",
        p.count("BroadcastHashJoin") >= 2
        and p.count("Exchange hashpartitioning") == 1
        and "SortMergeJoin" not in p
        and "ArrowEvalPython" not in p and "BatchEvalPython" not in p))

    # functional-key links: star emission is pure window state — no
    # instance-instance join anywhere on the link-derivation path
    from meresco_rdf_spark.operators.owl import owl_key_links

    schema_df = spark.createDataFrame(
        [("urn:key:acct",
          "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
          "http://www.w3.org/2002/07/owl#InverseFunctionalProperty",
          "uri", None),
         ("urn:rel:homeNation",
          "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
          "http://www.w3.org/2002/07/owl#FunctionalProperty",
          "uri", None)],
        "subj string, pred string, obj_value string, obj_kind string, "
        "obj_lang string")
    inst = spark.createDataFrame(
        [("urn:a", "urn:key:acct", "k1", "literal", None),
         ("urn:b", "urn:key:acct", "k1", "literal", None),
         ("urn:s", "urn:rel:homeNation", "urn:n1", "uri", None),
         ("urn:s", "urn:rel:homeNation", "urn:n2", "uri", None)],
        "subj string, pred string, obj_value string, obj_kind string, "
        "obj_lang string")
    kl = owl_key_links(inst, schema_triples=schema_df)
    p = plan_of(kl)
    results.append(check(
        "owl key links: window stars only, no joins, no python",
        "Window" in p
        and "Join" not in p and "CartesianProduct" not in p
        and "ArrowEvalPython" not in p and "BatchEvalPython" not in p))

    # SHACL validate: value-level constraints are ONE pure-column
    # projection (when-chain + explode — no Python, ever); the
    # cardinality expectation relation and zero-case path ride an
    # explicit BroadcastExchange; nothing in the constraint algebra
    # introduces a cartesian product
    from meresco_rdf_spark.operators.shacl import validate
    shacl_shapes = [
        {"id": "urn:shape:audit", "target_subjects_of": "urn:rel:nation",
         "properties": [
             {"path": "urn:rel:nation", "min_count": 1, "max_count": 1,
              "node_kind": ("uri",), "pattern": "^urn:nation:"},
             {"path": "urn:rel:region", "equals": "urn:rel:nation"},
         ]}]
    rep = validate(tpch_triples(spark, sf_dir), shacl_shapes)
    p = plan_of(rep)
    results.append(check(
        "shacl: broadcast expectation, no python, no cartesian",
        "BroadcastExchange" in p
        and "Generate explode" in p
        and "CartesianProduct" not in p
        and "ArrowEvalPython" not in p and "BatchEvalPython" not in p))

    # SHACL structured paths: inverse + sequence compile to per-predicate
    # filtered slices joined on full term identity — each step filters to
    # ONE predicate before the join (the filter text names the predicate),
    # the cardinality machinery keeps its BroadcastExchange, and nothing
    # becomes a cartesian product or drops into Python
    shacl_path_shapes = [
        {"id": "urn:shape:auditpath",
         "target_subjects_of": "urn:rel:nation",
         "properties": [
             {"path": "^urn:rel:nation",
              "path_expr": ("inv", ("iri", "urn:rel:nation")),
              "min_count": 0},
             {"path": "urn:rel:nation/urn:rel:region",
              "path_expr": ("seq", (("iri", "urn:rel:nation"),
                                    ("iri", "urn:rel:region"))),
              "min_count": 1},
         ]}]
    rep = validate(tpch_triples(spark, sf_dir), shacl_path_shapes)
    p = plan_of(rep)
    results.append(check(
        "shacl paths: per-predicate slices, broadcast, no python/cartesian",
        "urn:rel:region" in p
        and "BroadcastExchange" in p
        and "CartesianProduct" not in p
        and "ArrowEvalPython" not in p and "BatchEvalPython" not in p))

    # snapshot table read: ONE parquet relation (not a per-bucket union)
    # whose subj_bucket partition column still prunes — a point lookup
    # carries a PartitionFilters entry and no Union node
    import tempfile as _tf

    from meresco_rdf_spark.kg.snapshots import read_snapshot, snapshot_create
    snap_root = _tf.mkdtemp(prefix="audit_snap_") + "/t"
    snapshot_create(spark, tpch_triples(spark, sf_dir), snap_root, buckets=8)
    snap_df = read_snapshot(spark, snap_root).filter(
        (F.col("subj_bucket") == 3) & (F.col("subj") == "urn:cust:1"))
    p = plan_of(snap_df)
    results.append(check(
        "snapshot read: 1 relation, partition-pruned",
        "Union" not in p
        and re.search(r"PartitionFilters: \[.*subj_bucket.*= 3", p) is not None
        and "PushedFilters: [IsNotNull(subj), EqualTo(subj,urn:cust:1)]" in p))

    # boilerplate strip: per-source boiler arrays broadcast onto the
    # corpus; the strip is JVM array algebra (no Python eval, no second
    # explode after detection feeds the broadcast side)
    from meresco_rdf_spark.textops.boilerplate import strip_boilerplate
    docs_rel = spark.read.parquet(sf_dir + "/documents.parquet")
    p = plan_of(strip_boilerplate(docs_rel))
    results.append(check(
        "boilerplate strip: broadcast set, JVM-side filter",
        "BroadcastExchange" in p
        and "ArrowEvalPython" not in p and "BatchEvalPython" not in p
        and "CartesianProduct" not in p))

    # tfidf: both aggregations partial/map-side combined, exactly one
    # window (the per-doc top-k), no Python eval
    from meresco_rdf_spark.textops.tfidf import tfidf_topk
    p = plan_of(tfidf_topk(docs_rel, k=5))
    results.append(check(
        "tfidf: partial aggs, group-limit top-k, no python",
        p.count("Window [row_number") == 1
        and "WindowGroupLimit" in p
        and "partial_count" in p
        and "ArrowEvalPython" not in p and "BatchEvalPython" not in p))

    # collocations: row-local pair generation (no positional self-join
    # anywhere below the marginal joins), partial aggs, no python
    from meresco_rdf_spark.textops.collocations import collocation_counts
    p = plan_of(collocation_counts(docs_rel, window=2, min_count=3))
    results.append(check(
        "collocations: partial aggs, no python",
        "partial_count" in p
        and "CartesianProduct" not in p
        and "ArrowEvalPython" not in p and "BatchEvalPython" not in p))

    # bpe application: K chained aggregate folds stay JVM-side
    from meresco_rdf_spark.textops.bpe import apply_bpe
    p = plan_of(apply_bpe(docs_rel, [(0, "e", "r</w>", 9), (1, "t", "h", 7)]))
    results.append(check(
        "bpe apply: jvm fold, no python",
        "aggregate(" in p
        and "ArrowEvalPython" not in p and "BatchEvalPython" not in p))

    # bpe apply, production-vocab strategy: ONE Arrow mapInPandas stage,
    # zero exchanges (the fold path's posexplode/groupBy reassembly must
    # be gone), and auto-selection flips exactly at the threshold
    from meresco_rdf_spark.textops.bpe import ARROW_MERGE_THRESHOLD
    many = [(i, "x%d" % i, "y%d" % i, 2)
            for i in range(ARROW_MERGE_THRESHOLD + 1)]
    p = plan_of(apply_bpe(docs_rel, many))
    results.append(check(
        "bpe apply arrow: one python stage, no exchange",
        p.count("MapInPandas") == 1 and "Exchange" not in p
        and "aggregate(" not in p))

    # stdlib real-PNG decode path: generation + decode are each ONE
    # mapInPandas over spark.range / the media relation — no exchange
    # anywhere in the decode pipeline
    from meresco_rdf_spark.textops.multimodal import (
        extract_features,
        synthesize_png_media,
    )
    p = plan_of(extract_features(synthesize_png_media(spark, 8, size=8),
                                 dim=4, use_fake=False))
    results.append(check(
        "png real decode: two narrow python stages, no exchange",
        p.count("MapInPandas") == 2 and "Exchange" not in p))

    # negated property set with inverse members: over the
    # union-of-branches view both components' NOT-INs constant-fold to
    # branch pruning (same mechanism as the plain !set check) — the
    # excluded rdfs:label branch vanishes from BOTH components, the
    # inverse component's constant-OBJECT filter additionally prunes
    # every literal-kind branch, leaving 6 forward + 3 inverse = 9
    # scans under one Union, no runtime pred filter, no python
    from meresco_rdf_spark.sparql import sparql_select
    p = plan_of(sparql_select(tpch_triples(spark, sf_dir), """
        SELECT ?o WHERE { <urn:nation:7>
            !(<http://www.w3.org/2000/01/rdf-schema#label>|
              ^<http://xmlns.com/foaf/0.1/name>) ?o }"""))
    results.append(check(
        "negated set inverse: folded branch pruning",
        p.count("Union") >= 1
        and "rdf-schema#label" not in p
        and p.count("Scan parquet") == 9
        and "ArrowEvalPython" not in p and "BatchEvalPython" not in p))

    # quantified negated set: the closure's edge relation is the
    # predicate COMPLEMENT — over the union-of-branches view the NOT-IN
    # constant-folds per branch like every other pred filter (the
    # excluded foaf branch is pruned), the seeded walk stays JVM-side
    p = plan_of(sparql_select(tpch_triples(spark, sf_dir), """
        SELECT ?o WHERE { <urn:cust:1>
            !(<http://xmlns.com/foaf/0.1/name>)+ ?o }"""))
    results.append(check(
        "quantified negated set: complement closure, no python",
        "foaf" not in p
        and "ArrowEvalPython" not in p and "BatchEvalPython" not in p))

    # §17.4.2 term constructors (round 5): DATATYPE/IRI/STRLANG compile
    # to CASE/WHEN column expressions inside the join projection — no
    # extra exchange beyond the 3-pattern BGP's joins, no Python
    p = plan_of(sparql_select(tpch_triples(spark, sf_dir), """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?name ?dt ?i ?l WHERE {
            ?n rdfs:label ?name . ?n <urn:rel:region> ?r .
            BIND(datatype(?name) AS ?dt)
            BIND(iri(concat("urn:dt:", str(?r))) AS ?i)
            BIND(strlang("x", "EN") AS ?l)
        }"""))
    results.append(check(
        "term constructors: pure column exprs, no python",
        "ArrowEvalPython" not in p and "BatchEvalPython" not in p
        and "langString" in p))

    # shortest_paths guard (round 5): the negative-weight probe is ONE
    # partial+final min aggregate over the edge relation — map-side
    # combined (partial_min before the single-row exchange), no limit
    # cascade (GlobalLimit/CollectLimit absent)
    from meresco_rdf_spark.operators.graph_algos import shortest_paths
    edges = (tpch_triples(spark, sf_dir)
             .filter(F.col("obj_kind") == "uri")
             .select(F.col("subj").alias("src"),
                     F.col("obj_value").alias("dst"),
                     F.lit(1).cast("long").alias("weight")))
    guard_plan = plan_of(edges.agg(F.min("weight").alias("mn")))
    results.append(check(
        "sssp weight guard: partial min agg, no limit cascade",
        "partial_min" in guard_plan and "CollectLimit" not in guard_plan
        and "GlobalLimit" not in guard_plan))

    print("\n%d/%d checks pass" % (sum(results), len(results)))
    spark.stop()
    sys.exit(0 if all(results) else 1)


if __name__ == "__main__":
    main()
