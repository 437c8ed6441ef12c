"""Per-layer metrics of a traced run, named after the package's modules.

``PER_LAYER`` lists every metric with its unit; ``BENCHMARK.json`` names
the same list.  A layer a workload does not run reports 0.
"""

from __future__ import annotations

import statistics

from tracer import layer_of

_COMMON = [("self_s", "s"), ("gc_s", "s"), ("tasks_failed", "count")]

PER_LAYER = (
    [("session.start_s", "s")]
    + [("extract." + m, u) for m, u in [
        ("busy_s", "s"), ("task_s", "s"), ("rows_in", "count"),
        ("rows_out", "count"), ("py_sent_mb", "MB"), ("py_recv_mb", "MB"),
        ("shuffle_write_mb", "MB")] + _COMMON]
    + [("emit." + m, u) for m, u in [
        ("busy_s", "s"), ("task_s", "s"), ("rows_out", "count"),
        ("shuffle_write_mb", "MB")] + _COMMON]
    + [("canonicalize." + m, u) for m, u in [
        ("busy_s", "s"), ("pairs_s", "s"), ("cc_s", "s"),
        ("surfaces_in", "count"), ("sym_edges", "count"),
        ("components", "count"), ("cc_jobs", "count"),
        ("shuffle_mb_per_edge", "MB/edge"), ("spill_mb", "MB")] + _COMMON]
    + [("materialize." + m, u) for m, u in [
        ("busy_s", "s"), ("task_s", "s"), ("bytes_written_mb", "MB"),
        ("files_written", "count"), ("shuffle_write_mb", "MB"),
        ("spill_mb", "MB")] + _COMMON]
    + [("checkpoint." + m, u) for m, u in [
        ("busy_s", "s"), ("fingerprint_s", "s"),
        ("buckets_processed", "count"), ("reextract_ratio", "ratio"),
        ("rewrite_ratio", "ratio"), ("jobs", "count")] + _COMMON]
    + [("graph_ops." + m, u) for m, u in [
        ("point_ms", "ms"), ("labels_ms", "ms"), ("bgp_ms", "ms"),
        ("files_read_per_read", "count"),
        ("rows_scanned_per_row_returned", "ratio")] + _COMMON]
    + [("rdfxml_sink." + m, u) for m, u in [
        ("busy_s", "s"), ("task_s", "s"), ("shards", "count"),
        ("xml_mb", "MB"), ("py_sent_mb", "MB"),
        ("shuffle_write_mb", "MB")] + _COMMON]
    + [("rdf_source." + m, u) for m, u in [
        ("busy_s", "s"), ("task_s", "s"), ("rows_out", "count"),
        ("parse_errors", "count"), ("py_sent_mb", "MB")] + _COMMON]
    + [("trace.overhead_s", "s"), ("trace.collect_s", "s"),
       ("trace.spans", "count")]
)


def _subtree(spans, root_layer):
    """Ids of every span at or below a span of ``root_layer``."""
    by_id = {s["id"]: s for s in spans}
    out = set()
    for s in spans:
        cur = s
        while cur is not None:
            if layer_of(cur["name"]) == root_layer:
                out.add(s["id"])
                break
            cur = by_id.get(cur["parent"])
    return out


def _span_ms(spans, name):
    values = [(s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == name]
    return statistics.median(values) if values else 0.0


def per_layer(run, tracer, spark_metrics, collect_s):
    """``{metric: (value, unit)}`` for every entry of ``PER_LAYER``."""
    rep = tracer.layer_report(spark_metrics)
    spans = tracer.spans
    get = lambda layer, key: rep.get(layer, {}).get(key, 0.0)  # noqa: E731
    values = {}
    for layer in ("extract", "emit", "canonicalize", "materialize",
                  "checkpoint", "graph_ops", "rdfxml_sink", "rdf_source"):
        for key in ("busy_s", "self_s", "task_s", "rows_in", "rows_out",
                    "shuffle_write_mb", "spill_mb", "bytes_written_mb",
                    "files_written", "gc_s", "tasks_failed", "shards",
                    "xml_mb", "parse_errors", "surfaces_in", "components",
                    "buckets_processed"):
            values["%s.%s" % (layer, key)] = get(layer, key)
        values[layer + ".py_sent_mb"] = get(layer, "py_sent_bytes") / 1e6
        values[layer + ".py_recv_mb"] = get(layer, "py_recv_bytes") / 1e6

    values["session.start_s"] = run.setup["session.start_s"]
    pairs = get("canonicalize.pairs", "rows_out")
    values["canonicalize.pairs_s"] = get("canonicalize.pairs", "span_s")
    values["canonicalize.cc_s"] = get("canonicalize.cc", "span_s")
    values["canonicalize.sym_edges"] = 2 * pairs
    values["canonicalize.cc_jobs"] = get("canonicalize.cc", "jobs")
    values["canonicalize.shuffle_mb_per_edge"] = (
        get("canonicalize", "shuffle_write_mb") / (2 * pairs) if pairs else 0.0)

    in_checkpoint = _subtree(spans, "checkpoint")
    subtree_sum = lambda key: sum(  # noqa: E731
        spark_metrics.get(sid, {}).get(key, 0.0) for sid in in_checkpoint)
    delta_turns = run.trace_counts["delta_turns"]
    delta_bytes = run.trace_counts["delta_input_bytes"]
    extract_in = sum(tracer.counts.get((sid, "rows_in"), 0.0)
                     for sid in in_checkpoint)
    values["checkpoint.fingerprint_s"] = get("checkpoint.fingerprint", "span_s")
    values["checkpoint.reextract_ratio"] = (
        extract_in / delta_turns if delta_turns else 0.0)
    values["checkpoint.rewrite_ratio"] = (
        subtree_sum("bytes_written_mb") * 1e6 / delta_bytes
        if delta_bytes else 0.0)
    values["checkpoint.jobs"] = subtree_sum("jobs")

    reads = get("graph_ops", "reads")
    returned = get("graph_ops", "rows_returned")
    for kind in ("point", "labels", "bgp"):
        values["graph_ops.%s_ms" % kind] = _span_ms(spans, "graph_ops." + kind)
    values["graph_ops.files_read_per_read"] = (
        get("graph_ops", "files_read") / reads if reads else 0.0)
    values["graph_ops.rows_scanned_per_row_returned"] = (
        get("graph_ops", "rows_scanned") / returned if returned else 0.0)

    values["trace.overhead_s"] = tracer.own_s
    values["trace.collect_s"] = collect_s
    values["trace.spans"] = len(spans)
    return {name: (float(values.get(name, 0.0)), unit)
            for name, unit in PER_LAYER}
