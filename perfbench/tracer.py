"""Spans, Spark job attribution and per-layer metrics for the traced run.

A span is one call into a layer: ``(id, name, start, end, parent, op)``.
Spans live in memory and are written out once, when the run ends.  Every
span sets the Spark job group to its id, so each job the call triggers is
attributed to the innermost open span; after the run the stage metrics
and SQL metrics of those jobs are read from the Spark UI REST API.

The layer of a span is the part of its name before the first dot
(``canonicalize.cc`` belongs to ``canonicalize``).  A layer's self time
is the time its spans cover minus the part covered by child spans of
other layers.

The helpers at the top (``median``, ``tail``, ``self_times``,
``parse_metric``) are pure and unit-tested.
"""

from __future__ import annotations

import functools
import json
import re
import statistics
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

# percentile ladder for tails: the highest rung with >= TAIL_MIN samples
# beyond it is reported
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN = 10


def median(values):
    """``{"value": median, "n": sample count}``; value None when empty."""
    values = list(values)
    return {"value": statistics.median(values) if values else None,
            "n": len(values)}


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = (len(xs) - 1) * p / 100.0
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail(values):
    """The highest ladder percentile with at least ``TAIL_MIN`` samples
    beyond it: ``{"p": 95.0, "value": ..., "n": ...}``, or None when
    there are too few samples for any rung."""
    values = list(values)
    n = len(values)
    best = None
    for p in TAIL_LADDER:
        # samples beyond p: n * (100 - p) / 100, compared without the
        # rounding error of 100 - 99.9
        if n * (100.0 - p) >= TAIL_MIN * 100.0 - 1e-6:
            best = p
    if best is None:
        return None
    return {"p": best, "value": percentile(values, best), "n": n}


def _union_length(intervals):
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_of(name):
    return name.split(".", 1)[0]


def self_times(spans):
    """``{span_id: self seconds}``: duration minus the union of the
    child spans' intervals, clipped to the span.  Children of the same
    layer count as the span's own time, so a layer's self time is the
    sum over its spans of ``self`` (nested same-layer spans are not
    double counted: only top-most spans of a layer run contribute)."""
    children = defaultdict(list)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is not None and layer_of(parent["name"]) == layer_of(s["name"]):
            out[s["id"]] = 0.0  # already inside its parent's self time
            continue
        foreign = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in _descendants_outside_layer(s, children)
        ]
        foreign = [(a, b) for a, b in foreign if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - _union_length(foreign)
    return out


def _descendants_outside_layer(span, children):
    """Top-most descendants of ``span`` that belong to another layer."""
    layer = layer_of(span["name"])
    stack = list(children[span["id"]])
    found = []
    while stack:
        c = stack.pop()
        if layer_of(c["name"]) == layer:
            stack.extend(children[c["id"]])
        else:
            found.append(c)
    return found


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text):
    """Spark SQL UI metric string -> float (bytes, seconds or a count).
    Accepts ``"1,000"``, ``"17.3 KiB"``, ``"239 ms"`` and the
    ``"total (min, med, max ...)\\n9.6 s (2.4 s, ...)"`` form."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1] if "\n" in text else ""
    m = _VALUE_RE.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """Records spans while ``enabled``.  ``wrap`` patches nothing unless
    ``traced_run``, so an untraced run calls the package unchanged; in a
    traced run a disabled tracer costs one attribute check per call."""

    def __init__(self, spark, traced_run=False):
        self.spark = spark
        self.traced_run = traced_run
        self.enabled = False
        self.spans = []
        self.counts = defaultdict(float)  # (span_id, key) -> value
        self._stack = []
        self._forced = []
        self._next_id = 0
        self.op = None
        self.own_s = 0.0  # seconds spent in the tracer's own code

    @contextmanager
    def _own(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.own_s += time.perf_counter() - t0

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        with self._own():
            self._next_id += 1
            sid = "s%d" % self._next_id
            parent = self._stack[-1] if self._stack else None
            rec = {"id": sid, "name": name, "parent": parent, "op": self.op,
                   "start": time.perf_counter(), "end": None}
            self._stack.append(sid)
            sc.setJobGroup(sid, name, interruptOnCancel=False)
        try:
            yield sid
        finally:
            with self._own():
                rec["end"] = time.perf_counter()
                self._stack.pop()
                sc.setJobGroup(parent or "", "", interruptOnCancel=False)
                self.spans.append(rec)

    def count(self, sid, key, value):
        if sid is not None:
            self.counts[(sid, key)] += value

    def force(self, sid, df):
        """Materialize ``df`` inside the current span (persist + count)
        so its work lands in the span; unpersisted by ``end_op``."""
        with self._own():
            df = df.persist()
            self._forced.append(df)
            self.count(sid, "rows_out", df.count())
        return df

    def end_op(self):
        for df in self._forced:
            df.unpersist()
        self._forced = []

    @contextmanager
    def untracked(self):
        """Bookkeeping jobs (counts taken for the report) run outside
        every job group, so no span is charged for them."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        with self._own():
            sc.setJobGroup("", "", interruptOnCancel=False)
            try:
                yield
            finally:
                top = self._stack[-1] if self._stack else ""
                sc.setJobGroup(top, "", interruptOnCancel=False)

    def wrap(self, module, attr, name, force=True, before=None, after=None):
        """Replace ``module.attr`` by a version that opens a span while
        the tracer is enabled.  A DataFrame result is forced at the
        span's end.  ``before(args)`` and ``after(out)`` return counts
        (a dict) for the span, taken outside every job group."""
        if not self.traced_run:
            return
        original = getattr(module, attr)
        tracer = self

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            pre = {}
            if before is not None:
                with tracer.untracked():
                    pre = before(args)
            with tracer.span(name) as sid:
                out = original(*args, **kwargs)
                if force and hasattr(out, "persist"):
                    out = tracer.force(sid, out)
            for key, value in pre.items():
                tracer.count(sid, key, value)
            if after is not None:
                with tracer.untracked():
                    for key, value in after(out).items():
                        tracer.count(sid, key, value)
            return out

        setattr(module, attr, spanned)

    # -- Spark metrics --------------------------------------------------

    def _rest(self, path):
        sc = self.spark.sparkContext
        url = "%s/api/v1/applications/%s%s" % (
            sc.uiWebUrl, sc.applicationId, path)
        with urllib.request.urlopen(url, timeout=60) as resp:
            return json.load(resp)

    def collect_spark_metrics(self):
        """Per-span totals of stage and SQL metrics, keyed by span id."""
        jobs = self._rest("/jobs")
        stages = self._rest("/stages")
        sql = self._rest("/sql?details=true&planDescription=false"
                         "&offset=0&length=1000000")
        span_of_job = {}
        per_span = defaultdict(lambda: defaultdict(float))
        stage_span = {}
        for j in jobs:
            sid = j.get("jobGroup") or None
            if not sid:
                continue
            span_of_job[j["jobId"]] = sid
            per_span[sid]["jobs"] += 1
            for st in j.get("stageIds", []):
                stage_span.setdefault(st, sid)
        for s in stages:
            sid = stage_span.get(s["stageId"])
            if sid is None or s["status"] not in ("COMPLETE", "FAILED"):
                continue
            m = per_span[sid]
            m["task_s"] += s.get("executorRunTime", 0) / 1e3
            m["gc_s"] += s.get("jvmGcTime", 0) / 1e3
            m["tasks_failed"] += s.get("numFailedTasks", 0)
            m["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
            m["spill_mb"] += s.get("diskBytesSpilled", 0) / 1e6
            m["bytes_written_mb"] += s.get("outputBytes", 0) / 1e6
        for e in sql:
            job_ids = (e.get("successJobIds", []) + e.get("failedJobIds", [])
                       + e.get("runningJobIds", []))
            sids = {span_of_job[j] for j in job_ids if j in span_of_job}
            if len(sids) != 1:
                continue
            m = per_span[sids.pop()]
            for node in e.get("nodes", []):
                for metric in node.get("metrics", []):
                    key = _SQL_METRICS.get((node["nodeName"].split(" ")[0],
                                            metric["name"]))
                    if key:
                        m[key] += parse_metric(metric["value"])
        return per_span

    # -- report ---------------------------------------------------------

    def layer_report(self, spark_metrics):
        """Per-layer sums of span time, self time, counts and Spark
        metrics: ``{layer: {metric: value}}``."""
        selfs = self_times(self.spans)
        by_id = {s["id"]: s for s in self.spans}
        out = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            layer = layer_of(s["name"])
            parent = by_id.get(s["parent"])
            top = parent is None or layer_of(parent["name"]) != layer
            if top:
                out[layer]["busy_s"] += s["end"] - s["start"]
            out[layer]["self_s"] += selfs[s["id"]]
            out[s["name"]]["span_s"] += s["end"] - s["start"]
            for key, value in spark_metrics.get(s["id"], {}).items():
                out[layer][key] += value
                if layer != s["name"]:
                    out[s["name"]][key] += value
        for (sid, key), value in self.counts.items():
            name = by_id[sid]["name"] if sid in by_id else None
            if name is None:
                continue
            out[layer_of(name)][key] += value
            if layer_of(name) != name:
                out[name][key] += value
        return out

    def write_spans(self, path):
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# (node name, SQL metric name) -> per-span key
_SQL_METRICS = {
    ("MapInPandas", "data sent to Python workers"): "py_sent_bytes",
    ("MapInPandas", "data returned from Python workers"): "py_recv_bytes",
    ("FlatMapGroupsInPandas", "data sent to Python workers"): "py_sent_bytes",
    ("FlatMapGroupsInPandas", "data returned from Python workers"): "py_recv_bytes",
    ("Scan", "number of files read"): "files_read",
    ("Scan", "number of output rows"): "rows_scanned",
    ("Execute", "number of written files"): "files_written",
}
