"""Incremental SHACL validation over streaming triple ingest: a stream
of triples -> an exactly-once-maintained violations report that always
equals the BATCH ``operators.shacl.validate`` over everything ingested.

Why validation does NOT distribute over union (the contrast with
``rdfs_stream``, and the reason naive per-batch checking is wrong for
insert-only streams):

- **retraction**: a ``minCount`` violation ("entity has no foaf:name
  yet") must DISAPPEAR when a later batch delivers the name; a
  ``sh:class`` violation ("knows a node never typed Person") must
  disappear when the rdf:type row arrives later.
- **late appearance**: a ``maxCount``/``uniqueLang``/``disjoint``
  violation can only be SEEN once enough rows have accumulated — a
  per-batch check of the delta alone never sees it.
- **late focus**: a node's value rows can arrive BEFORE the rdf:type
  row that makes it a focus node; when focus arrives, previously-clean
  rows become checkable.

The incremental lever that keeps this exact WITHOUT revalidating the
corpus per trigger: every SHACL-core constraint here is local to one
focus node (its own subj-keyed rows, plus — for ``sh:class`` — the
rdf:type rows of its referenced objects, which the validator reads from
the full table anyway).  So a micro-batch can only change the verdicts
of focus nodes it TOUCHES, and the exact touched set is computable from
the delta alone:

1. new target rows (type / target-predicate rows) -> the named focus;
2. new rows under any declared or pair path -> their subject, for every
   shape (the semi-join inside ``validate(only_focus=...)`` drops the
   ones that are not actually focus);
3. new ``rdf:type`` rows -> every focus holding the typed node as the
   value of a class-constrained path (reverse lookup over that narrow
   accumulated slice only);
4. ``targetNode`` focus: constant KB-sized set, always included.

Per batch: dedup the batch against the accumulated table (genuinely new
rows), revalidate ONLY the affected focus set against the table∪delta
union, swap the affected slice of the report (stage-and-swap with
roll-forward), and append the delta to the table LAST — so a crash at
any point leaves the delta still detectable as new, and at-least-once
foreachBatch replays re-run the whole deterministic step and converge.

Scale shape: per trigger, O(delta) work for steps 1-2, one narrow
join per class-constrained path for step 3, and a validate() whose
focus relation is the affected set — the corpus is scanned only through
subj-keyed semi-joins against that set.  Executor state is O(0): the
triple table and report ARE the state (the ``quad_stream`` /
``rdfs_stream`` discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..kg.snapshots import _fs
from ..operators.shacl import RDF_TYPE, _check_shapes, _PAIR_KEYS, validate
from ..session import local_frame
from . import TRIPLE_DDL, read_if_exists

TRIPLE_COLS = ["subj", "pred", "obj_value", "obj_kind", "obj_lang"]
REPORT_COLS = ["shape_id", "focus", "path", "constraint", "value"]
REPORT_DDL = ", ".join("%s string" % c for c in REPORT_COLS)


def _affected_focus(spark, shapes: list[dict], new_rows: DataFrame,
                    table: DataFrame | None) -> DataFrame:
    """(shape_id, focus) pairs whose verdicts this delta could change.

    IRI paths only: the affected-focus derivation reads ``prop['path']``
    as a predicate, which is wrong for structured paths (an inverse
    path's affected focus is the new row's OBJECT; a sequence's is
    upstream of it) — those shapes must go through a full
    ``validate()``, so they are rejected loudly here rather than
    silently under-revalidated."""
    for shape in shapes:
        if (shape.get("or") or shape.get("and") or shape.get("not")
                or shape.get("xone")):
            from meresco_rdf_spark.operators.shacl import ShaclUnsupported
            raise ShaclUnsupported(
                "incremental SHACL maintenance does not support logical "
                "constraints (shape %s) — run the full batch validate() "
                "instead" % shape["id"])
        for prop in shape.get("properties", ()):
            if prop.get("path_expr"):
                from meresco_rdf_spark.operators.shacl import ShaclUnsupported
                raise ShaclUnsupported(
                    "incremental SHACL maintenance supports IRI paths "
                    "only; shape %s declares path %r — run the full "
                    "batch validate() instead"
                    % (shape["id"], prop["path"]))
            if prop.get("node") or prop.get("qualified_shape"):
                # a delta on a VALUE node's own properties flips the
                # outer focus's sh:node verdict — invisible to this
                # predicate-keyed derivation
                from meresco_rdf_spark.operators.shacl import ShaclUnsupported
                raise ShaclUnsupported(
                    "incremental SHACL maintenance does not support "
                    "sh:node (shape %s) — run the full batch validate() "
                    "instead" % shape["id"])
    parts = []
    path_preds: dict[str, set[str]] = {}
    for shape in shapes:
        sid = F.lit(shape["id"]).alias("shape_id")
        if shape.get("target_class"):
            parts.append(new_rows.filter(
                (F.col("pred") == RDF_TYPE)
                & (F.col("obj_value") == shape["target_class"]))
                .select(sid, F.col("subj").alias("focus")))
        if shape.get("target_subjects_of"):
            parts.append(new_rows.filter(
                F.col("pred") == shape["target_subjects_of"])
                .select(sid, F.col("subj").alias("focus")))
        if shape.get("target_objects_of"):
            parts.append(new_rows.filter(
                F.col("pred") == shape["target_objects_of"])
                .select(sid, F.col("obj_value").alias("focus")))
        if shape.get("target_node"):
            parts.append(local_frame(
                spark,
                [(shape["id"], n) for n in shape["target_node"]],
                "shape_id string, focus string"))
        preds = set()
        for prop in shape.get("properties", ()):
            preds.add(prop["path"])
            for key, _ in _PAIR_KEYS:
                if prop.get(key):
                    preds.add(prop[key])
        if preds:
            path_preds[shape["id"]] = preds
            parts.append(new_rows.filter(
                F.col("pred").isin(sorted(preds)))
                .select(sid, F.col("subj").alias("focus")))
    # step 3: a new rdf:type row can repair sh:class violations of every
    # focus referencing the typed node — reverse lookup over the
    # accumulated class-constrained slice only
    class_paths = sorted({
        (shape["id"], prop["path"]) for shape in shapes
        for prop in shape.get("properties", ()) if prop.get("class")})
    if class_paths and table is not None:
        new_types = (new_rows.filter(F.col("pred") == RDF_TYPE)
                     .select(F.col("subj").alias("typed")).distinct())
        for sid_val, path in class_paths:
            refs = (table.filter(F.col("pred") == path)
                    .join(new_types,
                          F.col("obj_value") == F.col("typed"), "left_semi")
                    .select(F.lit(sid_val).alias("shape_id"),
                            F.col("subj").alias("focus")))
            parts.append(refs)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["shape_id", "focus"])


def _roll_forward(fs, hpath, report_path: str) -> None:
    """Finish a crashed report swap: staging is always a COMPLETE new
    report, so promote it; a half-deleted final dir is discarded."""
    stg = hpath(report_path + ".staging")
    if fs.exists(stg):
        fs.delete(hpath(report_path), True)
        fs.rename(stg, hpath(report_path))


def run_shacl_maintenance(triple_stream: DataFrame, shapes: list[dict],
                          table_path: str, report_path: str,
                          checkpoint: str):
    """Start the exactly-once report maintenance; returns the streaming
    query (``availableNow`` trigger — the resumable-batch shape).

    ``triple_stream`` — streaming 5-column triple relation (insert-only;
    set semantics: duplicate deliveries are absorbed).
    ``table_path`` — accumulated triple table (created here; also usable
    read-side as the ingested KG).
    ``report_path`` — the maintained violations report: after every
    trigger it equals ``validate(read(table_path), shapes)``."""
    _check_shapes(shapes)
    spark = triple_stream.sparkSession
    fs, hpath = _fs(spark, report_path)

    def step(batch: DataFrame, batch_id: int) -> None:
        _roll_forward(fs, hpath, report_path)
        batch = batch.select(*TRIPLE_COLS).dropDuplicates(TRIPLE_COLS)
        table = read_if_exists(spark, table_path, TRIPLE_DDL)
        new_rows = batch
        if table is not None:
            cond = None
            for c in TRIPLE_COLS:
                eq = batch[c].eqNullSafe(table[c])
                cond = eq if cond is None else cond & eq
            new_rows = batch.join(table, cond, "left_anti")
        new_rows = new_rows.localCheckpoint(eager=True)
        if new_rows.isEmpty():  # pure replay: table and report converged
            return
        affected = _affected_focus(spark, shapes, new_rows, table)
        # ORDER MATTERS for at-least-once replay: validate against the
        # in-memory union and swap the report BEFORE appending to the
        # table.  A crash at ANY point leaves new_rows still detected as
        # new on replay (the append is last), so the whole step re-runs
        # and converges; appending first would make a replayed batch an
        # empty delta while the report never received its effect.
        merged = (table.unionByName(new_rows)
                  if table is not None else new_rows)
        fresh = validate(merged, shapes, only_focus=affected)
        report = fresh
        old = read_if_exists(spark, report_path, REPORT_DDL)
        if old is not None:
            report = (old.join(affected, ["shape_id", "focus"], "left_anti")
                      .unionByName(fresh))
        # stage-and-swap: the report is read above and rewritten below,
        # so it can never be overwritten in place
        staging = report_path + ".staging"
        report.write.mode("overwrite").parquet(staging)
        fs.delete(hpath(report_path), True)
        fs.rename(hpath(staging), hpath(report_path))
        new_rows.write.mode("append").parquet(table_path)

    return (triple_stream.writeStream.foreachBatch(step)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())
