"""SparkSession factory with the engine's standard scale configuration.

Defaults encode the 100-TB design posture (BASELINE.json north_star):
AQE on (runtime re-planning + skew-join splitting), Arrow for every
pandas UDF boundary, and shuffle partitioning sized by caller.  On a real
cluster these arrive via spark-submit --conf; the factory only sets what
the engine semantically relies on.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

ENGINE_CONFS = {
    # runtime re-planning: partition coalescing, skew-join splitting,
    # dynamic broadcast-join conversion — required by the skew posture
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas_udf / mapInPandas / applyInPandas
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # deterministic timestamp behavior across JVM/pandas
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(app_name: str = "meresco_rdf_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or "local[%s]" % cpus)
    # local mode runs every task inside the driver JVM — the 1g default
    # heap OOMs under 32 concurrent hash-agg tasks.  Keep the heap MODERATE:
    # oversized heaps (32g) put this kernel into page-allocation storms
    # (measured 85% system time, 5x wall).  8g = ~250MB per task at 32
    # threads, ample for the spill-aware operators.  Honored only if this
    # builder launches the JVM (i.e. set before the first session).
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    for key, value in ENGINE_CONFS.items():
        builder = builder.config(key, value)
    builder = builder.config(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions if shuffle_partitions is not None else cpus))
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples, lists or ``Row``s,
    matched to ``schema`` by position, as on the list path; ``schema`` is a
    ``StructType`` or a DDL string), shipped as one Arrow table.

    It plans as a ``LocalTableScan``: scanning it starts no Python worker.
    ``spark.createDataFrame(<list>)`` would pickle the rows into a
    ``PythonRDD`` whose every scan runs an identity map in Python workers.
    Values are typed by ``pa.array(values, type=...)`` per column, so NULLs
    keep int and long columns intact; a NULL in a non-nullable column
    raises, as the list path's schema check did.  A naive datetime in a
    timestamp column is read in the session time zone (UTC), not in the
    Python process's local zone as the list path did."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = (schema if isinstance(schema, StructType)
              else StructType.fromDDL(schema))
    arrow_schema = to_arrow_schema(struct)
    rows = list(rows)
    arrays = []
    for i, (field, arrow_field) in enumerate(zip(struct.fields, arrow_schema)):
        arr = pa.array([row[i] for row in rows], type=arrow_field.type)
        if arr.null_count and not field.nullable:
            raise ValueError("field %s: not nullable, but got None"
                             % field.name)
        arrays.append(arr)
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, struct)


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the local-mode equivalent of
    ``spark-submit --py-files``).  Python workers don't inherit the
    driver's ``sys.path``, so a driver importing the package from a
    non-cwd location would otherwise hit ModuleNotFoundError inside any
    pandas UDF.  Idempotent per session."""
    sc = spark.sparkContext
    if getattr(sc, "_meresco_rdf_spark_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    fd, zip_path = tempfile.mkstemp(suffix=".zip", prefix="meresco_rdf_spark_")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _, files in os.walk(pkg_dir):
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(root, name)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._meresco_rdf_spark_shipped = True
