"""End-to-end `spark-submit --py-files` exercise of the cluster entry
point (north-rule: "runs via spark-submit --py-files on multi-executor
clusters", verified with pytest).

Launches a REAL spark-submit subprocess — separate JVM, package shipped
as a zip exactly as on a cluster, master from --conf (local[4] here) —
runs the checkpointed pipeline on synthesized transcripts, then
re-submits with the same output directory to prove resume skips every
completed bucket.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _find_spark_submit() -> str | None:
    """PATH first, then the standard install locations — containers
    often ship Spark at $SPARK_HOME or /opt/spark without putting bin/
    on PATH, and a real launcher beats skipping the only end-to-end
    cluster-entry-point test."""
    found = shutil.which("spark-submit")
    if found:
        return found
    for home in (os.environ.get("SPARK_HOME"), "/opt/spark"):
        if home:
            cand = os.path.join(home, "bin", "spark-submit")
            if os.access(cand, os.X_OK):
                return cand
    return None


SPARK_SUBMIT = _find_spark_submit()


def _package_zip(tmp_path) -> str:
    pkg_dir = os.path.join(REPO, "meresco_rdf_spark")
    zip_path = str(tmp_path / "meresco_rdf_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _, files in os.walk(pkg_dir):
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(root, name)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    return zip_path


def _submit(zip_path: str, cwd: str, *extra: str) -> dict:
    cmd = [
        SPARK_SUBMIT,
        "--master", "local[4]",
        "--py-files", zip_path,
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.driver.memory=2g",
        os.path.join(REPO, "tools", "submit_pipeline.py"),
        *extra,
    ]
    env = dict(os.environ)
    # the driver process must resolve the package from the zip alone:
    # run from a neutral cwd, no PYTHONPATH help
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=420)
    assert proc.returncode == 0, proc.stderr[-4000:]
    # last JSON line of stdout is the run summary
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert lines, proc.stdout[-2000:]
    return json.loads(lines[-1])


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_runs_and_resumes(tmp_path):
    zip_path = _package_zip(tmp_path)
    out_dir = str(tmp_path / "kg_out")
    neutral_cwd = str(tmp_path)

    first = _submit(zip_path, neutral_cwd,
                    "--synthesize", "40", "--turns-per-conv", "6",
                    "--output", out_dir, "--buckets", "4",
                    "--table-buckets", "4")
    assert first["buckets_processed"] == 4
    assert first["final_triples"] > 0
    assert os.path.isdir(os.path.join(out_dir, "triples"))
    assert os.path.isdir(os.path.join(out_dir, "_manifest"))

    # identical re-submit: manifest fingerprints match -> all buckets skip,
    # outputs unchanged (idempotent resume)
    second = _submit(zip_path, neutral_cwd,
                     "--synthesize", "40", "--turns-per-conv", "6",
                     "--output", out_dir, "--buckets", "4",
                     "--table-buckets", "4")
    assert second["buckets_processed"] == 0
    assert second["buckets_skipped"] == 4
    assert second["final_triples"] == first["final_triples"]
    # the warm-up run writes to process scratch, never next to --output
    assert not [n for n in os.listdir(neutral_cwd) if n.endswith("_warm")]
