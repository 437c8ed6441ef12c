"""Static checks over the package source (no linter is a dependency)."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "meresco_rdf_spark"


def test_no_dict_literal_repeats_a_constant_key():
    # a repeated key silently keeps the LAST value, so a registry entry
    # written twice can shadow the first without any error
    repeats = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Dict):
                continue
            seen = set()
            for key in node.keys:
                if not isinstance(key, ast.Constant):
                    continue
                if key.value in seen:
                    repeats.append("%s:%d %r" % (
                        path.relative_to(PKG.parent), key.lineno,
                        key.value))
                seen.add(key.value)
    assert repeats == []


def test_hadoop_filesystem_is_opened_only_by_snapshots():
    # every table commit goes through kg/snapshots.py (manifest rename =
    # commit); a module that opens its own Hadoop FileSystem is how a
    # second commit path starts
    opened = sorted(
        str(path.relative_to(PKG.parent)) for path in PKG.rglob("*.py")
        if "getFileSystem(" in path.read_text())
    assert opened == ["meresco_rdf_spark/kg/snapshots.py"]


def test_driver_rows_become_frames_only_through_local_frame():
    # createDataFrame over a Python list plans a PythonRDD: every scan of
    # the frame starts Python workers to run an identity map.
    # session.local_frame ships the rows as one Arrow table instead
    # (a LocalTableScan), so it is the package's only createDataFrame
    built = sorted(
        str(path.relative_to(PKG.parent)) for path in PKG.rglob("*.py")
        if "createDataFrame(" in path.read_text())
    assert built == ["meresco_rdf_spark/session.py"]


def test_documents_are_listed_and_parsed_in_one_place():
    # every document format (RDF/XML, Turtle, TriG, JSON-LD) shares one
    # file listing and one worker, whose counter reset scopes bnodes: a
    # second copy of either is how per-format ingest paths drift apart
    for needle in ("binaryFile", "BNode.nextGenId = 0"):
        found = [
            str(path.relative_to(PKG.parent))
            for path in sorted(PKG.rglob("*.py"))
            for _ in range(path.read_text().count(needle))]
        assert found == ["meresco_rdf_spark/sources/rdf_source.py"], needle
