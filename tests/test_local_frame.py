"""``session.local_frame``: driver-side rows enter every plan as an
Arrow-built ``LocalRelation``.

``spark.createDataFrame(<python list>, schema)`` parallelizes the list
into a Python RDD, so each scan, broadcast or collect of it runs a job
that starts Python workers.  The helper builds the same rows, typed the
same way; building or collecting them runs no job, and a plan that
broadcasts them runs one JVM-only job for the broadcast.  The package builds no frame any
other way."""

from __future__ import annotations

import ast
import pathlib

import pytest

from pyspark.sql import types as T

from trial_data_ingestion_spark.session import local_frame

_PACKAGE = (pathlib.Path(__file__).resolve().parent.parent
            / "trial_data_ingestion_spark")

#: one case per column type a converted call site builds
_CASES = {
    "string": ("s string", [("a",), ("",), ("ü",)]),
    "int": ("i int", [(0,), (-7,), (2**31 - 1,)]),
    "long": ("l long", [(0,), (-(2**63),), (2**40 + 1,)]),
    "double": ("d double", [(0.1,), (-1e300,), (float("inf"),)]),
    "array<float>": ("v array<float>",
                     [([0.1, 1 / 3, 1e-8, 16777217.0],), ([],)]),
    "array<double>": ("v array<double>", [([0.1, 1 / 3],), ([],)]),
    "nulls": ("s string, l long, v array<float>",
              [(None, None, None), ("a", 1, [None, 0.5])]),
    "empty": ("s string, l long, v array<double>", []),
    "struct-type": (T.StructType([
        T.StructField("doc", T.LongType(), True),
        T.StructField("band", T.IntegerType(), True),
        T.StructField("bucket", T.StringType(), True),
        T.StructField("pbkt", T.LongType(), True)]),
        [(3, 0, "ab12", 5), (4, 1, None, 7)]),
}


def _jobs(spark, group, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)


def _check(spark, name):
    schema, rows = _CASES[name]
    want = spark.createDataFrame(rows, schema)
    got = []
    n = _jobs(spark, f"local-frame-{name}", lambda: got.extend(
        local_frame(spark, rows, schema).collect()))
    assert n == 0, f"{name}: building and collecting ran {n} jobs"
    # float32 columns come back rounded the same way on both paths
    assert got == want.collect()
    frame = local_frame(spark, rows, schema)
    assert frame.schema == want.schema
    plan = frame._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan


@pytest.mark.parametrize("name", sorted(_CASES))
def test_local_frame_matches_list_frame_with_no_job(spark, name):
    """Same rows and schema as the list-built frame; building and
    collecting run 0 jobs; the optimized plan is a LocalRelation."""
    _check(spark, name)


def test_local_frame_without_arrow_pyspark_conf(spark):
    """The helper hands Spark an Arrow table directly, so it does not
    depend on ``spark.sql.execution.arrow.pyspark.enabled``."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for name in ("nulls", "array<float>", "empty"):
            _check(spark, name)
    finally:
        spark.conf.set(key, before)


def _create_dataframe_calls(path: pathlib.Path):
    """(line, enclosing function) of every ``.createDataFrame(...)``
    call in one module."""
    found = []

    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            inner = (child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else func)
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                found.append((child.lineno, func))
            walk(child, inner)

    walk(ast.parse(path.read_text(), str(path)), None)
    return found


def test_package_builds_frames_only_through_local_frame():
    """No module of the package calls ``createDataFrame`` except
    ``session.local_frame``: a list-built (Python-RDD) frame cannot
    come back unnoticed."""
    stray = []
    allowed = []
    for path in sorted(_PACKAGE.rglob("*.py")):
        rel = path.relative_to(_PACKAGE).as_posix()
        for line, func in _create_dataframe_calls(path):
            if (rel, func) == ("session.py", "local_frame"):
                allowed.append(line)
            else:
                stray.append(f"{rel}:{line} (in {func})")
    assert not stray, "build driver rows with session.local_frame: " \
        + ", ".join(stray)
    assert len(allowed) == 1


def test_local_jaccard_verify_runs_no_job(spark):
    """``incremental_dedup._verify_pairs_local`` projects and filters
    its pair frame only, so Spark evaluates it on the driver over the
    LocalRelation: confirming a candidate set runs no job."""
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        _verify_pairs_local,
    )
    texts = {1: "the quick brown fox jumps",
             2: "the quick brown fox jumps!",
             3: "entirely different text", 4: None}
    got = []
    n = _jobs(spark, "local-verify", lambda: got.extend(
        _verify_pairs_local(spark, [(1, 2), (1, 3), (3, 4)], texts,
                            T.LongType(), 5, 0.8)))
    assert n == 0
    assert got == [(1, 2)]


def test_broadcasting_a_local_frame_runs_one_job(spark):
    """Broadcasting a local frame is not free: the broadcast exchange
    collects its child through an RDD, so joining a scan to a
    broadcast local frame runs one job more than the scan alone,
    while collecting the local frame itself runs none."""
    from pyspark.sql import functions as F

    small = local_frame(spark, [(i, f"v{i}") for i in range(9)],
                        "k long, v string")
    scan = spark.range(1000).withColumnRenamed("id", "k")
    assert _jobs(spark, "local-only", small.collect) == 0
    assert _jobs(spark, "scan-only", scan.collect) == 1
    joined = []
    n = _jobs(spark, "scan-broadcast", lambda: joined.extend(
        scan.join(F.broadcast(small), "k").collect()))
    assert n == 2, f"scan joined to a broadcast local frame ran {n} jobs"
    assert len(joined) == 9
