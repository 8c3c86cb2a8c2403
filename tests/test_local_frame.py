"""``session.local_frame`` against ``createDataFrame(<list>)`` as the oracle.

Every small driver-built table in the package goes through
``local_frame`` (an Arrow table → ``LocalTableScan``, no Python-worker
tasks on read). The slow path stays here as the reference: for every
schema the package builds, both must collect the same rows and report
the same schema, nullability included, and reject the same bad input.
"""

from __future__ import annotations

import ast
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import types as T

from random_cut_forest_by_aws_spark.operators.schema import RESULT_SCHEMA
from random_cut_forest_by_aws_spark.operators.suggest import _SCHEMA as SUGGEST_SCHEMA
from random_cut_forest_by_aws_spark.plans.suite import METRICS_SCHEMA, VERDICT_SCHEMA
from random_cut_forest_by_aws_spark.session import local_frame

# shaped like snapshot_diff_summary, whose collected rows plans/job.py writes back
DIFF_SUMMARY_SCHEMA = T.StructType([
    T.StructField("status", T.StringType(), False),
    T.StructField("n_keys", T.LongType(), False),
    T.StructField("rows_base", T.LongType(), True),
    T.StructField("rows_curr", T.LongType(), True),
])

CASES = {
    "verdicts": (VERDICT_SCHEMA, [
        ("uniqueness", "<table>", False, 32, "keys=['doc_id']"),
        ("referential", "<table>", True, 0, "fk=source"),
        ("schema", "doc_id", None, None, None),
    ]),
    "metrics": (METRICS_SCHEMA, [
        ("drift", 1.25, 3, 6.5),
        ("uniqueness", 0.0, 0, 7.0),
        ("column_stats", None, None, None),
    ]),
    "sources_dim": ("source string, expected_vocab int", [
        ("web", 50_000), ("books", 2**31 - 1), (None, None),
    ]),
    "suggest": (SUGGEST_SCHEMA, [
        ("id", "has_min", 1.0, None, 1.0, 5),
        ("lang", "is_contained_in", 1.0, "de\x1fen\x1ffr", 3.0, 5),
        ("note", "has_completeness", 0.8, None, None, 5),
    ]),
    "validate_schema": (RESULT_SCHEMA, [
        ("doc_id", "ok", "string", "string", True),
        ("n_tok", "missing", "int", None, False),
        ("extra", "unexpected", None, "double", False),
    ]),
    "reconcile_summary": (DIFF_SUMMARY_SCHEMA, [
        ("unchanged", 90, 90, 90), ("added", 4, None, 4), ("removed", 6, 6, None),
    ]),
    "quarantine": ("raw_record string, doc_id bigint", []),
    "suggest_empty": (SUGGEST_SCHEMA, []),
}


def _local_scan(df) -> bool:
    df.collect()
    return "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(CASES))
def test_matches_create_dataframe(spark, name):
    schema, rows = CASES[name]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    # the JVM-side schema too, not only the Python-side copy
    assert got.select("*").schema == want.select("*").schema
    assert got.collect() == want.collect()
    assert _local_scan(got)


def test_accepts_rows_and_generators(spark):
    rows = spark.createDataFrame([("a", 1), ("b", 2)], "s string, n long").collect()
    got = local_frame(spark, (r for r in rows), "s string, n long")
    assert got.collect() == rows


@pytest.mark.parametrize("value,ddl", [
    (np.float64(1.5), "x double"),
    (np.int64(3), "x long"),
    (np.int32(3), "x int"),
    (np.bool_(True), "x boolean"),
])
def test_numpy_scalars_follow_the_oracle(spark, value, ddl):
    """The verifier checks exact Python types: NumPy scalars are rejected
    by both paths (callers convert with int()/float()/bool())."""
    with pytest.raises(TypeError):
        spark.createDataFrame([(value,)], ddl).collect()
    with pytest.raises(TypeError):
        local_frame(spark, [(value,)], ddl)
    plain = value.item()
    assert local_frame(spark, [(plain,)], ddl).collect() == \
        spark.createDataFrame([(plain,)], ddl).collect()


@pytest.mark.parametrize("row", [
    (None, "has_min", 1.0, None, 1.0, 5),      # non-nullable column
    ("id", "has_min", 1.0, None, 1.0, None),   # non-nullable n_rows
    ("id", "has_min", 1, None, 1.0, 5),        # int in a double field
    ("id", "has_min", 1.0, None, 1.0, 2**63),  # out of long range
    ("id", "has_min", 1.0, None, 1.0),         # wrong arity
])
def test_bad_rows_raise_like_the_oracle(spark, row):
    with pytest.raises((TypeError, ValueError)):
        spark.createDataFrame([row], SUGGEST_SCHEMA).collect()
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, [row], SUGGEST_SCHEMA)


def test_sources_dim_is_a_local_relation(spark):
    from random_cut_forest_by_aws_spark.sources import sources_dim

    dim = sources_dim(spark)
    assert _local_scan(dim)
    assert sorted(r["source"] for r in dim.collect()) == ["books", "code", "web", "wiki"]


PACKAGE = Path(__file__).resolve().parents[1] / "random_cut_forest_by_aws_spark"
TESTS = Path(__file__).resolve().parent
# (file, enclosing function) pairs allowed to call createDataFrame
ALLOWED = {("session.py", "local_frame"), ("operators/schema.py", "_parse")}


def _package_trees(root: Path = PACKAGE):
    """(path relative to ``root``, parsed module) for every file under
    ``root`` (the package by default)."""
    for path in sorted(root.rglob("*.py")):
        yield path.relative_to(root).as_posix(), ast.parse(path.read_text())


def test_no_create_dataframe_outside_local_frame():
    """``createDataFrame(<list>)`` costs Python-worker tasks on every read
    of the result; small driver-built tables go through ``local_frame``.
    The only other call is schema.py's DDL-parse fallback, which never
    reads rows."""
    found = set()
    for rel, tree in _package_trees():
        owner = {}  # node -> innermost enclosing function (walk is outer-first)
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                owner.update((node, fn.name) for node in ast.walk(fn))
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                found.add((rel, owner.get(node, "<module>")))
    assert ("session.py", "local_frame") in found
    assert found - ALLOWED == set(), found - ALLOWED


# the only environment variables the package may read
ENV_ALLOWED = {
    "RCF_FORCE_PY",  # pure-Python forest path (no gcc; parity tests)
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEM",
}


def _is_os_attr(node, *names) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr in names
            and isinstance(node.value, ast.Name) and node.value.id == "os")


def test_package_reads_only_known_env_vars():
    """A second implementation belongs under ``tests/`` as a parity
    oracle, not behind an env-var switch in the shipped path: the
    package reads only the variables in ``ENV_ALLOWED``, each by a
    literal name through ``os.environ`` or ``os.getenv``."""
    found, refs, keyed = set(), 0, 0
    for rel, tree in _package_trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "os":
                assert not {a.name for a in node.names} & {"environ", "getenv"}, rel
            if _is_os_attr(node, "environ", "getenv"):
                refs += 1
            key = None
            if isinstance(node, ast.Call) and node.args and (
                _is_os_attr(node.func, "getenv")
                or (isinstance(node.func, ast.Attribute)
                    and _is_os_attr(node.func.value, "environ"))
            ):
                key = node.args[0]
            elif isinstance(node, ast.Subscript) and _is_os_attr(node.value, "environ"):
                key = node.slice
            elif (isinstance(node, ast.Compare) and len(node.comparators) == 1
                  and _is_os_attr(node.comparators[0], "environ")):
                key = node.left
            if key is not None:
                keyed += 1
                found.add((rel, key.value if isinstance(key, ast.Constant) else "<dynamic>"))
    # every os.environ / os.getenv reference was a keyed read by name
    assert keyed == refs, (keyed, refs)
    assert {k for _, k in found} - ENV_ALLOWED == set(), sorted(found)
    assert ("core/forest.py", "RCF_FORCE_PY") in found


def test_package_makes_no_cache_call():
    """Never ``cache()`` a check output or a planning table: each cached
    plan stays registered with the CacheManager, which re-canonicalizes
    it against every later query in the session. Intermediates computed
    once are truncated with ``localCheckpoint``; ``persist()`` only where
    an ``unpersist()`` releases it. The tests share one session, so their
    fixtures follow the same rule."""
    found = sorted(
        (root.name, rel, node.lineno)
        for root in (PACKAGE, TESTS)
        for rel, tree in _package_trees(root)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        and node.func.attr == "cache"
    )
    assert found == [], found


# (file, function, parameter) that may go unread, each with its reason
UNREAD_ALLOWED = {
    # the stub keeps the real decoder's (payload, mime) signature
    ("operators/multimodal.py", "_decode_stub", "mime"),
    # keeps PredictorCorrector.java's signature
    ("core/corrector.py", "should_suppress", "score"),
}


def test_package_has_no_dead_switch():
    """A parameter or a ``*Config`` field that nothing reads selects
    nothing, yet callers can set it: every parameter of a package
    function is read in its body (method receivers aside), and every
    field of a ``*Config`` dataclass is read as an attribute somewhere
    in the package."""
    unread, fields, read_attrs = set(), set(), set()
    for rel, tree in _package_trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                read_attrs.add(node.attr)
            elif isinstance(node, ast.ClassDef) and node.name.endswith("Config"):
                fields.update((rel, node.name, stmt.target.id) for stmt in node.body
                              if isinstance(stmt, ast.AnnAssign))
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                params = {p.arg for p in (*a.posonlyargs, *a.args, *a.kwonlyargs,
                                          a.vararg, a.kwarg) if p} - {"self", "cls"}
                loads = {n.id for stmt in node.body for n in ast.walk(stmt)
                         if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
                unread.update((rel, node.name, p) for p in params - loads)
    assert ("operators/drift.py", "DriftConfig", "transform") in fields
    # an unread parameter, a stale exception or an unread field
    dead = sorted(unread ^ UNREAD_ALLOWED) + sorted(
        f for f in fields if f[2] not in read_attrs)
    assert dead == [], dead
