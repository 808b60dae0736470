"""``session.local_frame``: driver-held rows as a JVM ``LocalRelation``.

The helper must return exactly what ``createDataFrame(<list>, schema)``
returns (values, NULLs, doubles to the bit, the same errors), while the
plan it builds is a ``LocalRelation`` rather than a Python-RDD scan. The
guard keeps list-built frames from creeping back into the reader and
writer modules."""

from __future__ import annotations

import ast
import glob
import os
import struct

import pytest
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

import databricks_import_pyspark_scripts_spark as pkg
from databricks_import_pyspark_scripts_spark.session import local_frame

SCHEMA = StructType([
    StructField("s", StringType()),
    StructField("l", LongType()),
    StructField("i", IntegerType()),
    StructField("b", BooleanType()),
    StructField("tags", ArrayType(StringType())),
    StructField("props", MapType(StringType(), StringType())),
    StructField("vec", ArrayType(DoubleType())),
])

ROWS = [
    ("a", 2 ** 62, -7, True, ["x", None, ""], {"k": "v", "n": None},
     [0.1, -0.0, 5e-324, 1 / 3, float("inf"), float("nan"),
      -1.7976931348623157e308]),
    (None, None, None, None, None, None, None),
    ("é ß", -(2 ** 63), 2 ** 31 - 1, False, [], {}, [None, 2.5]),
    {"s": "by-name", "l": 3, "vec": [1e-310]},
]


def _canon(rows) -> list[tuple]:
    """Rows with every double as its IEEE-754 bit pattern, maps sorted."""
    def c(v):
        if isinstance(v, float):
            return struct.pack(">d", v).hex()
        if isinstance(v, list):
            return [c(x) for x in v]
        if isinstance(v, dict):
            return sorted((k, c(x)) for k, x in v.items())
        return v
    return [tuple(c(v) for v in r) for r in rows]


def _analyzed(df) -> str:
    plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
    return plan.getClass().getSimpleName()


def test_local_frame_matches_list_create_dataframe(spark):
    got = local_frame(spark, ROWS, SCHEMA)
    want = spark.createDataFrame(ROWS, SCHEMA)
    assert got.schema == want.schema
    assert _canon(got.collect()) == _canon(want.collect())
    assert _analyzed(got) == "LocalRelation"
    assert _analyzed(want) == "LogicalRDD"


def test_local_frame_ddl_schema_and_empty_input(spark):
    ddl = "f string, v long, ts long"
    got = local_frame(spark, [], ddl)
    assert got.schema == spark.createDataFrame([], ddl).schema
    assert got.collect() == []
    assert _analyzed(got) == "LocalRelation"
    empty = local_frame(spark, [], SCHEMA)
    assert empty.schema == SCHEMA and empty.count() == 0


def test_local_frame_rejects_what_create_dataframe_rejects(spark):
    strict = StructType([StructField("k", StringType()),
                         StructField("v", LongType(), False)])
    for make in (spark.createDataFrame, lambda r, s: local_frame(spark, r, s)):
        with pytest.raises(ValueError, match="not nullable"):
            make([("a", None)], strict)
        with pytest.raises(TypeError):
            make([("a", 1.5)], strict)  # no silent float -> long truncation


def test_local_frame_takes_arrow_columns(spark):
    import pyarrow as pa

    got = local_frame(spark, pa.table({"f": ["x", "y"],
                                       "v": pa.array([1, 2], pa.int32())}),
                      "f string, v long")
    assert [tuple(r) for r in got.collect()] == [("x", 1), ("y", 2)]
    assert _analyzed(got) == "LocalRelation"


PKG = os.path.dirname(pkg.__file__)
# rows parallelized on purpose: they feed a mapInPandas decode, so the
# Python RDD is the point (the manifest decode runs on executors)
MAP_IN_PANDAS_FEEDERS = {("sources/iceberg.py", "_parallel_manifest_records")}


def test_readers_and_writers_build_no_list_dataframe():
    """Every driver-built frame in the reader/writer modules goes through
    ``local_frame``: no ``createDataFrame(`` call is left in ``sources/``,
    ``sinks/``, ``delta.py`` or ``operators/similarity.py`` outside the
    named ``mapInPandas`` feeders."""
    files = (glob.glob(os.path.join(PKG, "sources", "*.py"))
             + glob.glob(os.path.join(PKG, "sinks", "*.py"))
             + [os.path.join(PKG, "delta.py"),
                os.path.join(PKG, "operators", "similarity.py")])
    found = []
    for p in sorted(files):
        rel = os.path.relpath(p, PKG)
        with open(p) as f:
            tree = ast.parse(f.read())

        def visit(node, fn: str) -> None:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                found.append((rel, fn))
            for child in ast.iter_child_nodes(node):
                visit(child, fn)

        visit(tree, "<module>")
    assert sorted(found) == sorted(MAP_IN_PANDAS_FEEDERS)
