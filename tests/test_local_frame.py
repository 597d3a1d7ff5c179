"""Driver-side rows enter Spark only through ``session.local_frame``, as an
Arrow local relation: an ``ast`` scan for stray ``createDataFrame`` calls,
and the helper's plan shape and round trips."""

import ast
import os

import pandas as pd
from pyspark.sql import functions as F

from pgsql2osm_spark.session import local_frame

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sources():
    yield os.path.join(ROOT, "__spark_entry__.py")
    for dirpath, _, files in os.walk(os.path.join(ROOT, "pgsql2osm_spark")):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _create_data_frame_calls(tree: ast.Module, exempt: str | None) -> list[int]:
    """Lines of ``<x>.createDataFrame(...)`` calls outside the top-level
    function named ``exempt``."""
    lines = []
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == exempt:
            continue
        lines += [
            n.lineno for n in ast.walk(node)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"
        ]
    return lines


def test_driver_rows_enter_through_local_frame():
    found, scanned = [], 0
    for path in _sources():
        rel = os.path.relpath(path, ROOT)
        exempt = "local_frame" if rel == os.path.join("pgsql2osm_spark", "session.py") else None
        with open(path) as fh:
            tree = ast.parse(fh.read())
        scanned += 1
        found += [f"{rel}:{line}" for line in _create_data_frame_calls(tree, exempt)]
    assert scanned > 10
    assert not found, f"createDataFrame outside session.local_frame: {found}"


SCHEMA = (
    "id long, members array<struct<ref:long, role:string, type:string>>, "
    "tags map<string,string>, payload binary"
)


def _assert_local_relation(df):
    assert df._jdf.queryExecution().analyzed().toString().startswith("LocalRelation")
    assert "PythonRDD" not in df._jdf.rdd().toDebugString()


def test_local_frame_is_an_arrow_local_relation(spark):
    rows = [
        (1, [(5, "outer", "W"), (6, "", "N")], {"z": "1", "a": "2", "m": "3"}, b"\x00\xff"),
        (2, [], {}, b""),
        (None, None, None, None),
    ]
    df = local_frame(spark, rows, SCHEMA)
    _assert_local_relation(df)
    got = {r["id"]: r for r in df.select(
        "id", "members", F.map_entries("tags").alias("tags"), "payload"
    ).collect()}
    assert [tuple(m) for m in got[1]["members"]] == [(5, "outer", "W"), (6, "", "N")]
    # map entries keep the order of the driver dict
    assert [tuple(e) for e in got[1]["tags"]] == [("z", "1"), ("a", "2"), ("m", "3")]
    assert bytes(got[1]["payload"]) == b"\x00\xff"
    assert got[2]["members"] == [] and got[2]["tags"] == [] and bytes(got[2]["payload"]) == b""
    assert tuple(got[None]) == (None, None, None, None)

    empty = local_frame(spark, [], SCHEMA)
    _assert_local_relation(empty)
    assert empty.count() == 0 and empty.schema == df.schema

    pdf = local_frame(spark, pd.DataFrame({"id": [3, 4], "lon": [1.5, -2.0]}))
    _assert_local_relation(pdf)
    assert sorted(tuple(r) for r in pdf.collect()) == [(3, 1.5), (4, -2.0)]
