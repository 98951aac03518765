"""Driver-built data reaching the JVM in one call: exact DOUBLE array
literals parsed from SQL text (``double_array_sql``, the LSH plane
projection built on it), and Arrow-backed driver tables
(``local_frame``)."""

from __future__ import annotations

import ast
import math
import os
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from parallel_map_reduce_spark.functions.vector import double_array_sql
from parallel_map_reduce_spark.operators.similarity import (
    ANN_BANDS,
    ANN_PLANES_PER_BAND,
    _band_buckets_expr,
    _driver_band_buckets,
    _json_sql,
    plane_components,
)
from parallel_map_reduce_spark.sources.catalog import local_frame

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "parallel_map_reduce_spark",
)


def _bits(v: float) -> bytes:
    return struct.pack("<d", v)


def test_double_array_sql_round_trips_bit_for_bit(spark):
    """Every plane component plus values whose text form is awkward
    (inexact decimal, negative zero, the smallest subnormal, near the
    top of the range) come back from the parser with the same bits."""
    values = [v for plane in plane_components(64) for v in plane]
    values += [0.1, -0.0, 5e-324, 1e308, -1e308, 1 / 3]
    got = spark.range(1).select(F.expr(double_array_sql(values)).alias("a")).first()["a"]
    assert [_bits(v) for v in got] == [_bits(v) for v in values]


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_double_array_sql_rejects_non_finite(bad):
    with pytest.raises(ValueError):
        double_array_sql([1.0, bad])


def _reference_buckets(vec: list[float]) -> list[int]:
    """Sign bits of a left-to-right fold from 0.0 (the ``dot`` order);
    a dot of exactly 0.0 gives bit 0."""
    planes = plane_components(len(vec))
    out = []
    for band in range(ANN_BANDS):
        bucket = 0
        for i in range(ANN_PLANES_PER_BAND):
            acc = 0.0
            for x, y in zip(vec, planes[band * ANN_PLANES_PER_BAND + i]):
                acc = acc + x * y
            if acc > 0:
                bucket += 1 << i
        out.append(bucket)
    return out


def _bucket_test_vectors(dim: int) -> list[list[float]]:
    """200 random FLOAT vectors, the zero vector, and a vector exactly
    orthogonal to plane 0 (its dot folds to 0.0, so bit 0 is clear)."""
    rng = np.random.default_rng(7)
    vecs = [
        [float(x) for x in row]
        for row in rng.standard_normal((200, dim)).astype(np.float32)
    ]
    p0 = plane_components(dim)[0]
    ortho = [0.0] * dim
    ortho[3], ortho[40] = p0[40], -p0[3]
    acc = 0.0
    for x, y in zip(ortho, p0):
        acc = acc + x * y
    assert acc == 0.0 and _reference_buckets(ortho)[0] & 1 == 0
    return vecs + [[0.0] * dim, ortho]


def _jvm_buckets(spark, vecs: list[list[float]]) -> dict[int, list[int]]:
    df = local_frame(
        spark,
        list(enumerate(vecs)),
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    ).select("vec_id", _band_buckets_expr("embedding", len(vecs[0])).alias("b"))
    assert df.schema["b"].dataType.simpleString() == "array<int>"
    assert df.schema["b"].dataType.containsNull is False
    return {r["vec_id"]: list(r["b"]) for r in df.collect()}


def test_band_buckets_match_sequential_fold_reference(spark):
    """The parsed projection equals a pure-Python sign-of-fold on
    random FLOAT vectors, on the zero vector, and on a vector exactly
    orthogonal to plane 0."""
    vecs = _bucket_test_vectors(64)
    got = _jvm_buckets(spark, vecs)
    assert got == {i: _reference_buckets(v) for i, v in enumerate(vecs)}


def test_driver_band_buckets_match_projection(spark):
    """The served LSH request buckets its queries on the driver; on the
    same vectors that gives the JVM projection's buckets."""
    vecs = _bucket_test_vectors(64)
    got = _driver_band_buckets(np.array(vecs, dtype=np.float64))
    assert {i: row.tolist() for i, row in enumerate(got)} == _jvm_buckets(spark, vecs)


def test_json_sql_round_trips_bit_for_bit(spark):
    """The served LSH request's query literals (``_json_sql``) come back
    from ``from_json`` with the same bits, awkward values included."""
    values = [[0.1, -0.0, 5e-324, 1e308, -1e308, 1 / 3], plane_components(64)[0]]
    df = spark.range(1).select(F.expr(_json_sql(values, "array<array<double>>")).alias("a"))
    # folded to one constant
    assert "from_json" not in df._jdf.queryExecution().optimizedPlan().toString()
    got = df.first()["a"]
    assert [[_bits(v) for v in row] for row in got] == [
        [_bits(v) for v in row] for row in values
    ]


_DDL = (
    "id BIGINT, n INT, s STRING, v ARRAY<DOUBLE>, vv ARRAY<ARRAY<DOUBLE>>"
)
_ROWS = [
    (1, 7, "café ✓ İ", [0.1, -0.0, 5e-324], [[1.5], [], [2.0, -3.25]]),
    (None, None, None, None, None),
    (2**62, -(2**31), "", [], [[]]),
    (-5, 2**31 - 1, "KK", [1e308], [[None, 4.0]]),
]


def test_local_frame_round_trips_rows_and_schema(spark):
    """Values, NULLs and the declared schema come through unchanged,
    and the frame is a local relation, not a pickled-row RDD."""
    df = local_frame(spark, _ROWS, _DDL)
    assert df.schema == spark.createDataFrame([], _DDL).schema
    got = [tuple(r) for r in df.collect()]
    assert got == _ROWS
    assert [_bits(x) for x in got[0][3]] == [_bits(x) for x in _ROWS[0][3]]
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan


def test_local_frame_zero_rows(spark):
    df = local_frame(spark, [], _DDL)
    assert df.schema == spark.createDataFrame([], _DDL).schema
    assert df.collect() == []
    assert "LogicalRDD" not in df._jdf.queryExecution().optimizedPlan().toString()


def test_no_create_dataframe_outside_local_frame():
    """Under operators/, sources/ and streaming/, driver-built tables go
    through ``local_frame``: ``createDataFrame`` is called nowhere else."""
    offenders = []
    for sub in ("operators", "sources", "streaming"):
        for root, _, files in os.walk(os.path.join(PKG, sub)):
            for name in files:
                if not name.endswith(".py"):
                    continue
                path = os.path.join(root, name)
                tree = ast.parse(open(path, encoding="utf-8").read(), path)
                allowed = set()
                if path == os.path.join(PKG, "sources", "catalog.py"):
                    for node in ast.walk(tree):
                        if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                            allowed.update(id(n) for n in ast.walk(node))
                for node in ast.walk(tree):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame"
                        and id(node) not in allowed
                    ):
                        offenders.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert offenders == []


def test_package_locates_refdata_from_its_own_file():
    """Committed fixtures are found through ``catalog.REFDATA_DIR``,
    derived from the package's own location: no package file embeds
    the checkout's absolute path or an absolute path into refdata/,
    so a checkout anywhere finds its data."""
    import re

    from parallel_map_reduce_spark.sources.catalog import REFDATA_DIR

    checkout = os.path.dirname(PKG)
    assert REFDATA_DIR == os.path.join(checkout, "refdata")
    absolute_refdata = re.compile(r"""["']/[^"'\n]*refdata""")
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            src = open(path, encoding="utf-8").read()
            if checkout in src or absolute_refdata.search(src):
                offenders.append(os.path.relpath(path, PKG))
    assert offenders == []
