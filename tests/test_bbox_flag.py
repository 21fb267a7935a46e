"""The SQL-built axis-aligned box flag (``flag_regions_bbox``) against
the Column-built chain it replaced: same values, type and overwrite
order on hostile region names, overlapping and unbounded boxes, NULL
coordinates and a column name that needs quoting."""

from __future__ import annotations

import itertools
import math
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vtk_reserves_spark.operators.spatial import flag_regions_bbox

INF = math.inf

XYZ = ("x pos", "y", "z")  # a name SQL must backtick-quote

BOXES = [
    ("it's", ((-10.0, -10.0, -10.0), (0.0, 0.0, 0.0))),
    ("back\\slash", ((-5.0, -5.0, -5.0), (5.0, 5.0, 5.0))),  # overlaps it's
    ('dq"', ((-1.5, -1.5, -1.5), (1.5, 1.5, 1.5))),  # inside back\slash
    ("back`tick", ((3, 3, 3), (12, 12, 12))),  # int bounds
    ("ünï 中文 😀", ((-12.0, 6.0, -INF), (-6.0, 12.0, INF))),
    (7, ((6.0, -12.0, -12.0), (12.0, -6.0, 12.0))),  # int name
    ("\\'%_\nend", ((-INF, -INF, 9.0), (INF, INF, INF))),
    ("neg", ((-9.0, -9.0, -9.0), (-7.5, -7.5, -7.5))),  # later, inside it's
]


def _column_chain_bbox(df, regions, flag_var="region", xyz=("x", "y", "z")):
    """The box flag as a nested ``F.when(...).otherwise(...)`` chain of
    ``Column.between`` predicates: the reference semantics."""
    x, y, z = (F.col(c) for c in xyz)
    expr = F.lit("")
    for name, ((x0, y0, z0), (x1, y1, z1)) in regions:  # earliest first
        inside = (
            x.between(float(x0), float(x1))
            & y.between(float(y0), float(y1))
            & z.between(float(z0), float(z1))
        )
        expr = F.when(inside, F.lit(name)).otherwise(expr)
    return df.withColumn(flag_var, expr)


@pytest.fixture(scope="module")
def points(spark):
    axis = [-12.0, -9.0, -8.0, -5.0, -1.5, 0.0, 1.5, 3.0, 5.0, 6.0, 9.0, 12.0, 40.0]
    rows = list(itertools.product(axis, repeat=3))
    rows += [
        (None, 0.0, 0.0),
        (0.0, None, 0.0),
        (0.0, 0.0, None),
        (None, None, None),
        (None, 0.0, 20.0),  # z inside the unbounded slab, x unknown
        (math.nan, 0.0, 0.0),
        (-INF, 0.0, 20.0),
        (INF, INF, INF),
        (-9.0, 9.0, -INF),
    ]
    schema = T.StructType(
        [T.StructField("id", T.LongType())]
        + [T.StructField(c, T.DoubleType()) for c in XYZ]
    )
    return spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], schema
    ).cache()


def _flags(df, flag_var="region"):
    return [r[flag_var] for r in df.orderBy("id").select(flag_var).collect()]


@contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_bbox_flag_matches_column_chain(spark, points):
    # The Column chain types the int name's branch as an int literal.
    # Without ANSI, CASE coerces it to the string "7"; under ANSI the
    # common type is BIGINT and '' fails to cast (the ANSI case is
    # test_bbox_flag_int_name_under_ansi).
    with _conf(spark, "spark.sql.ansi.enabled", "false"):
        got = flag_regions_bbox(points, BOXES, xyz=XYZ)
        want = _column_chain_bbox(points, BOXES, xyz=XYZ)
        assert got.schema == want.schema
        g, w = _flags(got), _flags(want)
    assert g == w
    # every region wins somewhere, and NULL coordinates flag ''
    assert {str(n) for n, _ in BOXES} <= set(g)
    n_grid = 13 ** 3
    assert g[n_grid : n_grid + 4] == ["", "", "", ""]


def test_bbox_flag_overwrite_order_and_empty(points):
    # the same two boxes in both orders: the later box wins the overlap
    a = ("a", ((-5.0, -5.0, -5.0), (5.0, 5.0, 5.0)))
    b = ("b", ((0.0, 0.0, 0.0), (9.0, 9.0, 9.0)))
    for regions in ([a, b], [b, a]):
        got = _flags(flag_regions_bbox(points, regions, "r", XYZ), "r")
        assert got == _flags(_column_chain_bbox(points, regions, "r", XYZ), "r")
    at_origin = points.where(
        (F.col(XYZ[0]) == 0) & (F.col("y") == 0) & (F.col("z") == 0)
    )
    assert [r.r for r in flag_regions_bbox(at_origin, [a, b], "r", XYZ).collect()] == ["b"]
    assert [r.r for r in flag_regions_bbox(at_origin, [b, a], "r", XYZ).collect()] == ["a"]
    # no regions: every row ''
    empty = flag_regions_bbox(points, [], "r", XYZ)
    assert empty.schema == _column_chain_bbox(points, [], "r", XYZ).schema
    assert set(_flags(empty, "r")) == {""}


def test_bbox_flag_int_name_under_ansi(spark, points):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    regions = [("a", ((-5.0, -5.0, -5.0), (5.0, 5.0, 5.0))), *BOXES[5:6]]
    out = flag_regions_bbox(points, regions, xyz=XYZ)
    assert dict(out.dtypes)["region"] == "string"
    assert {r.region for r in out.select("region").distinct().collect()} == {"", "a", "7"}


def _count_nodes(jexpr, cls: str) -> int:
    n = int(jexpr.getClass().getSimpleName() == cls)
    kids = jexpr.children()
    return n + sum(_count_nodes(kids.apply(i), cls) for i in range(kids.size()))


def test_bbox_flag_is_one_flat_case(points):
    out = flag_regions_bbox(points, BOXES, xyz=XYZ)
    flag = out._jdf.queryExecution().analyzed().projectList().last().child()
    assert flag.getClass().getSimpleName() == "CaseWhen"
    assert flag.branches().size() == len(BOXES)
    assert _count_nodes(flag, "CaseWhen") == 1
