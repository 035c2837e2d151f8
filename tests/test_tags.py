"""Truth-table tests for the tag algebra (clean / listify / folds).

Expected values were captured by executing the reference implementation
(`p3_functions.py:1083-1162` clean, `:1188-1219` listify) on these exact
inputs; the tables below are the ground truth our Spark reimplementation
must reproduce.
"""

import math

import pytest
from pyspark.sql import functions as F

from osmnetfusion_spark.functions import tags

CLEAN_FLOAT_TABLE = [
    # (input, keep, expected)  -- None == reference nan
    ("", "all", None),
    ("30", "all", 30.0),
    ("['30', '50']", "all", [30.0, 50.0]),
    ("['30', '50']", "max", 50.0),
    ("['30', '50']", "min", 30.0),
    ("['30', '50']", "mean", 40.0),
    ("'50'", "all", 50.0),
    ("1.35;3.6", "all", None),
    ("asphalt", "all", None),
    ("[1, 2]", "all", [1.0, 2.0]),
    ("[1, 2]", "mean", 1.5),
    ("['a', 'b']", "all", None),
    ("3.5", "all", 3.5),
    ("0", "all", 0.0),
    ("none", "all", None),
    ("30 mph", "all", None),
    (["30", "50"], "max", 50.0),
    (["1.5", "x"], "all", 1.5),
    (1, "all", 1.0),
    (2.5, "all", 2.5),
    (None, "all", None),
    # reference quirk (p3_functions.py:1123 `a[1:-1].isnumeric()` fires
    # BEFORE the float() fallback): plain integer strings of >= 3 digits
    # lose their first and last character -- '162' -> 6.0, '100' -> 0.0.
    # Faithfully reproduced; do NOT "fix" without breaking output parity.
    ("162", "all", 6.0),
    ("100", "all", 0.0),
    ("30", "all", 30.0),  # 2-digit: inner slice is '' -> float path
    ("1.5", "all", 1.5),  # decimal: inner contains '.' -> float path
]


@pytest.mark.parametrize("inp,keep,expected", CLEAN_FLOAT_TABLE)
def test_clean_float_scalar(inp, keep, expected):
    got = tags.clean_float(inp, keep=keep)
    if expected is None:
        assert got is None or (isinstance(got, float) and math.isnan(got))
    else:
        assert got == expected


def test_clean_float_col(spark):
    vals = ["", "30", "['30', '50']", "'50'", "1.35;3.6", "asphalt", "3.5", "30 mph"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    out = [
        r.c
        for r in df.select(tags.clean_float_col(F.col("v"), keep="max").alias("c"))
        .collect()
    ]
    assert out == [None, 30.0, 50.0, 50.0, None, None, 3.5, None]


LISTIFY_TABLE = [
    (["a,b", "b", "", None, "['c', 'd']"], ["a", "b", "c", "d"]),
    (["30", "50", "30"], ["30", "50"]),
    (["['597091', '7201564']", "7506250"], ["597091", "7201564", "7506250"]),
    (["left_no; right_lane_advisory", "left_no"],
     ["left_no", "left_noright_lane_advisory"]),
]


@pytest.mark.parametrize("inp,expected", LISTIFY_TABLE)
def test_listify_agg(spark, inp, expected):
    df = spark.createDataFrame([(v,) for v in inp], "v string")
    out = df.agg(tags.listify_agg(F.col("v")).alias("l")).collect()[0].l
    assert out == expected


def test_listify_agg_as_int(spark):
    df = spark.createDataFrame(
        [("['597091', '7201564']",), ("7506250",)], "v string"
    )
    out = df.agg(tags.listify_agg(F.col("v"), as_int=True).alias("l")).collect()[0].l
    assert out == [597091, 7201564, 7506250]


def test_py_list_string(spark):
    df = spark.createDataFrame([(["b", "a"],), ([],)], "v array<string>")
    out = [
        r.s
        for r in df.select(
            tags.py_list_string(F.array_sort("v"), quoted=True).alias("s")
        ).collect()
    ]
    assert out == ["['a', 'b']", "[]"]
    df2 = spark.createDataFrame([([1, 2],)], "v array<long>")
    assert df2.select(tags.py_list_string(F.col("v"), quoted=False).alias("s")).collect()[0].s == "[1, 2]"


# ------------------------------------------------------- mode access tables


def _grp(spark, rows):
    return spark.createDataFrame(
        rows,
        "highway string, foot string, maxspeed double, sidewalk string, "
        "bicycle string, cycleway string, bike_tag_any boolean, "
        "oneway boolean, bike_access string",
    )


WALK_TABLE = [
    ([("secondary", "", 60.0, "", "", "", False, False, "")], False),
    ([("residential", "", None, "", "", "", False, False, "")], True),
    ([("secondary", "designated", None, "", "", "", False, False, "")], True),
    ([("secondary", "", 30.0, "", "", "", False, False, "")], True),
    ([("secondary", "", None, "both", "", "", False, False, "")], True),
    ([("trunk", "no", 80.0, "no", "", "", False, False, "")], False),
]


@pytest.mark.parametrize("rows,expected", WALK_TABLE)
def test_walk_access(spark, rows, expected):
    got = (
        _grp(spark, rows)
        .agg(
            tags.walk_access_agg(
                F.col("highway"), F.col("foot"), F.col("maxspeed"), F.col("sidewalk")
            ).alias("a")
        )
        .collect()[0]
        .a
    )
    assert got == expected


BIKE_TABLE = [
    ([("primary", "", None, "", "", "", False, False, "")], False),
    ([("residential", "", None, "", "", "", False, False, "")], True),
    ([("primary", "", None, "", "yes", "", False, False, "")], True),
    ([("primary", "", None, "", "", "", True, False, "")], True),
    # all bicycle == 'no' overrides highway access
    ([("residential", "", None, "", "no", "", False, False, "")], False),
    # ...but any cycleway value wins back
    ([("residential", "", None, "", "no", "opposite", False, False, "")], True),
]


@pytest.mark.parametrize("rows,expected", BIKE_TABLE)
def test_bike_access(spark, rows, expected):
    got = (
        _grp(spark, rows)
        .agg(
            tags.bike_access_agg(
                F.col("highway"), F.col("bicycle"), F.col("cycleway"), F.col("bike_tag_any")
            ).alias("a")
        )
        .collect()[0]
        .a
    )
    assert got == expected


MOT_TABLE = [
    ([("footway", "", None, "", "", "", False, False, "")], False),
    ([("residential", "", None, "", "", "", False, False, "")], True),
    ([("residential", "", None, "", "", "", False, True, "bike_only")], False),
    ([("residential", "", None, "", "", "", False, False, "bike_only")], True),
]


@pytest.mark.parametrize("rows,expected", MOT_TABLE)
def test_motorized_access(spark, rows, expected):
    got = (
        _grp(spark, rows)
        .agg(
            tags.motorized_access_agg(
                F.col("highway"), F.col("oneway"), F.col("bike_access")
            ).alias("a")
        )
        .collect()[0]
        .a
    )
    assert got == expected
