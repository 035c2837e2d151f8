"""Pin the array-view uv-merge fold to the original pandas fold.

`merge._fold_group_arrays` / `_an_edge_cv`, run by
`groupedmap.fold_bodies`, replaced the per-group pandas fold
(`fold_uv_group_pandas` / `an_edge_pandas`, kept as the reference twin in
tests/_twins.py) for speed; every row Spark stores from it must be
identical. The crafted groups below force the exotic
branches the synthetic city rarely hits: cycleway lane attributes, parking
lanes, width_cycle_path weighting, bike-only oneway motorized loss,
all-None columns, NaN bearings, self-loop partner drops, and the
no-eligible-partner (no output) case.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
import pytest

from _twins import fold_uv_group_pandas
from osmnetfusion_spark.operators.groupedmap import GroupView, fold_bodies
from osmnetfusion_spark.plans import merge

COLS = [f.split(" ")[0].strip("`") for f in merge.EDGE_OUT_SCHEMA.split(", ")]

BASE = dict(
    old_osmid=1, old_u=1, old_v=2, highway="residential", oneway=False,
    maxspeed=30.0, lanes=2.0, width=np.nan, bicycle=None, foot=None,
    sidewalk=None, segregated=None, surface=None, smoothness=None, lit="yes",
    incline=None, crossing=None, cycleway=None, bicycle_road=None,
    parking_lane_left=None, length=10.0, green_ratio=0.1, retail_ratio=0.0,
    building_ratio=0.0, bike_access="yes", cycleway_category=None,
    height_difference=1.0, gradient=0.01, severity=0.1,
    width_cycle_path=np.nan, amenity_nearby=None, amenity_on=None,
    pt_stop_on=0, pt_stop_routes=None,
)
GEOM = [np.array([11.5, 48.1]), np.array([11.6, 48.2])]


def _row(osmid, ku, kv, rank, bearing, **over):
    r = dict(BASE)
    r.update(
        osmid=osmid, __ku=ku, __kv=kv, new_u=ku, new_v=kv,
        highway_rank=rank, bearing=bearing,
        geometry=GEOM, geom_linear=GEOM, geom_reassigned=GEOM,
    )
    r.update(over)
    return r


def _crafted() -> pd.DataFrame:
    rows = [
        # plain 2-row group, opposite bearings -> split directions
        _row(1, 10, 11, 9.0, 10.0),
        _row(2, 10, 11, 8.0, -170.0, highway="cycleway", bicycle="designated"),
        # single-row group (bearing recomputed from geom_linear)
        _row(3, 12, 13, 7.0, np.nan, **{"cycleway:left:lane": "advisory"}),
        # group with a self-loop partner (dropped) + eligible partner
        _row(4, 14, 15, 6.0, 20.0, **{"parking:lane:left": "parallel"}),
        _row(5, 14, 15, 6.5, 25.0),
        dict(
            _row(6, 14, 15, 5.0, 30.0), new_u=14, new_v=14
        ),  # self-loop: state 'r'
        # group whose partner fails the length ratio -> representative
        # emits no link, leftover partner becomes its own representative
        _row(7, 16, 17, 9.0, 40.0, length=100.0),
        _row(8, 16, 17, 3.0, 41.0, length=10.0),
        # bike-only oneway motorized loss + width_cycle_path weighting
        _row(
            9, 18, 19, 4.0, 50.0, oneway=True, bike_access="bike_only",
            width_cycle_path=2.5, cycleway="lane", maxspeed=np.nan,
        ),
        _row(
            10, 18, 19, 4.5, 55.0, oneway=True, bike_access="bike_only",
            width_cycle_path=1.5, cycleway="track", surface="asphalt",
        ),
        # NaN bearings everywhere in a 2-row group
        _row(11, 20, 21, 2.0, np.nan, foot="designated", sidewalk="both"),
        _row(12, 20, 21, 2.5, np.nan, foot="yes", maxspeed=20.0),
        # pt routes + amenity + parking both sides
        _row(
            13, 22, 23, 1.0, 60.0, pt_stop_on=3, pt_stop_routes="12,14",
            amenity_on="bicycle_parking", **{"parking:lane:both": "street_side"},
        ),
        _row(14, 22, 23, 1.5, 61.0, **{"oneway:bicycle": "yes", "cycleway:both": "lane"}),
    ]
    pdf = pd.DataFrame(rows)
    return pdf.sort_values(["__ku", "__kv"]).reset_index(drop=True)


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in ("g_geometry", "g_geo_lin", "g_geo_rea"):
        df[c] = df[c].map(
            lambda v: None
            if v is None or (isinstance(v, float) and v != v)
            else [tuple(np.asarray(p).tolist()) for p in v]
        )
    return df.sort_values(["__main_osmid", "g_reversed"]).reset_index(drop=True)


def _eq(a, b) -> bool:
    """Value equality where None == None and NaN == NaN, and a missing
    value must be missing in the same KIND (None or NaN) on both sides.
    This is stricter than the Arrow boundary, which stores both kinds as
    NULL in double, boolean and string columns
    (:func:`test_arrow_boundary_stores_none_and_nan_as_null`)."""
    a_miss = a is None or (isinstance(a, float) and a != a)
    b_miss = b is None or (isinstance(b, float) and b != b)
    if a_miss or b_miss:
        return (a is None) == (b is None) and a_miss == b_miss
    return a == b


def _stored(spark, chunks: list[pd.DataFrame]) -> list:
    """The rows Spark stores for a runner's output chunks: each chunk
    crosses the Arrow boundary through ``mapInPandas`` with the step-11
    schema, as in ``merge.merge_edges``; sorted by output key."""

    def emit(it):
        for _ in it:
            pass
        yield from chunks

    rows = spark.range(1, numPartitions=1).mapInPandas(emit, merge.EDGE_OUT_SCHEMA).collect()
    return sorted(rows, key=lambda r: (r["__main_osmid"], r["g_reversed"]))


def _run_pandas_batches(it):
    """The ORIGINAL runner protocol (operators.groupedmap.grouped_map_batched
    with the pandas fold): per-batch body groups concatenated together, the
    straddling tail group folded separately from the carry. The chunking
    must match the runner's exactly -- pandas concat dtype inference
    depends on which frames are concatenated together, and the Arrow
    boundary sees the chunks as produced."""
    carry = None
    for pdf in it:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        if not len(pdf):
            continue
        last_key = tuple(pdf.iloc[-1][k] for k in ("__ku", "__kv"))
        tail_mask = pd.Series(True, index=pdf.index)
        for k, v in zip(("__ku", "__kv"), last_key):
            tail_mask &= pdf[k].eq(v)
        first_tail = tail_mask.idxmax() if tail_mask.any() else len(pdf)
        carry = pdf.iloc[first_tail:]
        body = pdf.iloc[:first_tail]
        if len(body):
            outs = [
                fold_uv_group_pandas(g.reset_index(drop=True))
                for _, g in body.groupby(["__ku", "__kv"], sort=False)
            ]
            outs = [o for o in outs if o is not None and len(o)]
            if len(outs) == 1:
                yield outs[0]
            elif outs:
                yield pd.concat(outs, ignore_index=True)
    if carry is not None and len(carry):
        out = fold_uv_group_pandas(carry.reset_index(drop=True))
        if out is not None and len(out):
            yield out


def _run_uv_batches(it):
    """Step 11's batch function: the grouped-fold runner's body over
    ``merge._fold_group_arrays``, as ``merge.merge_edges`` runs it."""
    return fold_bodies(it, merge._UV_KEYS, merge._fold_group_arrays, COLS)


def test_cv_fold_matches_pandas_fold(spark):
    """The array-view runner stores the same rows as the original
    per-group pandas runner. Compared after the Arrow boundary: the runner
    builds one frame per body, where a missing value may be NaN that the
    per-group frames held as None; Spark stores both as NULL."""
    pdf = _crafted()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", FutureWarning)
        old = _stored(spark, list(_run_pandas_batches(iter([pdf]))))
    new = _stored(spark, list(_run_uv_batches(iter([pdf]))))
    assert old and len(old) == len(new)
    assert list(old[0].asDict()) == list(new[0].asDict()) == COLS
    for c in COLS:
        o, n = [r[c] for r in old], [r[c] for r in new]
        assert o == n, f"column {c} differs: {o} vs {n}"


def test_arrow_boundary_stores_none_and_nan_as_null(spark):
    """``mapInPandas`` stores both None and NaN as NULL in double, boolean,
    string and long columns, whatever the pandas dtype holding them: the
    fact the Arrow-boundary comparison above rests on."""
    chunk = pd.DataFrame(
        {
            "d": pd.Series([None, np.nan, 1.5], dtype=object),
            "f": np.array([np.nan, np.nan, 2.0]),
            "b": pd.Series([None, np.nan, True], dtype=object),
            "s": pd.Series([None, np.nan, "x"], dtype=object),
            "l": pd.Series([None, np.nan, 3], dtype=object),
            "a": pd.Series([np.nan, np.nan, np.nan], dtype=object),
        }
    )

    def emit(it):
        for _ in it:
            pass
        yield chunk

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(emit, "d double, f double, b boolean, s string, l long, a boolean")
        .collect()
    )
    assert [tuple(r) for r in rows] == [
        (None, None, None, None, None, None),
        (None, None, None, None, None, None),
        (1.5, 2.0, True, "x", 3, None),
    ]


def test_cv_fold_carry_across_batches():
    pdf = _crafted()
    whole = pd.concat(list(_run_uv_batches(iter([pdf]))), ignore_index=True)
    # split mid-group: the carry protocol must reassemble the straddler
    cut = 4
    split = pd.concat(
        list(_run_uv_batches(iter([pdf.iloc[:cut], pdf.iloc[cut:]]))),
        ignore_index=True,
    )
    w, s = _norm(whole), _norm(split)
    for c in COLS:
        o, n = w[c].tolist(), s[c].tolist()
        # None-vs-NaN KIND may legitimately differ here: pandas concat
        # dtype inference depends on batch chunking (true of the original
        # runner too); only the VALUES must survive the carry reassembly
        assert all(
            _eq(a, b)
            or ((a is None or a != a) and (b is None or b != b))
            for a, b in zip(o, n)
        ), f"column {c} differs across batch split"


def test_cv_group_view_subset_semantics():
    d = {"x": np.array([1, 2, 3, 4]), "s": np.array(["a", None, "b", ""], dtype=object)}
    cv = GroupView(d, np.array([0, 2, 3]))
    assert list(cv.col("x")) == [1, 3, 4]
    sub = cv.sub(np.array([True, False, True]))
    assert list(sub.col("x")) == [1, 4]
    assert cv.has("s") and not cv.has("nope")
    with pytest.raises(KeyError):
        cv.col("nope")
