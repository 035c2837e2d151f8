"""Pure-Python fold helpers for the grouped-map merge stages.

Steps 10/11 of the simplification (mergeNodes / mergeEdgesWithSameNodes,
reference ``p3_functions.py:654-790`` + the Node/Link/AnEdge/WalkEdge/
BicycleEdge/MotorizedEdge classes ``:1412-2152``) are order-sensitive
greedy folds over *small groups* (nodes of one cluster; parallel edges of
one node pair). The reference's own ``mp.Pool`` partitioning by uv-pair
(``p3_functions.py:913-922``) proves the group is the correct shuffle key;
in Spark each group is folded by ``groupedmap.grouped_map_batched`` with
the helpers below, which reimplement the reference's value semantics
exactly (verified against the same truth tables as :mod:`.tags`).
"""

from __future__ import annotations

import ast
import math
import re

import numpy as np

_NONWORD_RE = re.compile(r"[^\w,]")


def _is_missing(a) -> bool:
    if a is None:
        return True
    if isinstance(a, float) and math.isnan(a):
        return True
    return False


def listify_py(values, as_int: bool = False):
    """Reference ``listify`` (p3_functions.py:1188-1219): flatten, strip
    non-word chars, comma-split, dedupe, sort."""
    out = []
    seen = []
    for a in values:
        if isinstance(a, (list, np.ndarray)):
            for b in a:
                if b not in seen:
                    seen.append(b)
        elif a not in seen:
            seen.append(a)
    out = []
    for a in seen:
        if _is_missing(a) or (isinstance(a, str) and a == ""):
            continue
        if isinstance(a, (int, float, np.integer, np.floating)):
            out.append(a)
        elif isinstance(a, str):
            toks = _NONWORD_RE.sub("", a).split(",")
            out.extend(t for t in toks if t != "")
        else:
            out.append(a)
    if not out:
        return []
    if as_int:
        out = [int(float(a)) for a in out]
    # type-aware key: identical order to plain sorted() on homogeneous
    # inputs (every reference-reachable case -- the reference itself would
    # raise on mixed types); numbers-then-strings keeps degenerate mixed
    # inputs deterministic instead of crashing the executor
    return sorted(set(out), key=lambda x: (isinstance(x, str), x))


def weighted_vals_py(vals, lengths):
    """Reference ``getLanes`` (p3_functions.py:1917-1947): parse messy
    numeric strings ("['30', '50']" -> mean of sublist), weight by length."""
    xs, ws = [], []
    for a, w in zip(list(vals), list(lengths)):
        if _is_missing(a) or a == "":
            continue
        if isinstance(a, (int, float, np.integer, np.floating)):
            xs.append(float(a))
        elif isinstance(a, str) and a.startswith("["):
            toks = a[2:-2].split("', '")
            xs.append(float(np.mean([float(b) for b in toks])))
        else:
            xs.append(float(a))
        ws.append(float(w) if not _is_missing(w) else 0.0)
    if not xs:
        return None
    if len(xs) == 1:
        return xs[0]
    return float(np.average(xs, weights=ws)) if np.sum(ws) > 0 else float(np.mean(xs))


def get_param_py(vals):
    """Reference ``getParam`` (p3_functions.py:1692-1713): unique non-null
    values minus ''; None when empty."""
    seen = []
    for a in vals:
        if _is_missing(a):
            continue
        if isinstance(a, (list, np.ndarray)):
            cand = list(a)
        else:
            cand = [a]
        for b in cand:
            if not _is_missing(b) and b not in seen:
                seen.append(b)
    seen = [a for a in seen if a != ""]
    return seen if seen else None


def is_lit_py(vals) -> bool:
    lv = listify_py(vals)
    return bool(lv) and (("yes" in lv) or ("247" in lv) or ("24/7" in lv))


def mean_py(vals):
    xs = [float(a) for a in vals if not _is_missing(a)]
    return float(np.mean(xs)) if xs else None


def _norm_old_osmid_one(x):
    if isinstance(x, str) and x.startswith("["):
        try:
            x = ast.literal_eval(x)
        except (ValueError, SyntaxError):
            pass
    if isinstance(x, (list, np.ndarray)):
        return list(x)
    if _is_missing(x):
        return []
    return [x]


def norm_old_osmid_list(vals) -> list:
    """Reference old_osmid prep (p3_functions.py:1584-1585): parse
    "[...]"-strings, wrap scalars into lists, NaN -> []."""
    return [_norm_old_osmid_one(x) for x in vals]


# ----------------------------------------------------------- mode access


WALK_HW_STRICT = ["path", "footway", "pedestrian", "steps", "bridleway", "track"]
WALK_HW_ALL = WALK_HW_STRICT + ["residential", "tertiary", "agricultural", "service", "tertiary_link"]
BIKE_HW_STRICT = ["cycleway"]
BIKE_HW_ALL = BIKE_HW_STRICT + [
    "residential", "tertiary", "secondary", "agricultural", "service",
    "tertiary_link", "secondary_link",
]
BIKE_TAG_COLS = [
    "bicycle_road", "oneway:bicycle", "cycleway:both", "cycleway:right",
    "cycleway:left", "cycleway:right:lane", "ramp:bicycle",
]
NON_MOTORIZED_HW = ["path", "footway", "pedestrian", "steps", "bridleway", "cycleway", "track"]


def _uniq(series) -> list:
    """Pure-Python twin of ``pd.Series(...).explode().unique()`` -- the
    groups here are 2-5 rows, where building a Series costs 50x the scan.
    Matches explode semantics: list values flatten, an EMPTY list yields
    one NaN, NaN dedupes to a single entry, first-occurrence order."""
    vals = series.tolist() if hasattr(series, "tolist") else list(series)
    seen: list = []
    keys: set = set()
    for a in vals:
        if isinstance(a, np.ndarray):
            sub = a.tolist() or [float("nan")]
        elif isinstance(a, (list, tuple)):
            sub = list(a) or [float("nan")]
        else:
            sub = (a,)
        for b in sub:
            k = "__nan__" if (isinstance(b, float) and b != b) else b
            if k not in keys:
                keys.add(k)
                seen.append(b)
    return seen


# ------------------------------------------------ array-view (cv) helpers
# At 30k+ groups, per-group Series/DataFrame boxing dominated the merge
# stage (~19 ms per 2-row group, guide §4.2). The `_cv` helpers below
# implement the reference's value semantics over a lightweight
# `groupedmap.GroupView` whose .col(name) returns a plain numpy slice.
# Every pandas construct of the reference is mirrored explicitly:
# - Series.isin(vals)        -> _isin (set membership; NaN never matches)
# - object-Series ==/!= x    -> numpy elementwise compare (None != '' is
#                               True in both, NaN != NaN is True in both)
# - float-Series <= x        -> numpy compare (NaN -> False in both)
# - Series.max() skipna      -> _nanmax
# Their pandas twins live in tests/_twins.py; test_merge_cv_equivalence
# pins cv == pandas on the same groups.


def _isin(arr, values) -> np.ndarray:
    vs = set(values)
    return np.fromiter((x in vs for x in arr), dtype=bool, count=len(arr))


def _nanmax(arr):
    xs = [float(a) for a in arr if not _is_missing(a)]
    return max(xs) if xs else float("nan")


def _bike_tag_any_cv(cv) -> bool:
    for c in BIKE_TAG_COLS:
        if not cv.has(c):
            continue
        for x in _uniq(cv.col(c)):
            if (x is not None) and (x == x) and str(x) not in ["no", ""]:
                return True
    return False


def access_walk_cv(cv) -> bool:
    hw = _uniq(cv.col("highway"))
    if any(x in WALK_HW_ALL for x in hw):
        return True
    if any(x in ["designated", "yes"] for x in _uniq(cv.col("foot"))):
        return True
    if any(
        (x is not None) and (x == x) and x <= 50 for x in _uniq(cv.col("maxspeed"))
    ):
        return True
    if any(
        x not in ["no", ""]
        for x in _uniq(cv.col("sidewalk"))
        if (x is not None) and (x == x)
    ):
        return True
    return False


def access_bike_cv(cv) -> bool:
    hw = _uniq(cv.col("highway"))
    bic = _uniq(cv.col("bicycle"))
    access = False
    if (
        any(x in BIKE_HW_ALL for x in hw)
        or any(x in ["yes", "designated"] for x in bic)
        or _bike_tag_any_cv(cv)
    ):
        access = True
    if all(x == "no" for x in bic):
        access = False
    if any(
        str(x) != "" for x in _uniq(cv.col("cycleway")) if (x is not None) and (x == x)
    ):
        access = True
    return access


def access_motorized_cv(cv) -> bool:
    access = any(x not in NON_MOTORIZED_HW for x in _uniq(cv.col("highway")))
    ow = cv.col("oneway")
    if ((ow == True) | (ow == "True")).any():  # noqa: E712 - mirrors isin(["True", True])
        if cv.has("bike_access") and (cv.col("bike_access") == "bike_only").any():
            access = False
    return access


def walk_mask_cv(cv) -> np.ndarray:
    hw_arr = cv.col("highway")
    hw = _uniq(hw_arr)
    if any(x in WALK_HW_STRICT for x in hw):
        return _isin(hw_arr, WALK_HW_STRICT)
    if any(x == "designated" for x in _uniq(cv.col("foot"))):
        return _isin(cv.col("foot"), ["designated", "yes"])
    if any(x in WALK_HW_ALL for x in hw):
        return _isin(hw_arr, WALK_HW_ALL)
    ms = cv.col("maxspeed")
    with np.errstate(invalid="ignore"):
        ms_ok = ms.astype(float) <= 30
    return ms_ok | ~_isin(cv.col("sidewalk"), ["no", ""])


def bike_mask_cv(cv) -> np.ndarray:
    hw_arr = cv.col("highway")
    hw = _uniq(hw_arr)
    bic = cv.col("bicycle")
    if any(x in BIKE_HW_STRICT for x in hw) or any(
        x in ["yes", "designated"] for x in _uniq(bic)
    ):
        return _isin(hw_arr, BIKE_HW_STRICT) | (bic == "yes") | (bic == "designated")
    cond0 = any(x in BIKE_HW_ALL for x in hw)
    cond3 = any(
        str(x) != "" for x in _uniq(cv.col("cycleway")) if (x is not None) and (x == x)
    )
    if cond0 or _bike_tag_any_cv(cv) or cond3:
        return _isin(hw_arr, BIKE_HW_ALL) | (cv.col("cycleway") != "")
    return np.zeros(len(cv), dtype=bool)


def motorized_mask_cv(cv) -> np.ndarray:
    hw_arr = cv.col("highway")
    if any(x not in NON_MOTORIZED_HW for x in _uniq(hw_arr)):
        return ~_isin(hw_arr, NON_MOTORIZED_HW)
    return np.ones(len(cv), dtype=bool)


_BIKE_ATTR_RANK = ["no", "track", "lane", "advisory", "exclusive.", "exclusive"]


def _get_bike_attr_cv(cv, tag: str, prefix: str) -> list:
    """BicycleEdge.getBikeAttr, p3_functions.py:1988-1998."""
    if not cv.has(tag):
        return []
    attr = [
        x
        for x in cv.col(tag)
        if (x not in ["", "pictogram"]) and (x is not None) and (x == x)
    ]
    if ("no" in attr) and len(attr) > 1:
        attr.remove("no")
    for i, a in enumerate(attr):
        if isinstance(a, list):
            attr[i] = sorted(
                a, key=lambda x: _BIKE_ATTR_RANK.index(x) if x in _BIKE_ATTR_RANK else 0
            )[-1]
    return [f"{prefix}{x}" for x in attr]


def cycleway_attributes_cv(cv) -> list:
    """BicycleEdge attribute precedence fold, p3_functions.py:1999-2021:
    left/right lane tags beat side tags beat plain cycleway/both."""
    attr1 = _get_bike_attr_cv(cv, "cycleway:left:lane", "left_lane_")
    attr2 = _get_bike_attr_cv(cv, "cycleway:right:lane", "right_lane_")
    attr3, attr4, attr5 = [], [], []
    if len(attr1) == 0:
        attr3 = _get_bike_attr_cv(cv, "cycleway:left", "left_")
    if len(attr2) == 0:
        attr4 = _get_bike_attr_cv(cv, "cycleway:right", "right_")
    if ((len(attr1) == 0) and (len(attr3) == 0)) or (
        (len(attr2) == 0) and (len(attr4) == 0)
    ):
        attr5 = _get_bike_attr_cv(cv, "cycleway", "")
        attr5 += _get_bike_attr_cv(cv, "cycleway:both", "")
        if ("no" in attr5) and len(attr5) > 1:
            attr5.remove("no")
    flat = []
    for sub in (attr1, attr2, attr3, attr4, attr5):
        for a in sub:
            if isinstance(a, list):
                flat.extend(a)
            else:
                flat.append(a)
    return sorted(set(flat))


def parking_cv(cv) -> tuple[list, list]:
    bad = ["no", "no_stopping", "fire_lane", ""]

    def vals(col):
        if not cv.has(col):
            return []
        return [
            a
            for a in _uniq(cv.col(col))
            if (a not in bad) and (a is not None) and (a == a)
        ]

    left = vals("parking:lane:left") + vals("parking:lane:both")
    right = vals("parking:lane:right") + vals("parking:lane:both")
    return sorted(set(left)), sorted(set(right))
