"""Tag-value algebra: the reference's `clean` / `listify` / weighted folds.

OSM tag values arrive messy: ``'30'``, ``"['30', '50']"``, ``"'50'"``,
``'1.35;3.6'``, ``''``. The reference normalizes with ``clean()``
(``p3_functions.py:1083-1162``) and folds merged groups with ``listify()``
(``p3_functions.py:1188-1219``, flatten -> strip non-word-chars -> comma
split -> dedupe -> sort). Both are reimplemented here with identical value
semantics, verified by the unit truth tables in ``tests/test_tags.py``:

- :func:`clean_float` -- scalar Python twin (used in tests and inside
  grouped pandas UDFs)
- :func:`clean_float_col` -- Arrow-batched pandas UDF for columns
- :func:`listify_agg` -- the merged-tag-dictionary fold as a *pure Spark
  aggregate expression* (``array_sort(array_distinct(flatten(...)))``),
  which matches ``sorted(list(set(...)))`` exactly because both sorts are
  plain codepoint/numeric orders over ``\\w``-only strings
- :func:`py_list_string` -- canonical ``"['a', 'b']"`` serialization
  matching the reference's saved gpkg format (golden fixture parity)
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_NONWORD_RE = re.compile(r"[^\w,]")


# ------------------------------------------------------------ scalar `clean`


def _is_num_token(b: str) -> bool:
    # reference: b.replace(',','').replace('.','').isdigit()
    return b.replace(",", "").replace(".", "").isdigit()


def clean_float(a, keep: str = "all"):
    """Numeric normalization with the reference's exact grammar.

    '' / None -> None; "['30', '50']" -> [30.0, 50.0] reduced by ``keep``;
    "'50'" -> 50.0; '1.35;3.6' -> None (unparseable); lists reduce with
    min/mean/max; singletons collapse to scalars.
    """
    l: object = None
    if isinstance(a, list):
        vals = []
        for b in a:
            if isinstance(b, (int, float)) and not (isinstance(b, float) and math.isnan(b)):
                vals.append(float(b))
            elif isinstance(b, str) and _is_num_token(b):
                vals.append(float(b))
        l = vals
    elif a is None or (isinstance(a, float) and math.isnan(a)) or a == "":
        l = None
    elif isinstance(a, (int, float)):
        l = float(a)
    elif isinstance(a, str) and a.startswith("["):
        toks = a[1:-1].split(", ")
        toks = [t[1:-1] if t[:1] == "'" else t for t in toks]
        l = [float(t) for t in toks if t != "" and _is_num_token(t)]
    elif isinstance(a, str) and a[1:-1].isnumeric():
        l = float(a[1:-1])
    else:
        try:
            l = float(a)
        except (TypeError, ValueError):
            l = None

    if isinstance(l, list):
        if not l:
            l = None
        elif len(l) == 1:
            l = l[0]
    if keep != "all" and isinstance(l, list):
        if keep == "min":
            return min(l)
        if keep == "max":
            return max(l)
        if keep == "mean":
            return sum(l) / len(l)
    return l


def clean_float_col(col: Column, keep: str = "max") -> Column:
    """Arrow-batched `clean` over a string column -> double."""

    @pandas_udf("double")
    def _clean(s: pd.Series) -> pd.Series:
        return s.map(lambda a: clean_float(a, keep=keep)).astype("float64")

    return _clean(col)


# ------------------------------------------------------------- listify fold


def listify_tokens(col: Column) -> Column:
    """Per-row token array: strip ``[^\\w,]``, split on ',', drop ''."""
    return F.filter(
        F.split(F.regexp_replace(col.cast("string"), r"[^\w,]", ""), ","),
        lambda x: (x != "") & x.isNotNull(),
    )


def listify_agg(col: Column, as_int: bool = False) -> Column:
    """The merged-tag-dictionary fold as an aggregate expression.

    Equivalent to the reference's ``sorted(list(set(listify(series))))``:
    flatten -> distinct -> sort. ``as_int`` casts tokens to long first
    (numeric sort), matching ``listify(asInt=True)`` for osmid lists.
    """
    flat = F.flatten(F.collect_list(listify_tokens(col)))
    if as_int:
        flat = F.filter(
            F.transform(flat, lambda x: x.cast("long")), lambda x: x.isNotNull()
        )
    return F.array_sort(F.array_distinct(flat))


def py_list_string(arr: Column, quoted: bool = True) -> Column:
    """Serialize array -> the reference's saved-list format.

    ``['a','b'] -> "['a', 'b']"``; ``[1,2] -> "[1, 2]"``; empty -> "[]".
    Matches ``str(list)`` in Python for word-only strings / ints, which is
    what the reference writes into the gpkg (``p3_simplification.py:416``).
    """
    if quoted:
        body = F.concat(F.lit("['"), F.array_join(arr, "', '"), F.lit("']"))
    else:
        body = F.concat(F.lit("["), F.array_join(arr.cast("array<string>"), ", "), F.lit("]"))
    return F.when(F.size(arr) == 0, F.lit("[]")).otherwise(body)


# -------------------------------------------------------------- merge folds


def parking_union_agg(col: Column) -> Column:
    """A9: distinct parking values minus {no, no_stopping, fire_lane, ''}."""
    return F.array_sort(
        F.array_distinct(
            F.flatten(
                F.collect_list(
                    F.filter(
                        F.array(col.cast("string")),
                        lambda x: x.isNotNull()
                        & ~x.isin("no", "no_stopping", "fire_lane", ""),
                    )
                )
            )
        )
    )


# ------------------------------------------------- mode-access agg predicates

WALK_HIGHWAYS = [
    "path", "footway", "pedestrian", "steps", "bridleway", "track",
    "residential", "tertiary", "agricultural", "service", "tertiary_link",
]
BIKE_HIGHWAYS = [
    "cycleway", "residential", "tertiary", "secondary", "agricultural",
    "service", "tertiary_link", "secondary_link",
]
NON_MOTORIZED_HIGHWAYS = [
    "path", "footway", "pedestrian", "steps", "bridleway", "cycleway", "track",
]
BIKE_TAG_COLS = [
    "bicycle_road", "oneway:bicycle", "cycleway:both", "cycleway:right",
    "cycleway:left", "cycleway:right:lane", "ramp:bicycle",
]


def _any(cond: Column) -> Column:
    return F.coalesce(F.max(F.when(cond, True)), F.lit(False))


def walk_access_agg(highway: Column, foot: Column, maxspeed_f: Column, sidewalk: Column) -> Column:
    """checkModeAccess('walk') (``p3_functions.py:1639-1652``) as an agg:
    any walk highway, or foot in {designated,yes}, or maxspeed<=50, or a
    non-{'no',''} sidewalk value."""
    return (
        _any(highway.isin(WALK_HIGHWAYS))
        | _any(foot.isin("designated", "yes"))
        | _any(maxspeed_f <= 50)
        | _any(sidewalk.isNotNull() & ~sidewalk.isin("no", ""))
    )


def bike_access_agg(
    highway: Column, bicycle: Column, cycleway: Column, bike_tag_any: Column
) -> Column:
    """checkModeAccess('bike') (``p3_functions.py:1654-1680``) as an agg.

    ``bike_tag_any`` is a per-row precomputed boolean: any of
    :data:`BIKE_TAG_COLS` has a value not in {'no',''}. Precedence matters:
    (hw | bicycle-yes | tags) overridden to False when *all* bicycle values
    are 'no', overridden back to True when any cycleway value is non-empty.
    """
    cond0 = _any(highway.isin(BIKE_HIGHWAYS))
    cond1a = _any(bicycle.isin("yes", "designated"))
    # all() over the group's bicycle values ('' counts as a value, as in
    # pandas .unique() over a padded string column)
    cond1b = F.coalesce(F.min(F.when(bicycle == "no", True).otherwise(False)), F.lit(False))
    cond2 = _any(bike_tag_any)
    cond3 = _any(cycleway.isNotNull() & (cycleway != ""))
    base = cond0 | cond1a | cond2
    return (base & ~cond1b) | cond3


def motorized_access_agg(highway: Column, oneway: Column, bike_access_label: Column) -> Column:
    """checkModeAccess('motorized') (``p3_functions.py:1682-1690``):
    any non-{path,...,cycleway} highway; oneway groups that are
    'bike_only' lose access."""
    acc = _any(~highway.isin(NON_MOTORIZED_HIGHWAYS))
    oneway_any = _any(oneway.cast("string").isin("true", "True", "1"))
    bike_only = _any(bike_access_label == "bike_only")
    return F.when(oneway_any & bike_only, F.lit(False)).otherwise(acc)
