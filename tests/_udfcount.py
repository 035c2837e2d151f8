"""Count the calls and output rows of the Python kernels a plan runs.

After :func:`udf_counts` (until the test ends), every function passed to
``DataFrame.mapInPandas``, ``DataFrame.mapInArrow`` or
``GroupedData.applyInPandas`` is wrapped with two accumulators: one call
per Python task (per group for ``applyInPandas``) and the rows the kernel
emits. Counts are keyed by the kernel's ``__name__`` (a
``grouped_map_batched`` kernel carries its fold's name)::

    counts = udf_counts(spark, monkeypatch)
    merge.merge_edges(edges).write.parquet(path)   # plan built after the call
    calls, rows = counts("_fold_group_arrays")

A kernel that runs twice per action (a plan re-executed by a second job)
shows twice the rows its output holds.
"""

from __future__ import annotations

import inspect
import sys

from pyspark import cloudpickle

# the wrappers run in the Python workers, where tests/ is not importable
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _nrows(out) -> int:
    return out.num_rows if hasattr(out, "num_rows") else len(out)


def udf_counts(spark, monkeypatch):
    sc = spark.sparkContext
    accs: dict[str, tuple] = {}

    def acc(name: str) -> tuple:
        if name not in accs:
            accs[name] = (sc.accumulator(0), sc.accumulator(0))
        return accs[name]

    def counted_map(func):
        calls, rows = acc(func.__name__)

        def counted(it):
            calls.add(1)
            for out in func(it):
                rows.add(_nrows(out))
                yield out

        return counted

    def counted_group(func):
        # applyInPandas picks the key-or-not form by arity, so the wrapper
        # keeps it; without type hints it is the frame-in, frame-out form
        calls, rows = acc(func.__name__)

        def count(out):
            calls.add(1)
            rows.add(_nrows(out))
            return out

        if len(inspect.getfullargspec(func).args) == 2:
            def counted(key, pdf):
                return count(func(key, pdf))
        else:
            def counted(pdf):
                return count(func(pdf))
        return counted

    # patch the classes the session hands out (the classic DataFrame
    # overrides the methods of its base class)
    df_cls = type(spark.range(0))
    gd_cls = type(spark.range(0).groupBy())
    patched = {
        (df_cls, "mapInPandas"): counted_map,
        (df_cls, "mapInArrow"): counted_map,
        (gd_cls, "applyInPandas"): counted_group,
    }

    def patch(orig, wrap):
        def method(self, func, *args, **kwargs):
            return orig(self, wrap(func), *args, **kwargs)

        return method

    for (cls, name), wrap in patched.items():
        monkeypatch.setattr(cls, name, patch(getattr(cls, name), wrap))
    return lambda name: tuple(a.value for a in acc(name))
