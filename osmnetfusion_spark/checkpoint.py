"""Stage snapshots, resume, per-partition lineage, metrics log.

The reference pipeline communicates between stages ONLY through files
(gpkg/json/csv paths, configFile.py:52, 113-155; README.md:66 notes p3 can
run standalone from p2's output). That file contract becomes *table
snapshots* here: every stage writes its output table + a manifest entry;
a restarted run skips stages whose snapshot is already committed.

Storage: one parquet directory per stage under the warehouse. A stage is
written to ``<stage>.inprogress`` and renamed into place, then recorded in
``_MANIFEST.json``, which is itself committed atomically (write a temp
file, ``os.replace``). A stage counts as done only when its manifest
entry and its ``_SUCCESS`` marker both exist.

Lineage: per output partition we record (partition_id, rows, min/max of
the stage key) into `<warehouse>/_lineage/<stage>.json`; metrics (rows in/
out, wall seconds) append to `<warehouse>/_metrics.jsonl`.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def code_fingerprint() -> str:
    """Content hash over this package's ``.py`` sources.

    Part of the warehouse run-config fingerprint: a warehouse written by a
    different code version must not silently serve its snapshots to a
    resumed run.
    """
    import hashlib

    root = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            full = os.path.join(dirpath, fn)
            h.update(os.path.relpath(full, root).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


class Snapshotter:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        run_id: str = "run",
        config: dict | None = None,
        reuse_mismatched: bool = False,
    ):
        """``config`` is the run's fingerprint (scale, code hash, ...).

        A warehouse whose manifest records a DIFFERENT config than this
        run's is stale: resuming it would silently serve snapshots from
        the old run (e.g. ``--scale 2`` against a scale-1 warehouse
        outputs scale-1 data). Default is warn-and-rebuild (committed
        stages are invalidated and re-run); ``reuse_mismatched=True``
        (cli ``--resume``) is the explicit opt-in to reuse them anyway.
        """
        self.spark = spark
        self.warehouse = warehouse
        self.run_id = run_id
        os.makedirs(warehouse, exist_ok=True)
        os.makedirs(os.path.join(warehouse, "_lineage"), exist_ok=True)
        self.manifest_path = os.path.join(warehouse, "_MANIFEST.json")
        self.metrics_path = os.path.join(warehouse, "_metrics.jsonl")
        self.manifest = self._load_manifest()
        if config is not None:
            prev = self.manifest.get("config")
            # A pre-config-era warehouse (no recorded config) with committed
            # stages is just as stale-prone as an explicit mismatch: we
            # cannot prove its snapshots match this run, so it takes the
            # same warn-and-rebuild path unless --resume opts in.
            if prev != config and self.manifest["stages"]:
                if reuse_mismatched:
                    print(
                        f"WARNING: reusing warehouse {warehouse} with "
                        f"mismatched config (manifest {prev} != run {config}) "
                        "because resume was explicitly requested",
                        file=sys.stderr,
                    )
                    # keep the manifest's config: it describes the data
                    # actually in the warehouse, not this run's request
                    config = prev
                else:
                    print(
                        f"WARNING: warehouse {warehouse} was written with "
                        f"config {prev}, this run is {config}; invalidating "
                        "its snapshots and rebuilding (pass --resume to "
                        "reuse them anyway)",
                        file=sys.stderr,
                    )
                    self.manifest = {"stages": {}}
            self.manifest["config"] = config
            self._commit_manifest()

    def _load_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"stages": {}}

    def _commit_manifest(self) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=1)
        os.replace(tmp, self.manifest_path)  # atomic snapshot commit

    def _log_metric(self, rec: dict) -> None:
        with open(self.metrics_path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def is_done(self, stage: str) -> bool:
        ent = self.manifest["stages"].get(stage)
        return bool(ent) and os.path.exists(
            os.path.join(self.warehouse, stage, "_SUCCESS")
        )

    def load(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.warehouse, stage))

    def stage(self, name: str, df_fn, lineage_key: str | None = None) -> DataFrame:
        """Run (or resume) a stage. ``df_fn`` is a zero-arg callable
        returning the stage's DataFrame -- lazily built only when the
        snapshot is missing, so resumed runs skip the upstream plan
        entirely."""
        if self.is_done(name):
            self._log_metric(
                {"run": self.run_id, "stage": name, "resumed": True, "ts": time.time()}
            )
            return self.load(name)
        t0 = time.time()
        df = df_fn()
        path = os.path.join(self.warehouse, name)
        tmp = path + ".inprogress"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.replace(tmp, path)
        out = self.load(name)

        # per-partition lineage
        lin_cols = [F.spark_partition_id().alias("partition_id")]
        agg = [F.count(F.lit(1)).alias("rows")]
        if lineage_key and lineage_key in out.columns:
            agg += [
                F.min(lineage_key).alias("key_min"),
                F.max(lineage_key).alias("key_max"),
            ]
        lineage = [r.asDict() for r in out.select(*lin_cols, "*").groupBy("partition_id").agg(*agg).collect()]
        with open(os.path.join(self.warehouse, "_lineage", f"{name}.json"), "w") as f:
            json.dump(lineage, f, default=str)

        n = sum(r["rows"] for r in lineage)
        self.manifest["stages"][name] = {
            "rows": n,
            "sec": round(time.time() - t0, 2),
            "committed_at": time.time(),
            "run": self.run_id,
        }
        self._commit_manifest()
        self._log_metric(
            {"run": self.run_id, "stage": name, "rows": n,
             "sec": round(time.time() - t0, 2), "resumed": False, "ts": time.time()}
        )
        return out
