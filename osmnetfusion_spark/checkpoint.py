"""Stage snapshots, resume, per-file lineage, metrics log.

The reference pipeline communicates between stages ONLY through files
(gpkg/json/csv paths, configFile.py:52, 113-155; README.md:66 notes p3 can
run standalone from p2's output). That file contract becomes *table
snapshots* here: every stage writes its output table + a manifest entry;
a restarted run skips stages whose snapshot is already committed.

Storage: one parquet directory per stage under the warehouse. A stage is
written to ``<stage>.inprogress`` and renamed into place, then recorded in
``_MANIFEST.json``, which is itself committed atomically (write a temp
file, ``os.replace``). A stage counts as done only when its manifest
entry and its ``_SUCCESS`` marker exist and the row total of its part-file
footers equals the manifest's ``rows``: a missing, truncated or unreadable
part file makes the stage run again.

A durable stage runs only its write's Spark jobs. Its schema, row count
and lineage come from the parquet footers (:func:`_footers`), read on the
driver: per written part file we record (file, rows, min/max of the stage
key) into `<warehouse>/_lineage/<stage>.json`; metrics (rows, wall
seconds) append to `<warehouse>/_metrics.jsonl`.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: footer key under which Spark stores the written schema in every part file
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


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


def _key_range(md: pq.FileMetaData, key: str) -> tuple:
    """(min, max) of leaf column ``key`` over the row-group statistics."""
    stats = [
        md.row_group(g).column(j).statistics
        for j in range(md.num_columns) if md.schema.column(j).path == key
        for g in range(md.num_row_groups)
    ]
    stats = [st for st in stats if st is not None and st.has_min_max]
    if not stats:
        return None, None
    return min(st.min for st in stats), max(st.max for st in stats)


def _footers(path: str, key: str | None = None) -> tuple[StructType, list[dict]]:
    """Spark schema and per-file ``{file, rows, key_min, key_max}`` of the
    parquet directory ``path``, read from its part-file footers (one
    ``read_metadata`` per file, no Spark job).

    Raises ``OSError`` when the directory or every part file is missing and
    ``ValueError`` (``pyarrow.lib.ArrowInvalid``) when a footer is unreadable.
    """
    schema, files = None, []
    for fn in sorted(f for f in os.listdir(path) if f.startswith("part-")):
        md = pq.read_metadata(os.path.join(path, fn))
        if schema is None:
            schema = StructType.fromJson(json.loads(md.metadata[_SPARK_SCHEMA_KEY]))
        rec = {"file": fn, "rows": md.num_rows}
        if key is not None:
            rec["key_min"], rec["key_max"] = _key_range(md, key)
        files.append(rec)
    if schema is None:
        raise FileNotFoundError(f"no parquet part file under {path}")
    return schema, files


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
        path = os.path.join(self.warehouse, stage)
        if not ent or not os.path.exists(os.path.join(path, "_SUCCESS")):
            return False
        try:
            _, files = _footers(path)
        except (OSError, ValueError):
            return False
        return sum(f["rows"] for f in files) == ent["rows"]

    def load(self, stage: str) -> DataFrame:
        path = os.path.join(self.warehouse, stage)
        return self.spark.read.schema(_footers(path)[0]).parquet(path)

    def stage(self, name: str, df_fn, lineage_key: str | None = None) -> DataFrame:
        """Run (or resume) a stage. ``df_fn`` is a zero-arg callable
        returning the stage's DataFrame -- lazily built only when the
        snapshot is missing, so resumed runs skip the upstream plan
        entirely. A fresh stage runs only its write's Spark jobs; the
        returned DataFrame reads the snapshot with its footer schema."""
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

        schema, lineage = _footers(path, lineage_key)
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
        return self.spark.read.schema(schema).parquet(path)
