"""The benchmark's workloads: seeded inputs, one pass, output checks.

Each workload object has ``build()`` (generate and materialize the inputs),
``reference()``
(precompute what the checks compare against, untimed) and
``run_pass(metrics)`` (one closed-loop pass over the package's public
functions). A pass materializes its outputs by hashing them, which is also
what the checks compare. ``run_pass`` returns a :class:`PassResult`; a failed
check is recorded in ``problems`` and makes the pass count as failed.

See README.md in this directory for why each workload exists.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmnetfusion_spark import checkpoint, synth
from osmnetfusion_spark.operators import spatial
from osmnetfusion_spark.plans import pages as P
from osmnetfusion_spark.plans import pipeline, tiles

#: The seed that reproduces the package's own fixtures (synth.SEED).
DEFAULT_SEED = 42
SNAP_RADIUS_M = 200.0


@dataclass
class PassResult:
    input_rows: int
    seconds: float = 0.0
    problems: list[str] = field(default_factory=list)
    facts: dict[str, float] = field(default_factory=dict)


def digest(df: DataFrame) -> tuple[int, int]:
    """Order-independent (rows, sum of per-row xxhash64) of ``df``."""
    row = df.agg(
        F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
    ).collect()[0]
    return int(row[0]), int(row[1] or 0)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def seed_offsets(seed: int) -> tuple[int, int]:
    """(page id offset, hash salt offset) for ``seed``; both 0 at the default
    seed, so seed 42 reproduces ``synth.pages`` exactly."""
    k = (seed - DEFAULT_SEED) % (1 << 16)
    return k << 24, k * 1000


class _OffsetRange:
    """Session stand-in whose ``range`` starts at an id offset, so
    ``synth.pages`` (which takes no seed) draws a seed-specific id block."""

    def __init__(self, spark, offset: int):
        self._spark = spark
        self._offset = offset
        self.sparkContext = spark.sparkContext

    def range(self, start, end, step=1, numPartitions=None):
        return self._spark.range(start + self._offset, end + self._offset, step, numPartitions)


@contextlib.contextmanager
def _salted(salt_offset: int):
    orig = synth._lcg_col
    synth._lcg_col = lambda col, salt: orig(col, salt + salt_offset)
    try:
        yield
    finally:
        synth._lcg_col = orig


def seeded_pages(spark, seed: int, n: int, city_scale: int) -> DataFrame:
    id_offset, salt_offset = seed_offsets(seed)
    with _salted(salt_offset):
        return synth.pages(_OffsetRange(spark, id_offset), n, city_scale=city_scale)


def seeded_city(seed: int, scale: int) -> dict:
    synth.SEED = seed
    return synth.synthetic_city(scale)


class _Workload:
    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self._first = None

    def reference(self) -> None:
        """The checks compare passes with each other; nothing to precompute."""

    def _check_repeatable(self, res: PassResult, out) -> None:
        if self._first not in (None, out):
            res.problems.append(f"output {out} differs from the first pass {self._first}")
        self._first = self._first or out


class PagesSnap(_Workload):
    """dedupe -> licence as-of -> extract -> 200 m snap -> tile density."""

    name = "pages_snap"

    def __init__(self, spark, seed: int, work: str, pages: int, city_scale: int):
        super().__init__(spark, seed, work)
        self.n, self.scale = pages, city_scale

    def build(self) -> None:
        city = seeded_city(self.seed, self.scale)
        edges = self.spark.createDataFrame(city["edges"][["osmid", "geometry"]]).withColumnRenamed(
            "osmid", "edge_id"
        )
        raw = seeded_pages(self.spark, self.seed, self.n, self.scale)
        snaps = synth.license_snapshots(self.spark)
        self.edges, self.raw, self.snaps = (
            df.persist(StorageLevel.MEMORY_AND_DISK) for df in (edges, raw, snaps)
        )
        for df in (self.edges, self.raw, self.snaps):
            df.count()

    def reference(self) -> None:
        """The checks' reference: per-url sha256 of the latest raw crawl,
        computed apart from the package's dedupe."""
        latest = self.raw.groupBy("url").agg(F.max_by("text", "warc_ts").alias("text"))
        self.expected_text = digest(synth.text_sha256(latest))

    def run_pass(self, metrics: dict | None = None) -> PassResult:
        res = PassResult(input_rows=self.n)
        ex = P.extract_text(
            P.attach_license_asof(P.dedupe_latest(self.raw), self.snaps)
        ).persist(StorageLevel.MEMORY_AND_DISK)
        segs = spatial.explode_segments(self.edges).select(
            "edge_id", "seg_idx", "ax", "ay", "bx", "by"
        )
        try:
            got_text = digest(synth.text_sha256(ex, text="extracted_text"))
            snapped = P.snap_pages_to_edges(ex, segs, SNAP_RADIUS_M).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            srow = snapped.agg(F.count(F.lit(1)), F.max("dist_m")).collect()[0]
            tl = tiles.tile_edge_density(snapped, ex, segs)
            trow = tl.agg(
                F.sum("page_count"), F.sum(F.xxhash64(*tl.columns).cast("decimal(38,0)"))
            ).collect()[0]
            snapped.unpersist()
        finally:
            ex.unpersist()
        n_snapped, max_dist = int(srow[0]), srow[1]
        if got_text != self.expected_text:
            res.problems.append(f"extracted text digest {got_text} != latest crawl {self.expected_text}")
        if n_snapped == 0 or max_dist is None or max_dist > SNAP_RADIUS_M:
            res.problems.append(f"snap: {n_snapped} rows, max dist_m {max_dist}")
        if int(trow[0] or 0) != n_snapped:
            res.problems.append(f"tiles page_count sum {trow[0]} != snapped rows {n_snapped}")
        self._check_repeatable(res, (int(trow[0] or 0), int(trow[1] or 0)))
        res.facts = {
            "pages.unique_url_ratio": got_text[0] / self.n,
            "spatial.snapped_share": n_snapped / max(got_text[0], 1),
        }
        return res


class _CityWorkload(_Workload):
    """Shared set-up of the city workloads: the seeded synthetic city,
    written to parquet and read back, as a deployment reads its tables."""

    def __init__(self, spark, seed: int, work: str, city_scale: int):
        super().__init__(spark, seed, work)
        self.scale = city_scale

    def build(self) -> None:
        city = seeded_city(self.seed, self.scale)
        self.input_rows = len(city["edges"])
        root = os.path.join(self.work, "inputs")
        shutil.rmtree(root, ignore_errors=True)  # left by an earlier run
        self.tables = {}
        for name, df in synth.city_to_spark(self.spark, city).items():
            path = os.path.join(root, name)
            df.write.parquet(path)
            self.tables[name] = self.spark.read.parquet(path)
        self.input_bytes = dir_bytes(root)

class CitySimplify(_CityWorkload):
    """``run_full`` on the synthetic city, no durable stages."""

    name = "city_simplify"
    GOLDEN = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(synth.__file__))),
        "tests", "golden", "scale8_counts.json",
    )

    def run_pass(self, metrics: dict | None = None) -> PassResult:
        res = PassResult(input_rows=self.input_rows)
        nodes, edges = pipeline.run_full(self.spark, self.tables, metrics=metrics)
        out = (digest(nodes), digest(edges))
        self._check_repeatable(res, out)
        if self.seed == DEFAULT_SEED and self.scale == 8:
            with open(self.GOLDEN) as f:
                want = json.load(f)
            if (out[0][0], out[1][0]) != (want["nodes"], want["edges"]):
                res.problems.append(f"scale-8 counts {out[0][0]}/{out[1][0]} != golden {want}")
        return res


class DurableResume(_CityWorkload):
    """Durable ``run_full``, lose the stages committed after step 6, resume."""

    name = "durable_resume"

    def run_pass(self, metrics: dict | None = None) -> PassResult:
        res = PassResult(input_rows=self.input_rows)
        wh = os.path.join(self.work, "warehouse")
        shutil.rmtree(wh, ignore_errors=True)
        snap = checkpoint.Snapshotter(self.spark, wh, run_id="fresh")
        nodes, edges = pipeline.run_full(self.spark, self.tables, metrics=metrics, snap=snap)
        fresh = (digest(nodes), digest(edges))
        stored = dir_bytes(wh)

        committed = sorted(snap.manifest["stages"].items(), key=lambda kv: kv[1]["committed_at"])
        names = [n for n, _ in committed]
        last_s6 = max(i for i, n in enumerate(names) if n.startswith("p3_s6"))
        lost = names[last_s6 + 1:]
        for name in lost:
            shutil.rmtree(os.path.join(wh, name))

        t0 = time.perf_counter()
        snap = checkpoint.Snapshotter(self.spark, wh, run_id="resume")
        nodes, edges = pipeline.run_full(self.spark, self.tables, snap=snap)
        resumed = (digest(nodes), digest(edges))
        resume_s = time.perf_counter() - t0

        if not lost:
            res.problems.append("no stage was committed after step 6")
        if resumed != fresh:
            res.problems.append(f"resumed output {resumed} != fresh output {fresh}")
        self._check_repeatable(res, fresh)
        with open(snap.metrics_path) as f:
            log = [json.loads(line) for line in f]
        res.facts = {
            "checkpoint.resume_s": resume_s,
            "checkpoint.stored_bytes_per_input_byte": stored / self.input_bytes,
            "checkpoint.stages_written": sum(not r["resumed"] for r in log),
            "checkpoint.stages_resumed": sum(bool(r["resumed"]) for r in log),
            "checkpoint.bytes_written_mb": (
                stored + sum(dir_bytes(os.path.join(wh, n)) for n in lost)
            ) / float(1 << 20),
        }
        return res


WORKLOADS = {w.name: w for w in (PagesSnap, DurableResume, CitySimplify)}
