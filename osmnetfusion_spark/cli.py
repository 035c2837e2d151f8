"""spark-submit entry point.

Launch shape on a real cluster (north rule) -- verified end-to-end in
this sandbox from a directory outside the repo (the package travels only
via the archive):

    python tools/make_pyfiles_zip.py                 # -> /tmp/onf_spark.zip
    spark-submit --master <cluster-manager> \\
        --py-files /tmp/onf_spark.zip \\
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \\
        tools/submit_main.py pipeline --scale 4 \\
        --warehouse /warehouse/onf --resume

Subcommands:
  pipeline  -- enrichment + simplification over the synthetic city, with
               per-stage snapshots (resume skips committed stages)
  snap      -- pages -> simplified-edge kNN snap -> tile assignments
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import functions as F

from . import synth
from .checkpoint import Snapshotter, code_fingerprint
from .operators import spatial
from .plans import pages as PG
from .plans import pipeline, tiles
from .session import get_session


def cmd_pipeline(args) -> None:
    spark = get_session(app_name="onf-pipeline", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    metrics: dict = {}
    city = synth.city_to_spark(spark, synth.synthetic_city(args.scale))
    if args.warehouse:
        # every stage boundary inside the pipeline is a durable snapshot;
        # --resume (the default behavior of Snapshotter) skips committed
        # stages, so a killed run restarts after its last commit
        snap = Snapshotter(
            spark, args.warehouse,
            config={"scale": args.scale, "code": code_fingerprint()},
            reuse_mismatched=args.resume,
        )
        nodes, edges = pipeline.run_full(spark, city, metrics, snap=snap)
    else:
        nodes, edges = pipeline.run_full(spark, city, metrics)
    print(json.dumps({"nodes": nodes.count(), "edges": edges.count(), "metrics": metrics}))


def cmd_snap(args) -> None:
    spark = get_session(app_name="onf-snap", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    city = synth.city_to_spark(spark, synth.synthetic_city(args.scale))
    _, edges = pipeline.run_full(spark, city)
    segs = spatial.explode_segments(
        edges.select(F.col("g_id").alias("edge_id"), F.col("g_geo_rea").alias("geometry"))
    ).select("edge_id", "seg_idx", "ax", "ay", "bx", "by")
    pg = PG.dedupe_latest(synth.pages(spark, args.pages, city_scale=args.scale))
    t0 = time.time()
    snap = PG.snap_pages_to_edges(pg, segs, radius_m=args.radius)
    ted = tiles.tile_edge_density(snap, pg, segs)
    n = ted.count()
    print(json.dumps({"tile_edge_rows": n, "sec": round(time.time() - t0, 2)}))


def main(argv=None) -> None:
    p = argparse.ArgumentParser(prog="osmnetfusion-spark")
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser("pipeline")
    pp.add_argument("--scale", type=int, default=1)
    pp.add_argument(
        "--warehouse", default=None,
        help="durable stage snapshots; committed stages always resume -- "
        "point at a fresh dir for a from-scratch run",
    )
    pp.add_argument("--resume", action="store_true",
                    help="resume is implied by --warehouse when the run config "
                    "(scale, code hash) matches the manifest; pass --resume to "
                    "reuse a MISMATCHED warehouse's snapshots anyway")
    pp.set_defaults(fn=cmd_pipeline)

    ps = sub.add_parser("snap")
    ps.add_argument("--scale", type=int, default=1)
    ps.add_argument("--pages", type=int, default=10_000)
    ps.add_argument("--radius", type=float, default=200.0)
    ps.set_defaults(fn=cmd_snap)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
