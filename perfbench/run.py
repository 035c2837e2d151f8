"""Benchmark of the osmnetfusion_spark engine on seeded synthetic inputs.

    python3 perfbench/run.py --workload pages_snap --seed 42 --seconds 10 --trace 0

Run from the root of a checkout. It starts one local Spark session on every
core, builds the workload's inputs from ``--seed``, then runs passes in a
closed loop (one pass after another, at least one) until ``--seconds`` have
passed, checking every pass's outputs. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the ``end_to_end`` ones named in
BENCHMARK.json, with ``--trace 1`` the ``per_layer`` ones, taken from one
extra traced pass after the untraced ones. All files it writes go under
``.bench_build/perfbench`` in the checkout. See README.md in this directory.
"""

import time

T0 = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

#: Input sizes per workload; see README.md for how they were chosen.
SIZES = {
    "pages_snap": {"pages": 300_000, "city_scale": 4},
    "durable_resume": {"city_scale": 2},
    "city_simplify": {"city_scale": 8},
}
#: Deployment settings that fit a 4-core, 15 GiB host; the package's
#: defaults (8g heap plus off-heap at 40% of RAM) over-commit it.
MEMORY_ENV = {"SPARK_GRAFT_DRIVER_MEM": "3g", "SPARK_GRAFT_OFFHEAP": "2g"}

#: per_layer metric -> traced span name, summed wall time of those spans
INCLUSIVE = {
    "pages.dedupe_s": "pages.dedupe_latest",
    "pages.asof_s": "pages.attach_license_asof",
    "pages.extract_s": "pages.extract_text",
    "pages.snap_s": "pages.snap_pages_to_edges",
    "spatial.explode_s": "spatial.explode_segments",
}
#: per_layer metric -> traced span name, summed self time of those spans
SELF = {"checkpoint.write_s": "checkpoint.write", "checkpoint.read_s": "checkpoint.read"}
#: per_layer metric -> key of run_simplification's own ``metrics`` dict
LAPS = {
    "simplify.step1_s": "t_step1",
    "simplify.step5_s": "t_step5",
    "simplify.step6_s": "t_step6",
    "simplify.step7_s": "t_step7",
    "simplify.step8_s": "t_step8",
    "merge.step10_s": "t_step10",
    "merge.step11_13_s": "t_step11_13",
    "simplify.clusters_pass1": "step5_clusters",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment() -> int:
    """Point the package, Spark and its Python workers at this checkout.
    Returns the core count."""
    if not os.path.isfile(os.path.join(ROOT, "osmnetfusion_spark", "__init__.py")):
        raise SystemExit(f"perfbench: no osmnetfusion_spark package under {ROOT}")
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for k, v in MEMORY_ENV.items():
        os.environ.setdefault(k, v)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
    })
    return cpus


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue
        todo.extend(children.get(pid, []))
    return total


class RssSampler(threading.Thread):
    """Samples the resident memory of the JVM and its Python workers."""

    def __init__(self, jvm_pid: int, interval: float = 0.5):
        super().__init__(daemon=True)
        self.jvm_pid, self.interval = jvm_pid, interval
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self):
        while not self._stop_event.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.jvm_pid))
            self._stop_event.wait(self.interval)

    def stop(self) -> float:
        self._stop_event.set()
        self.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(self.jvm_pid))
        return self.peak / float(1 << 20)


def start_session(cpus: int):
    from osmnetfusion_spark.session import get_session

    spark = get_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, cpus: int) -> None:
    """Start the Python workers and JIT the common operators once."""
    from pyspark.sql import functions as F

    df = spark.range(0, 1 << 16, 1, cpus).mapInPandas(lambda it: it, "id long")
    df.groupBy((F.col("id") % 97).alias("k")).count().collect()


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def measure(workload: str, seed: int, seconds: float, trace: bool, sizes: dict) -> dict:
    """Set up, run the closed loop and return the result object."""
    cpus = prepare_environment()
    import spans
    import workloads

    setup = {}
    t = time.perf_counter()
    spark = start_session(cpus)
    warm_up(spark, cpus)
    setup["session"] = (t, time.perf_counter())
    try:
        wl = workloads.WORKLOADS[workload](
            spark, seed, os.path.join(WORK, workload), **sizes
        )
        t = time.perf_counter()
        wl.build()
        setup["synth"] = (t, time.perf_counter())
        setup_s = setup["synth"][1] - T0
        wl.reference()

        sampler = RssSampler(spark._jvm.java.lang.ProcessHandle.current().pid())
        sampler.start()
        passes, failed = [], 0
        loop_start = time.perf_counter()
        while not passes or time.perf_counter() - loop_start < seconds:
            t = time.perf_counter()
            try:
                res = wl.run_pass()
                res.seconds = time.perf_counter() - t
            except Exception:
                traceback.print_exc()
                res = None
            if res is None or res.problems:
                failed += 1
                if res is not None:
                    print(f"{workload}: failed check: {res.problems}", file=sys.stderr)
            passes.append(res)
            if res is None and len(passes) >= 3:
                break
        peak_rss_mb = sampler.stop()
        good = [p for p in passes if p is not None and not p.problems]
        if not good:
            raise RuntimeError(f"{workload}: every pass failed")

        if not trace:
            metrics = {
                "setup_s": setup_s,
                "input_rows_per_s": statistics.median(p.input_rows / p.seconds for p in good),
                "peak_rss_mb": peak_rss_mb,
            }
        else:
            tracer = spans.Tracer(spark, f"{workload}-{seed}-{os.getpid()}")
            for name, (a, b) in (("session.start", setup["session"]), ("synth.generate", setup["synth"])):
                tracer.record(name, name.split(".")[0], a, b)
            laps: dict = {}
            with tracer.patched(), tracer.span("pass", "pass") as root:
                res = wl.run_pass(laps)
            passes.append(res)
            if res.problems:
                failed += 1
                print(f"{workload}: traced pass failed check: {res.problems}", file=sys.stderr)
            metrics = layer_metrics(
                tracer, root, res, laps, setup,
                statistics.median(p.seconds for p in good),
            )
            os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "trace", f"{tracer.run_id}.jsonl"))
    finally:
        stop_session(spark)
    return {"attempted": len(passes), "failed": failed, "metrics": metrics}


def layer_metrics(tracer, root, res, laps, setup, untraced_pass_s) -> dict:
    from spans import COUNTER_LAYERS, COUNTERS

    out: dict[str, float] = {}
    out["session.start_s"] = setup["session"][1] - setup["session"][0]
    out["synth.generate_s"] = setup["synth"][1] - setup["synth"][0]
    layer_self = tracer.layer_self_s(root)
    for layer in ("enrich", "simplify", "merge", "tiles"):
        out[f"{layer}.self_s"] = layer_self.get(layer, 0.0)
    for metric, name in INCLUSIVE.items():
        out[metric] = tracer.inclusive_s(root, name)
    for metric, name in SELF.items():
        out[metric] = sum(tracer.self_time(s) for s in tracer.subtree(root) if s["name"] == name)
    for metric, key in LAPS.items():
        out[metric] = float(laps.get(key, 0.0))
    counters = tracer.counters(root)
    for layer in COUNTER_LAYERS:
        for k in COUNTERS:
            out[f"{layer}.{k}"] = counters.get(layer, {}).get(k, 0.0)
    out["spatial.task_skew"] = tracer.task_skew(root, "pages.snap_pages_to_edges")
    for k in ("pages.unique_url_ratio", "spatial.snapped_share", "checkpoint.resume_s",
              "checkpoint.stored_bytes_per_input_byte", "checkpoint.stages_written",
              "checkpoint.stages_resumed", "checkpoint.bytes_written_mb"):
        out[k] = float(res.facts.get(k, 0.0))
    out["trace.overhead_s"] = (root["end"] - root["start"]) - untraced_pass_s
    out["trace.unaccounted_s"] = tracer.self_time(root)
    return out


def declared_metrics(trace: bool) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer" if trace else "end_to_end"]


def main(argv=None, sizes=None) -> dict:
    args = parse_args(argv)
    declared = declared_metrics(bool(args.trace))
    result = measure(
        args.workload, args.seed, args.seconds, bool(args.trace),
        sizes or SIZES[args.workload],
    )
    values = result["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    out = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared
        },
    }
    print(json.dumps(out), flush=True)
    return out


if __name__ == "__main__":
    main()
