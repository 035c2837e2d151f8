"""SparkSession factory tuned for the engine.

Arrow on (all custom kernels are pandas/Arrow UDFs), AQE on with skew-join
handling (urban-core H3 cells are heavy hitters at web scale), small-file
coalescing on. ``shuffle_partitions`` defaults to the core count so local
runs do not pay 200-partition scheduling overhead; on a real cluster this
is set to ~2-3x total cores via ``--conf`` at spark-submit time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


CGROUP_MEMORY_MAX = "/sys/fs/cgroup/memory.max"


def _mem_total_gib() -> float:
    """Memory this process may use, in GiB: MemTotal, or the cgroup v2
    ``memory.max`` when that is set and lower (0 if unreadable)."""
    total = 0.0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total = int(line.split()[1]) / (1024 * 1024)
    except OSError:
        pass
    try:
        with open(CGROUP_MEMORY_MAX) as f:
            raw = f.read().strip()
        if raw.isdigit():
            cap = int(raw) / 1024**3
            total = min(total, cap) if total > 0 else cap
    except OSError:
        pass
    return total


def _default_memory() -> tuple[str, str]:
    """(driver heap, off-heap) sizes that fit the host: together at most
    half of :func:`_mem_total_gib`, split evenly, the heap capped at 8g
    and the off-heap at 48g (the sizes measured best on a 125 GiB host).
    8g each when the memory is unknown."""
    total = _mem_total_gib()
    if total <= 0:
        return "8g", "8g"
    budget = int(total * 1024) // 2  # MiB
    heap = min(8 * 1024, budget // 2)
    return f"{heap}m", f"{min(48 * 1024, budget - heap)}m"


def _default_local_dir() -> str:
    """tmpfs-backed shuffle dirs only when /dev/shm is actually large.

    RAM-backed local dirs keep shuffle IO off the VM's slow block storage,
    but on a host with a small /dev/shm they exhaust it mid-job -- fall
    back to disk below 16 GiB of tmpfs.
    """
    shm = "/dev/shm"
    if os.path.isdir(shm):
        try:
            st = os.statvfs(shm)
            if st.f_frsize * st.f_blocks >= 16 * 1024**3:
                return f"{shm}/spark-local"
        except OSError:
            pass
    return "/tmp"


def get_session(
    app_name: str = "osmnetfusion-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, and without that
    deployment override to ``local[<usable cores>]``, so a default run
    never starts more Python workers than the host has cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else str(os.cpu_count() or 8)
        shuffle_partitions = max(int(n), 8)
    heap, offheap = _default_memory()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # deterministic outputs: no speculative partial commits
        .config("spark.speculation", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # keep broadcast threshold generous: dim tables (ranks, clusters,
        # tile metadata) are tiny relative to the pages fact table
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # AQE rewrites a sort-merge join to shuffled-hash at runtime only
        # when every partition's build side is under this threshold
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m"
        )
        # local mode: the driver heap IS the executor heap. Measured on this
        # box (32 threads, fat binary rows): G1 on a 48g heap spent ~45% of
        # stage runtime in GC (110s GC / 252s run in one shuffle stage);
        # ParallelGC on 16g runs the same job 7x faster (80.7s -> 11.6s).
        # Throughput GC + modest heap is the right default for batch
        # analytics; override via SPARK_GRAFT_DRIVER_MEM for huge collects.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", heap))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        # Tungsten sort/agg/join buffers off-heap: on-heap execution memory
        # fills old-gen with multi-GB arrays that every full GC rescans
        # (measured 549s GC in one 795s stage). Off-heap keeps the GC'd heap
        # small and the sort path allocation-free -- same flags a production
        # cluster would set per-executor.
        .config("spark.memory.offHeap.enabled", "true")
        .config(
            "spark.memory.offHeap.size",
            os.environ.get("SPARK_GRAFT_OFFHEAP", offheap),
        )
        .config("spark.memory.fraction", "0.7")
        # shuffle spill on tmpfs: VM block storage does not scale with
        # cores; RAM-backed local dirs keep shuffle IO off the critical path
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", _default_local_dir()),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
