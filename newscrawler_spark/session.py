"""SparkSession factory for the engine.

Local-mode knobs are sized for the sandbox (local[N] threads, single JVM);
cluster deployment would drop the master/memory overrides and keep the SQL
conf — everything else (partition counts, AQE, Arrow) is cluster-relevant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# cgroup memory-limit files, v2 then v1; the first that exists decides.
# v2 reads "max" and v1 a value >= 2^60 when no limit is set.
CGROUP_MEMORY_LIMIT_FILES = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def default_cores() -> int:
    """$SPARK_GRAFT_CPUS (driver contract), else the CPUs this process
    may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _cgroup_memory_limit() -> int | None:
    """The cgroup memory limit in bytes, or None when none is set."""
    for path in CGROUP_MEMORY_LIMIT_FILES:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw == "max" or int(raw) >= 2**60:
            return None
        return int(raw)
    return None


def _mem_available() -> int | None:
    """MemAvailable in bytes, or None without /proc/meminfo."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def _mem_bytes(size: str) -> int:
    """Bytes in a heap size such as "4g" or "6000m"; a bare number is
    MiB, as spark.driver.memory reads it."""
    size = size.strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if size[-1:] in units:
        return int(size[:-1]) * units[size[-1]]
    return int(size) << 20


def pretouch_heap(driver_mem: str, available: int | None) -> bool:
    """Pre-touch the pinned heap only when it fits in ``available``
    bytes (None: unknown, pre-touch).  An oversized heap then fails
    only when the program fills it, instead of the pre-touching JVM
    dying at start-up (JAVA_GATEWAY_EXITED)."""
    return available is None or _mem_bytes(driver_mem) <= available


def _default_driver_mem(cores: int) -> str:
    """3 GB per core, capped at 48 GB, at 40 % of MemAvailable and at
    40 % of the cgroup memory limit when one is set: the heap is pinned
    and pre-touched at JVM start (see get_spark), so it must fit in the
    memory the machine — and the container — has free."""
    mb = min(3 * 1024 * cores, 48 * 1024)
    available = _mem_available()
    if available is not None:  # else the per-core rule alone
        mb = min(mb, available * 4 // 10 // (1 << 20))
    limit = _cgroup_memory_limit()
    if limit is not None:
        mb = min(mb, limit * 4 // 10 // (1 << 20))
    return f"{mb}m"


def _sql_confs(cores: int, shuffle_partitions: int | None = None) -> dict[str, str]:
    """The engine's runtime-mutable SQL confs, one list for get_spark
    and tune().  None of them changes results.

    shuffle.partitions/AQE: 2x total cores + AQE coalesce — small enough
    to avoid tiny-task overhead at sandbox scale (Spark's 200 default is
    200 near-empty tasks per Exchange, and 200 state-store instances per
    stateful streaming query); on a cluster it sizes to executor count.
    """
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or max(8, 2 * cores)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # floor on file-scan splits: CPU-heavy expressions fused into a
        # parquet scan (simhash's 60-bit fold, curation regexes) are
        # otherwise bound by file split count — a 35 MB table is 1-2
        # splits under the 128 MB default, serializing the compute on a
        # 32-core box.  A FLOOR (not a smaller maxPartitionBytes) is
        # the scale-safe form: at 100 TB the natural split count dwarfs
        # it and the knob is inert
        "spark.sql.files.minPartitionNum": str(2 * cores),
        # the floor is computed as max(openCostInBytes, bytes/minPartitionNum),
        # so the 4 MB default open-cost re-serializes any table under
        # 4 MB x minPartitionNum; 64 KB keeps the floor effective while
        # still packing genuinely tiny files together
        "spark.sql.files.openCostInBytes": "65536",
        # constraint propagation explodes exponentially on our aliased
        # 11-branch CASE identity expressions when they become join keys
        # (3.2 MB optimized plans, minutes of janino time); disabling it
        # keeps plans ~KB-sized with no semantic change (tune() has the
        # measurements)
        "spark.sql.constraintPropagation.enabled": "false",
        # deterministic outputs: never let timezone/locale leak into results
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }


def get_spark(
    app_name: str = "newscrawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to default_cores().
    ``shuffle_partitions`` defaults to 2x cores (see _sql_confs).
    ``SPARK_GRAFT_EXTRA_CONF`` and then ``extra_conf`` override any conf.
    """
    if cores is None:
        cores = default_cores()
    # resolved once so -Xms below always equals -Xmx, even when the
    # caller overrides the heap via SPARK_DRIVER_MEM or extra_conf
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(cores)
    if extra_conf and "spark.driver.memory" in extra_conf:
        driver_mem = extra_conf["spark.driver.memory"]

    builder = SparkSession.builder.master(f"local[{cores}]").appName(app_name)
    for k, v in _sql_confs(cores, shuffle_partitions).items():
        builder = builder.config(k, v)
    builder = (
        builder.config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Heap scales WITH the core budget (3 GB/core, capped at 48g —
        # the cluster model: an executor's spark.executor.memory is
        # provisioned per its cores, so a 4x-bigger cluster brings 4x
        # the RAM).  A fixed-size heap makes small-core runs unfairly
        # fast in N-vs-4N scaling comparisons: with 48g at both widths,
        # local[8] ran with 4x the heap per core, so its young-GC
        # frequency was 1/4 — measured as GC wall 24% of the 32-thread
        # run vs 6.5% of the 8-thread run on identical work.  The cap
        # matters as much as the scaling: an UNDERSIZED -Xms with a big
        # -Xmx let the heap expand continuously under the 32-thread
        # allocation rate, and first-touch page faults put the host at
        # 63-77% KERNEL time during the extract phase (measured via
        # top); -Xms=-Xmx below pins the heap so pages fault once.
        .config("spark.driver.memory", driver_mem)
        # Throughput GC for the batch-shaped local JVM: an event-log
        # audit of a 32-thread crawl measured JVM GC at 17% of executor
        # run time under default G1 (pause-target-oriented) — at 4x the
        # allocation rate of the 8-thread run this is a direct scaling
        # tax.  Parallel GC trades pause latency (irrelevant here) for
        # throughput; on a cluster the same flag rides
        # spark.executor.extraJavaOptions.  ParallelGCThreads is sized
        # to the core budget: the JVM defaults it from HOST cpus (23 on
        # this 32-cpu box), which would hand a local[8] run 23 GC
        # threads — a real 8-core executor host gets 8.
        .config(
            "spark.driver.extraJavaOptions",
            (
                f"-XX:+UseParallelGC -XX:ParallelGCThreads={cores} "
                # -Xms = -Xmx: never expand the heap at runtime (see the
                # driver.memory note — expansion page-faults measured as
                # a 63-77% kernel-time storm at 32 threads)
                f"-Xms{driver_mem} "
                # AlwaysPreTouch: fault every heap page in at JVM start
                # instead of on first allocation.  -Xms alone only
                # RESERVES the range; first-touch faults still land in
                # the middle of the 32-thread extract phase.  Measured
                # A/B on the 400k-seed crawl (identical outputs):
                # 218.6 s -> 158.8 s wall, steady 8,826 -> 11,901 urls/s.
                # Alternatives measured WORSE on the same matrix:
                # -Xmn8g 231 s (young too small at this alloc rate),
                # G1+pretouch 192 s (pause-target GC taxes throughput).
                # Only for a heap that fits (pretouch_heap).
                + ("-XX:+AlwaysPreTouch"
                   if pretouch_heap(driver_mem, _mem_available()) else "")
            ).strip(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.datetime.java8API.enabled", "true")
        # lz4 serialized-RDD blocks: consulted only by serialized
        # storage levels — FixtureFetcher persists its page corpus at
        # Python's MEMORY_AND_DISK, which is serialized; shuffle and
        # broadcast compression are separate confs, already default-on.
        # Text-heavy rows compress ~5x, trading abundant CPU for the
        # scarce resource at high thread counts — memory bandwidth
        .config("spark.rdd.compress", "true")
    )
    # benchmarking escape hatch: JSON dict of session confs applied
    # before caller extras (callers stay authoritative) — lets A/B
    # harnesses vary e.g. spark.io.compression.codec without plumbing
    # parameters through every runner
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json

        for k, v in json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-mutable SQL confs to an externally
    created session (the driver harness owns its own SparkSession).

    constraintPropagation: with it on, composing the url-identity CASE
    chains (11-platform detect/article-id) into a join key made Catalyst
    inline aliases into inferred constraints multiplicatively — a 6.7 KB
    plan became 3.2 MB and one 500-row anti-join took 100+ s of janino
    compile time.  Off: 14 KB plan, 3.6 s.  No result change (it only
    prunes an optional inference rule).  An untuned external session
    would also keep Spark's 200 shuffle partitions (see _sql_confs).
    """
    for k, v in _sql_confs(spark.sparkContext.defaultParallelism).items():
        spark.conf.set(k, v)
    return spark
