"""SparkSession factory tuned for this engine.

Local test/bench runs use ``local[N]`` (single JVM); the configs below are
chosen so the same logical plans scale to a multi-executor cluster:

- AQE on (runtime join selection, skew-join splitting, partition coalescing)
- shuffle partitions sized to cores locally (a cluster deployment would
  raise this to ~2-3x total cores; AQE coalesces the excess)
- UTC session timezone so timestamps hash-match the DuckDB oracle
- Arrow enabled for the few Pandas-UDF paths (similarity / multimodal)
- C2 JIT thresholds raised 10x for the driver JVM (``DRIVER_JIT_OPTIONS``):
  a batch run lives a minute or two, and HotSpot's C2 compiler threads
  used 46% of the process tree's CPU on the benchmark's month-end close
  (108 of 235 s) compiling lukewarm Catalyst, Janino and driver code that
  C1 already runs well enough; truly hot executor loops still reach C2
- driver heap ``min(24g, 60% of physical RAM)`` (``driver_memory``);
  ``SPARK_GRAFT_DRIVER_MEM`` overrides it
- the package root first on the Python workers' ``PYTHONPATH``
  (``executor_pythonpath``), so a UDF or ``mapInPandas`` that imports
  ``recon_spark`` works whatever the driver's working directory
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: HotSpot tier-4 (C2) compile thresholds at 10x their JDK 17 defaults
#: (5000, 600, 15000, 40000), so C2 compiles only methods and loops that
#: are truly hot; the rest stays at tier 3 (C1). Set under
#: ``spark.driver.defaultJavaOptions``, which Spark prepends to a caller's
#: ``spark.driver.extraJavaOptions``, so both reach the JVM. They take
#: effect only when this factory launches the driver JVM. Spark starts it
#: with ``-XX:+IgnoreUnrecognizedVMOptions``, so a misspelled flag is
#: dropped silently: tests/test_session.py reads the effective values.
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


#: driver heap ceiling, and the share of physical RAM the default heap
#: may take: a heap larger than the host lets the JVM grow until the
#: kernel kills it (one test-suite JVM reached 15.8 GB RSS on a 15 GB
#: host under the former flat 24g default)
DRIVER_MEM_CAP_MB = 24 * 1024
DRIVER_MEM_RAM_SHARE = 0.6


def driver_memory(phys_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: ``min(24g, 60% of physical RAM)``
    in MiB; ``phys_bytes`` defaults to this host's physical RAM."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    share_mb = int(phys_bytes * DRIVER_MEM_RAM_SHARE) // 2**20
    return f"{min(DRIVER_MEM_CAP_MB, share_mb)}m"


#: DuckDB memory per thread that its limit does not bound (sf0.1 tf-idf
#: oracle: 2.5 GB RSS per thread, 10.8 GB at 4 under a 3000 MiB limit)
ORACLE_THREAD_MIB = 3072


def oracle_resources(heap_mib: int, phys_bytes: int | None = None) -> tuple[int, int]:
    """(threads, memory_limit MiB) for DuckDB next to a Spark driver heap of
    ``heap_mib``: half the RAM the heap leaves, at least 512 MiB, and one
    thread per ``ORACLE_THREAD_MIB`` of that, one to four."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mib = max(512, ((phys_bytes >> 20) - heap_mib) // 2)
    return max(1, min(4, mib // ORACLE_THREAD_MIB)), mib


#: the directory that holds the ``recon_spark`` package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def executor_pythonpath(caller: str | None = None) -> str:
    """``spark.executorEnv.PYTHONPATH``: the package root, then any path
    the caller set."""
    return os.pathsep.join(p for p in (PACKAGE_ROOT, caller) if p)


def shuffle_partitions(spark) -> int:
    """spark.sql.shuffle.partitions as an int — platforms that let AQE
    pick the count report a non-numeric value (e.g. Databricks "auto"),
    which must fall back to the cluster's default parallelism rather
    than raise."""
    raw = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        return int(raw)
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def get_spark(
    app_name: str = "recon_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory(),
        )
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The rule engines compile to wide Project stages (hundreds of
        # expressions). Two measured optimizer/codegen knobs (3-4x wall
        # clock at sf0.1, neutral at scale):
        # - constraint propagation is O(#predicates^2) per optimizer pass
        #   and infers nothing useful here: the cleaners drop null keys
        #   explicitly, so the IsNotNull constraints it would derive
        #   already exist as real filters.
        # - whole-stage-codegen methods larger than HotSpot's 8 KB JIT
        #   threshold never get JIT-compiled; paying janino compilation
        #   for bytecode that then runs interpreted is pure loss. Falling
        #   back to Volcano for those stages keeps codegen exactly where
        #   it pays (small hot stages) — at 100 TB the wide stages would
        #   have interpreted either way.
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # Allow co-partitioned joins when both sides are hash-partitioned
        # on a SUBSET of the join keys (e.g. clean tables bucketed by
        # (plan_id, ssn) joined on (plan_id, ssn, gross_amt)): same subset
        # on both sides still co-locates every join key group, and it is
        # what makes the bucketed clean-once/reconcile-many layout
        # exchange-free (see tests/test_bucketed_engine.py). Spark's
        # default (true) rejects subset co-partitioning purely as a skew
        # heuristic.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # CORRECTNESS: Spark 4.1's partitioning-aware UnionExec
        # (spark.sql.unionOutputPartitioning, default true) returned
        # WRONG results for a key-window placed directly over a union of
        # two co-partitioned children (scd2_apply's open∪new frame: the
        # planner deemed the window's clustering requirement satisfied,
        # executed only a partition-local sort, and lead() returned NULL
        # for every row — no version ever closed). Minimized + verified
        # 2026-08-14 on 4.1.2: flipping only this conf flips the result.
        # Standalone reproducer: tools/union_partitioning_repro.py (the
        # minimal trigger needs a BUCKETED source table + two join
        # branches reusing one window exchange); upstream-ready report:
        # docs/spark-union-partitioning-bug-report.md; regression guard:
        # tests/test_merge.py, and operators/merge.py pins this conf
        # defensively for sessions not built here.
        # Disabled session-wide: the optimization saves one small
        # exchange; silent corruption is not a trade.
        .config("spark.sql.unionOutputPartitioning", "false")
    )
    conf = dict(extra_conf or {})
    pythonpath = "spark.executorEnv.PYTHONPATH"
    conf[pythonpath] = executor_pythonpath(conf.get(pythonpath))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
