"""SparkSession factory with scale-oriented defaults.

AQE (runtime re-planning + skew-join handling), Arrow-batched pandas
UDFs, and shuffle partitions sized to the core count — the settings we'd
ship in spark-defaults on a real cluster (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory (a checkout) or archive (a --py-files zip) this package
# imports from. Python workers start as `python -m
# osm2streets_spark.worker_daemon` before Spark ships any --py-files,
# so this root goes first on their PYTHONPATH; run from another cwd,
# they would fail every UDF with "No module named 'osm2streets_spark'"
# without it.
IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _env_int(name: str, default: int) -> int:
    """Positive integer env knob. Unset, non-integer and non-positive
    values give `default`, so a mistyped knob cannot crash session
    build or reach a Spark conf verbatim."""
    try:
        v = int(os.environ.get(name, ""))
    except ValueError:
        return default
    return v if v > 0 else default


def get_spark(app: str = "osm2streets-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = _env_int("SPARK_GRAFT_CPUS", 0) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # 1x cores: our shuffles are byte-small, so AQE's coalesce
        # floor (default parallelism) is where every over-provisioned
        # shuffle lands anyway — provisioning 2x cores just paid the
        # extra map/reduce task fixed costs first (interleaved A/B at
        # sf0.1: 2x-cores flagship ~20-22 s vs 1x-cores ~13-15 s; AQE
        # skew split still raises it when a partition is genuinely
        # hot). On a real cluster SPARK_GRAFT_SHUFFLE_PARTITIONS pins
        # it data-proportionally instead (scaling-criterion runs: same
        # task list at every cluster size, like
        # SPARK_GRAFT_KERNEL_PARTITIONS in plans.pipeline).
        shuffle_partitions = _env_int("SPARK_GRAFT_SHUFFLE_PARTITIONS",
                                      cores)
    builder = (
        SparkSession.builder.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # our shuffles are byte-small but Python-CPU-heavy (geometry
        # kernels), so AQE must not coalesce below the core count or the
        # UDF stages serialize onto one task; its default floor is the
        # default parallelism, `cores` under local[cores]
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        # static conf, must be set at session build: the default
        # 100-entry codegen class cache thrashes on the flagship's ~236
        # generated classes, so EVERY bench run re-Janino-compiles the
        # whole pipeline (~2 s of serial driver time per run, measured
        # via CodegenMetrics: 236/235/236 compiles on three repeat
        # builds at 100 entries vs 9/0/4 at 4000). Scale-independent —
        # a bigger class cache helps any repeated-plan workload and is
        # bounded (~2k classes); it caches compiled bytecode, never
        # data or results.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # PySpark 4 wraps every DataFrame op in a call-site capture
        # (2+ Py4J RPCs per op, for richer error messages). The
        # flagship's deep plans issue ~700 ops per build; the capture
        # alone measured ~1.6 s of the driver's DAG-construction time
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # UI off (costs listener/jetty overhead in benches); the Spark
        # event log gives the same stage and task records without it
        .config("spark.ui.enabled", "false")
        # Python workers fork from worker_daemon, which stops each task
        # re-reading Spark's zip archives (~190 -> ~55 ms per task; see
        # its docstring)
        .config("spark.python.daemon.module",
                "osm2streets_spark.worker_daemon")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cores}]")
    spark = builder.getOrCreate()
    # sc.environment holds the spark.executorEnv.* values every Python
    # UDF ships to its workers; prepend to the PYTHONPATH found there so
    # a user-given spark.executorEnv.PYTHONPATH is kept
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if IMPORT_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([IMPORT_ROOT] + paths)
    return spark


# Partition sizing for the Python-CPU-heavy shuffles, one rule for
# every use: ~rows_per_task rows per task to amortize the fixed per-task
# cost (scheduler + Python worker round trip, ~30-60 ms here), never
# more tasks than rows (a 128-partition shuffle over a 21-doc corpus is
# ~107 empty tasks), at least `floor` tasks so every core has work, at
# most `cap` tasks for load balance. At deployment scale n/rows_per_task
# >> cap and the cap binds. Argument sets per use, as
# (rows per task, cap in cores, floor in cores):
#   docs   — load_documents' doc_id spread of the flagship input;
#   kernel — the geometry-kernel shuffles (T6, transforms). Measured at
#            sf0.1 (2,100 docs): 16 docs/task ran the flagship ~6 s
#            slower than 64;
#   text   — the text-analysis/dedup pandas UDF scans (shingles,
#            fingerprints). ~10x lighter per doc than the geometry
#            kernels, so no cores floor: an r8 interleaved sweep at sf0.1
#            found ~128 docs/task the plateau, and a cores floor (33
#            tasks on 32 cores, a 2-wave straggler) gave back half the
#            win. Floor 0 still yields >= 1 task, as ceil(n/128) >= 1.
SIZING = {
    "docs": (64, 2, 1),
    "kernel": (64, 4, 1),
    "text": (128, 4, 0),
}


def partition_count(use: str, n: int | None, cores: int) -> int:
    """min(cap, n, max(floor, ceil(n / rows_per_task))) with the
    SIZING argument set of `use`; `cap` when the row count n is
    unknown (None or 0)."""
    rows_per_task, cap, floor = SIZING[use]
    cap *= cores
    if not n:
        return cap
    return min(cap, n, max(floor * cores, -(-n // rows_per_task)))


def parquet_rows(path: str) -> int:
    """Row count of a parquet file or directory from its footers:
    metadata only, no Spark job. 0 when it cannot be read."""
    try:
        import glob
        import pyarrow.parquet as pq
        files = (sorted(glob.glob(os.path.join(path, "*.parquet")))
                 if os.path.isdir(path) else [path])
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return 0


def input_rows(df) -> int:
    """Footer row count of the parquet files a frame reads: a
    driver-side metadata walk (no Spark job) that survives filters and
    projections, and so overestimates a filtered frame. 0 for a frame
    with no parquet input (e.g. PBF parses, in-memory data)."""
    try:
        return sum(parquet_rows(f.removeprefix("file:"))
                   for f in df.inputFiles() if f.endswith(".parquet"))
    except Exception:
        return 0
