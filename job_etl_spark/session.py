"""SparkSession factory tuned for the engine.

Scale stance (100 TB design rules, SURVEY.md §4.2):
- AQE on: runtime partition coalescing, skew-join splitting, dynamic
  broadcast decisions survive a 1000-executor scale-up.
- UTC session timezone: all timestamp semantics are instant-based;
  queries additionally emit epoch integers so results are tz-independent.
- Arrow enabled: any unavoidable pandas_udf path is batch-vectorized.
- shuffle.partitions default 32 locally; on a real cluster this is
  overridden by AQE coalescing + `spark.sql.adaptive.advisoryPartitionSizeInBytes`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """min(24g, half of MemAvailable), floored at 2g — big enough for 32
    concurrent local tasks on this box, safe on small hosts."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(24, avail_gb // 2))}g"
    except OSError:
        pass
    return "8g"


def _driver_java_opts() -> str:
    """Driver JVM options: deployment-supplied opts (JOBSPARK_DRIVER_JAVA_OPTS)
    come first, with the code-cache reserve appended unless the deployment
    already sets one — so a cluster's GC flags are never clobbered and an
    explicit ReservedCodeCacheSize choice wins (ADVICE r11). Note
    getOrCreate() ignores all of this when reusing an existing context —
    JVM flags only apply to the session that launches the JVM."""
    opts = os.environ.get("JOBSPARK_DRIVER_JAVA_OPTS", "")
    if "ReservedCodeCacheSize" not in opts:
        opts = (opts + " -XX:ReservedCodeCacheSize=512m").strip()
    return opts


def get_spark(app_name: str = "jobspark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    sp = shuffle_partitions or int(os.environ.get("JOBSPARK_SHUFFLE_PARTITIONS", "32"))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing floor stays at the Spark default (1m): an
        # interleaved 12-query A/B of 64k-vs-1m (r11) netted −2% inside
        # weather noise with two clear regressions (q85/q98 pay task
        # overhead on cheap stages) — the honest fix for CPU-dense
        # sub-MB reduce stages is the explicit keyed repartition the
        # affected queries (q27/q122) now carry. Override via
        # JOBSPARK_AQE_MIN_PARTITION if a deployment's regime differs.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("JOBSPARK_AQE_MIN_PARTITION", "1m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode: the driver heap IS the executor heap for all worker
        # threads — size it for 32 concurrent tasks, not a lone driver,
        # but never above what the host can actually back (a fixed 24g
        # default fails JVM startup / swaps on smaller hosts)
        .config("spark.driver.memory", os.environ.get("JOBSPARK_DRIVER_MEM") or _default_driver_mem())
        # JIT code cache: a long-lived driver JVM running hundreds of
        # codegen'd stages (the bench's 151 queries, the composed DAG
        # probes) fills the default ~240m ReservedCodeCacheSize, at which
        # point HotSpot DISABLES the compiler ("CodeHeap 'non-profiled
        # nmethods' is full") and every later stage runs interpreted —
        # observed in the r11 full-DAG probe, where post-fill phases ran
        # 2-3x slower. 512m of reserved (virtual) space removes the cliff;
        # this is the standard setting for long-lived Spark drivers.
        .config("spark.driver.extraJavaOptions", _driver_java_opts())
        # Generated-class cache (a static conf; Spark's default is 100
        # entries). One copy-on-write ingest batch runs ~120 distinct
        # whole-stage classes, so at 100 every steady-state batch evicted
        # and recompiled 115-126 of them: 0.6-1.0 s of Janino in a 4-5 s
        # batch (CodegenMetrics counts, 4-core host). At 200 or 1,000
        # entries that batch compiles 23-30 classes, the ones whose source
        # inlines the batch's new timestamp/long literals (run_ts, the
        # watermarks), which no cache size keeps. A merge-on-read batch
        # needs more: 610 compiles at 100 entries, 500 at 200, 127-140 at
        # 1,000 and the same at 2,000. Driver Metaspace grew by about
        # 7 MB against the default's.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        # PySpark records the Python call site of every Column/DataFrame
        # call by default, at several extra py4j round trips per call
        # (py4j calls with it on → off, PySpark 4.1.2: F.col 13 → 3,
        # F.col("a") > 1 24 → 4, when(...).otherwise(...) 44 → 14). What
        # is lost: DataFrame error contexts no longer name the Python file
        # and line that built the failing expression.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes Janino compiled, milliseconds it spent) in this session's
    JVM so far — every whole-stage or expression class the generated-class
    cache missed. Both are JVM-wide running totals: take differences."""
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return compiled.getCount(), codegen.CodeGenerator.compileTime() / 1e6
