"""SparkSession factory tuned for both local testing and cluster scale.

The reference is a single-threaded pandas script (feeder.py:156
``iterrows``); here every knob is set so the same logical plans run
unchanged on a 1000-executor cluster: AQE on (runtime re-planning,
skew-join splitting, partition coalescing), broadcast threshold for
dimension joins, Arrow for any pandas-UDF exchange, UTC session time
zone so timestamp semantics are stable across drivers and match the
DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local defaults use SPARK_GRAFT_CPUS, else the CPUs this process may
# run on (its affinity mask, not the host's count); on a real cluster the
# submitter overrides master/shuffle-partitions (rule of thumb: 2-3x
# total executor cores, or rely on AQE coalescing from a high initial
# number).
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_session(app_name: str = "cati-feeder-spark", master: str | None = None,
                shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-ready defaults."""
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) is otherwise an illegal type in Spark;
        # read as epoch-nanos long, catalog.load_table converts to µs
        # timestamps (matching DuckDB's own ns→µs truncation)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- scale posture: runtime adaptivity ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # --- joins: dimension tables (region/nation/existing-key
        # snapshots) broadcast instead of shuffling the fact side ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python exchange is Arrow-batched, never per-row pickle ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scans: keep splits near the default 128MB parquet
        # row-group size so a 100 TB table yields well-sized tasks ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # local-mode niceties; harmless on a cluster
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # --- JIT code cache sized for a LONG session compiling
        # hundreds of distinct whole-stage-codegen classes (the bench
        # runs the full 179-query registry in one JVM): the JVM
        # default (240 MB) fills, the JIT compiler shuts off, and
        # every later plan runs interpreted — a uniform 1.3-3x
        # slowdown measured on the round-11 board before this flag.
        # Flushing lets cold compiled methods be evicted instead of
        # wedging the cache. Applies at JVM launch, so it only takes
        # effect when THIS process creates the session (bench, tests,
        # the driver harness) — exactly the long-registry sessions
        # that need it.
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing")
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema):
    """Single-partition DataFrame from driver-local rows.

    A plain ``createDataFrame(list)`` slices even ONE row across
    ``defaultParallelism`` pickled partitions; a later ``coalesce(1)``
    (the usual small-table write shape) then streams ALL of them
    through one sequential Python worker — measured ~5-6 s per tiny
    frame at local[32], which dominated the embedding-store bootstrap
    (boot:emb:params 22 s for four one-to-128-row writes) and taxed
    every metrics append and literal-offset join. Driver-local
    model/offset/sentinel frames are small BY CONSTRUCTION, so one
    slice is the only sensible layout — one Python task, ~0.3 s.
    On a cluster the same argument holds: these frames broadcast or
    coalesce anyway, so parallelism was never buying anything.

    ``schema`` must be a DDL string or ``StructType`` whenever
    ``rows`` may be empty: ``createDataFrame([], [names])`` has no
    types to infer from and raises. The assert below turns that
    latent confusing failure (round-12 advice) into a named one."""
    if not rows:
        assert not isinstance(schema, (list, tuple)), (
            "local_frame with empty rows needs a typed schema (DDL "
            "string or StructType) — a bare column-name list leaves "
            "Spark nothing to infer types from")
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)


def shuffle_width(spark: SparkSession) -> int:
    """The session's compute width for explicitly pinned exchanges:
    max(defaultParallelism, spark.sql.shuffle.partitions) — never
    shrinks an at-scale session's configured shuffle width. The conf
    value is non-numeric on some platforms (e.g. "auto" under
    AQE-auto-optimized shuffle services), so parse failures fall back
    to defaultParallelism instead of raising (round-13 advice)."""
    sc = spark.sparkContext
    try:
        conf_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        conf_width = 0
    return max(sc.defaultParallelism, conf_width)
