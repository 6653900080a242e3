"""SparkSession factory with scale-aware defaults.

Local runs use ``local[$SPARK_GRAFT_CPUS]`` (default all cores); the same
config block is what we would ship to a 1000-executor cluster — only
``master`` and the shuffle-partition count change (cluster deployments size
``spark.sql.shuffle.partitions`` ≈ 2-3× total cores and rely on AQE
coalescing, which is enabled here).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_APP_NAME = "etl_pipeline_excel_sql__spark"


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def default_driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else 40% of physical memory in whole GB
    (at least 1g, at most 32g): ``local[N]`` runs the executor inside the
    driver JVM, and a fixed 32g got it killed on a 16 GB host."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = min(32, max(1, phys * 2 // 5 // 2**30))
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{mem}g"


def get_session(
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults chosen for 100 TB readiness, not just local convenience:

    * **AQE on** (runtime coalesce + skew-join splitting) — at scale the
      static partition count is always wrong somewhere; AQE re-plans from
      actual map output sizes.
    * **UTC session timezone** — deterministic timestamp semantics across
      drivers/executors and vs. the DuckDB oracle.
    * **Arrow on** — ``toPandas`` and all Pandas UDFs move columnar.
      The template-scale Excel source and sinks cross the driver boundary
      as Arrow whatever this flag says: ``sources/excel.py`` hands Spark a
      ``pyarrow.Table`` and ``sinks/excel_writer.py`` collects with
      ``toArrow()``.
    * **Broadcast threshold 64 MB** — dimension tables (region/nation/
      customer-slices) broadcast instead of shuffling the fact table.
    * **Generated-class cache of 4000 entries** — Spark caches compiled
      codegen classes in a JVM-wide LRU that holds 100 by default. One
      evaluation of ``curate_pack_pipeline`` alone compiles ~130
      classes, so at the default every warm pass of the iterative
      curation queries recompiles its whole working set. A pass over
      ``bench.py``'s query list at sf0.001 compiles ~2300 distinct
      classes plus ~190 new ones on every later pass; an LRU smaller
      than that evicts each class just before its next use (at 2000
      entries a second pass still recompiled ~1860), so the cache is
      sized with headroom above it. The conf is static: it takes effect only if
      this builder creates the session, so a session built elsewhere
      before this call keeps 100 entries.
    """
    par = default_parallelism()
    builder = (
        SparkSession.builder.appName(_APP_NAME)
        .master(master or f"local[{par}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or par))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        # TIMESTAMP(NANOS) parquet (events.ts) arrives as raw nano longs;
        # sources/registry.py converts to microsecond timestamps explicitly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[N] runs the executor inside the driver JVM: size it for 32
        # concurrent tasks over wide array columns where the host allows,
        # or full-GC storms make run times bimodal (87s outliers on a 5s
        # query at 8g were traced to exactly this).
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    return builder.getOrCreate()
