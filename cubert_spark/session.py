"""SparkSession factory with scale-oriented defaults.

Cubert's user-managed execution knobs (reducer counts, HT sizes, block
cost functions — reference: src/plan/physical/JobExecutor.java,
src/operator/CubeOperator.java:65) are replaced by Spark conf + AQE.
The defaults here are what we would ship for a 1000-executor cluster,
modulo local test sizing overridable by env vars:

- ``SPARK_GRAFT_CPUS``   — local[*N*] parallelism (default 32).
- ``SPARK_GRAFT_SHUFFLE``— spark.sql.shuffle.partitions (default 32
  locally; on a real cluster leave AQE coalescing to size it).

A session compiles each generated class once. Spark's codegen cache
holds 100 classes by default, while one pass over the declared and
folded inventory at sf0.001 compiles 2,589 distinct ones, so with the
default every pass re-compiled about 3,800 classes through Janino and
the JIT warmed each up again. ``SCALE_DEFAULTS`` sizes the cache at
4096, above that working set, and leaves the stage id out of generated
class names, so a pipeline AQE numbers differently on a later run
still hits the cache. Measured on local[4] with a 2 GB heap: a second
inventory pass compiles 8 classes instead of 3,814, and the JVM's peak
RSS over the two passes rises from 2.4 to 2.8 GB, the compiled classes
it now keeps. :func:`codegen_compiles` reads the session's compile
count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for 100 TB-scale behavior:
#:  * AQE on: runtime shuffle-partition coalescing, skew-join splitting,
#:    and dynamic broadcast-join demotion/promotion replace Cubert's
#:    hand-tuned reducer counts and BLOCKGEN cost functions.
#:  * Arrow on: every Python-side boundary (pandas UDFs, toPandas) is
#:    vectorized batch transfer, never row-at-a-time pickling.
#:  * UTC session timezone: deterministic date semantics everywhere.
SCALE_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Columnar scans should read only what the plan projects; these are
    # defaults in modern Spark but pinned here because the engine's
    # scale story depends on them.
    "spark.sql.parquet.filterPushdown": "true",
    # Parquet TIMESTAMP(NANOS) columns (events.ts) read as long nanos;
    # catalog.load_table converts to micros (truncating, matching
    # DuckDB/Arrow semantics) — Spark has no nanos timestamp type.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Python DataSources (cubert_avro) evaluate simple predicates
    # inside the reader, before the Arrow hand-off.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Keep partition sizes bounded so a 100 TB scan produces sane tasks.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast threshold: small dimension tables (region/nation/dicts)
    # must broadcast rather than shuffle (Cubert: LOAD-CACHED /
    # DistributedCache, reference src/utils/FileCache.java:35).
    "spark.sql.autoBroadcastJoinThreshold": "33554432",
    # Generated-class cache above the engine's working set: one pass
    # over the inventory at sf0.001 compiles 2,589 distinct classes
    # (about 2,150 with the stage id left out of class names, below);
    # Spark's default of 100 re-compiles about 3,800 classes a pass.
    # Static conf: Spark reads it once, when the JVM first generates code.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # The cache is keyed on the generated source. With the stage id in
    # the class name, AQE's re-planning numbers the same pipeline
    # differently from run to run (golden_record: 6 and then 4 classes
    # compiled again on its second and third runs), so one pipeline
    # took several entries and compiled again on later runs.
    "spark.sql.codegen.useIdInClassName": "false",
}


def session_builder(
    app_name: str = "cubert_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession.Builder:
    """Return a Builder with the engine's scale defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in SCALE_DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder


def get_session(
    app_name: str = "cubert_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Get-or-create a SparkSession with engine defaults."""
    return session_builder(app_name, master, extra_conf).getOrCreate()


def ensure_active_session(spark) -> None:
    """Pin ``spark`` as the JVM-side active session for the CURRENT
    thread. py4j gives each Python thread its own JVM thread, whose
    thread-local active session starts unset — and Python DataSource
    lookup (virtual/textdict/cubert_avro) resolves through it, so a
    worker thread that skips this sees DATA_SOURCE_NOT_FOUND. No-op on
    failure (e.g. Spark Connect, where sessions are not thread-local).
    """
    try:
        jss = spark._jsparkSession
        spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(jss)
    except Exception:  # noqa: BLE001 - best-effort, connect-mode safe
        pass


def codegen_compiles(spark) -> int:
    """Janino compilations in this JVM so far (Spark's
    ``CodegenMetrics.METRIC_COMPILATION_TIME`` count); the difference
    across a query is the classes it compiled."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def warm_codegen(spark, query_fns, tiny_sf_dir: str, repeats: int = 3) -> float:
    """Pay each query's cold-JVM codegen/JIT tail up front on TINY data.

    The DECIMAL-literal-heavy plans (PQ ADC, k-means, exact cube
    percentile) generate very large Java methods whose C2 compilation
    costs seconds PER JVM PER CODEGEN SHAPE and is independent of data
    size — measured r13 (SCALE.md cold-start table): first-run 9.9 s
    vs 3.1 s steady for pq_adc_topk at sf0.1, and the same first-run
    tail appears when the identical plan runs over sf0.001. Running
    each query a few times against a tiny slice therefore JIT-compiles
    the same generated classes the production run will use, cutting
    the first real run to steady state (9.9 -> 3.5 measured). On a
    fleet, run this once per executor-JVM generation (e.g. from a
    startup task); in local/driver-only mode just call it after
    session creation.

    ``query_fns``: callables (spark, sf_dir) -> DataFrame — the
    ``queries()`` convention. Returns the wall seconds spent warming.
    """
    import time

    t0 = time.perf_counter()
    for fn in query_fns:
        for _ in range(repeats):
            fn(spark, tiny_sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0
