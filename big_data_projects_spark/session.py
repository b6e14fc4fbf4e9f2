"""SparkSession factory with scale-ready defaults.

The reference (transform-data.py:11-26) defines create_spark_session()
but never calls it (it relies on the Databricks `spark` global and would
NameError anyway — SURVEY.md §0). Here the session is explicit, with the
configs that matter for both local[32] testing and a real cluster:
AQE (runtime re-planning + skew-join), UTC session timezone (the
reference's timestamp UDF was local-tz dependent — SURVEY.md §2.8 F1),
Arrow for any pandas interchange, and shuffle parallelism sized to
cores rather than the 200 default.

The runtime confs are set in one place, ``ensure_runtime_conf``, and
called once per query at the entry points (the registry wrapper in
registry.py, ``__spark_entry__.entry()``, the reference ETL), never inside
the builders. The shuffle partition count is derived from the session it
is handed — ``sparkContext.defaultParallelism`` — not pinned to a
literal, so a 4-core session gets 4 partitions and a stateful stream
keeps one state-store partition per core.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_REQUIRED_RUNTIME_CONF = {
    # Set at runtime too (see ensure_runtime_conf) because a caller
    # may hand us a session we didn't build. spark.sql.shuffle.partitions
    # is not listed: it is derived from the session's parallelism.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Plan-string generation is UNBOUNDED by default; the composed
    # pipeline queries (minhash bands × components iterations) produce
    # plan descriptions whose single contiguous char[] allocation OOM'd
    # a default-1g-heap driver session mid-sweep. 1M chars is plenty
    # for debugging and bounds the allocation to ~2 MB.
    "spark.sql.maxPlanStringLength": "1048576",
    # q_bloom_filter_join / q_bucketed_join override these to force the
    # runtime bloom filter / shuffle join to engage at test scale;
    # pinning the defaults here means the registry wrapper restores
    # them before the next build, so an override leaks no further than
    # the next query in the same session (harnesses that care about the
    # very last query call ensure_runtime_conf once more after
    # materializing it — bench.py does).  All three values are the
    # Spark 4 defaults.
    "spark.sql.autoBroadcastJoinThreshold": "10485760",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10GB",
}


def get_spark(
    app_name: str = "big-data-projects-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for this engine."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_runtime_conf(spark)
    return spark


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Set the runtime confs this engine's semantics and layout depend on.

    Called once per query by the registry wrapper (and the other entry
    points), not by the builders: a caller may pass in its own
    SparkSession, and timestamp semantics (calendar extraction,
    epoch conversion) require a UTC session timezone to match the
    UTC-naive oracle (SURVEY.md §7 hard-parts #2). A session that
    refuses a conf raises here rather than running with the wrong
    semantics.

    Shuffle partitions follow the session's cores: Spark's 200 default
    over-parallelizes local/test scale, and stateful streaming
    aggregations get no AQE coalescing, so every extra partition is an
    extra state store per micro-batch.
    """
    for k, v in _REQUIRED_RUNTIME_CONF.items():
        spark.conf.set(k, v)
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    return spark
