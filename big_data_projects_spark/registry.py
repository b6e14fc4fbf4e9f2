"""Query registry plumbing.

Every implemented operator gets a named entry: a Spark builder
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB
oracle SQL string over the same parquet tables. The driver runs both at
sf0.01 and compares row-count + schema + order-insensitive value hash —
so builders alias every computed column identically on both sides, and
aggregates over doubles use order-independent decimal accumulation
(see operators.relational.dsum).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from big_data_projects_spark.session import ensure_runtime_conf


@dataclass(frozen=True)
class Query:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # None → driver records a rows-only check
    # The un-wrapped builder (no pre-build cache/GC hygiene): for
    # callers that do their own session hygiene OUTSIDE a timed section
    # (bench.py) so the wrapper's clearCache+gc never lands in a
    # measured interval.
    raw: Callable[[SparkSession, str], DataFrame] | None = None


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Operators persist multi-consumer intermediates (shingles,
            # signatures, segment explosions) that the lazily-returned
            # result still references, so they cannot unpersist before
            # the caller materializes. A long-lived session running
            # many queries back-to-back (the driver's CORRECTNESS
            # sweep, the pytest oracle harness) would accumulate those
            # caches until the driver heap fills — drop everything
            # cached by PRIOR queries before building this one.
            # persist() is advisory, so this can never change results;
            # by the time the next builder runs, the previous query's
            # output has been materialized by the caller.
            spark.catalog.clearCache()
            # Broadcast blocks from prior queries' joins are reclaimed
            # only by ContextCleaner AFTER a JVM GC, and a back-to-back
            # sweep never triggers one until allocation fails (the
            # periodic-GC safety net defaults to 30 min — longer than
            # the whole sweep). On a default-1g-heap session ~90
            # queries of broadcast residue OOM'd the driver; an
            # explicit collect per build keeps residency flat and costs
            # ~10 ms with a small live set.
            import gc

            gc.collect()  # release py4j proxies so the JVM refs die
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass  # non-py4j backends (Connect): rely on the cleaner
            # The one place a registered query's runtime conf is set
            # (callers hand us sessions we did not build). Running it before
            # every build also undoes a previous builder's join-conf
            # override (q_bloom_filter_join). Builders never re-pin, so
            # what a caller sets before a raw build holds; the
            # partition-invariance tests rely on that.
            ensure_runtime_conf(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = Query(build, oracle, raw=fn)
        return fn  # composed queries call the raw builder, un-wrapped

    return deco
