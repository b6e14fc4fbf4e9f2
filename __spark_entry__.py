"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``big_data_projects_spark``; this module is a
thin adapter over its query registry.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from big_data_projects_spark.queries import REGISTRY  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from big_data_projects_spark.pipeline import songplays_pipeline
    from big_data_projects_spark.session import ensure_runtime_conf

    # The pipeline is also the body of q_flagship_star_rollup, whose
    # conf the registry wrapper sets; this entry point sets its own.
    ensure_runtime_conf(spark)
    return songplays_pipeline(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.spark for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twin per query (omitted → rows-only check)."""
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
