#!/usr/bin/env python3
"""Record ``expected.json``: the (rows, hash) the benchmark checks.

    python3 perfbench/make_expected.py [sf0.01 testdata dir]

For every query of every workload, on the engine's sf0.01 testdata (by
default the copy in ``perfbench/data/sf0.01``), this builds the query through the registry, collects its full
result and compares it cell by cell (columns by name, rows sorted,
floats by ``repr``) with the query's DuckDB oracle over the same
parquet files.  Only when every query matches its oracle, and its
forcing aggregate gives the same (rows, hash) on two separate builds,
is the file written, with the sha256 of every table it was recorded on.
"""

from __future__ import annotations

import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402
from workloads import DATA_DIR, WORKLOADS  # noqa: E402


def _cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, bytes):
        return ("b", v.hex())
    return ("s", str(v))


def _canon(pdf, cols):
    return sorted(tuple(_cell(row[c]) for c in cols) for _, row in pdf.iterrows())


def oracle_mismatch(spark, con, name: str, sf_dir: str, registry) -> str | None:
    sdf = registry[name].spark(spark, sf_dir).toPandas()
    odf = con.sql(registry[name].oracle).df()
    cols = sorted(sdf.columns)
    if cols != sorted(odf.columns):
        return f"columns spark={cols} oracle={sorted(odf.columns)}"
    if len(sdf) != len(odf):
        return f"rows spark={len(sdf)} oracle={len(odf)}"
    if _canon(sdf, cols) != _canon(odf, cols):
        return "values differ"
    return None


def main() -> int:
    sys.path.insert(0, bench.ROOT)
    import duckdb

    from big_data_projects_spark.data import TABLES
    from big_data_projects_spark.queries import REGISTRY
    from big_data_projects_spark.session import ensure_runtime_conf, get_spark

    sf_dir = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else DATA_DIR)
    work = os.path.join(bench.ROOT, ".bench_run", "make-expected")
    env, conf = bench.spark_settings(work)
    for d in (env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    spark = get_spark(app_name="perfbench-expected", cpus=len(os.sched_getaffinity(0)), extra_conf=conf)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    records, problems = {}, {}
    names = sorted({q for w in WORKLOADS.values() for q in w["queries"]})
    try:
        for name in names:
            if REGISTRY[name].oracle is None:
                problems[name] = "no DuckDB oracle"
                continue
            bad = oracle_mismatch(spark, con, name, sf_dir, REGISTRY)
            ensure_runtime_conf(spark)
            if bad:
                problems[name] = f"oracle mismatch: {bad}"
                continue
            seen = set()
            for _ in range(2):
                row = bench.forcing_aggregate(REGISTRY[name].spark(spark, sf_dir)).collect()[0]
                ensure_runtime_conf(spark)
                seen.add((int(row["n"]), int(row["h"])))
            if len(seen) != 1:
                problems[name] = f"forcing aggregate not deterministic: {sorted(seen)}"
                continue
            (rows, digest), = seen
            records[name] = {"rows": rows, "hash": digest}
            print(f"{name}: rows={rows} hash={digest} (oracle match)", flush=True)
    finally:
        bench._stop(spark)
    if problems:
        print(json.dumps({"problems": problems}, indent=1))
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"tables": bench.table_digests(sf_dir), "oracle": "duckdb " + duckdb.__version__,
                   "queries": records}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
