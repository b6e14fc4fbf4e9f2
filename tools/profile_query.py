#!/usr/bin/env python
"""Targeted per-query profiler for optimization work: times force_count
(min-of-N, bench-identical forcing + hygiene) for the named queries at
$SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS], and optionally dumps
the formatted physical plan.

Usage: python tools/profile_query.py name[,name...] [--runs N] [--plan DIR]
       python tools/profile_query.py --plans-all DIR   # dump plans only

Timing methodology matches bench.py run_once exactly (clearCache + JVM
gc outside the timed region, force_count inside, ensure_runtime_conf
after) so numbers are comparable to bench artifacts from the same host.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    names: list[str] = []
    runs = 3
    plan_dir: str | None = None
    plans_all: str | None = None
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--runs":
            runs = int(args[i + 1]); i += 2
        elif a == "--plan":
            plan_dir = args[i + 1]; i += 2
        elif a == "--plans-all":
            plans_all = args[i + 1]; i += 2
        else:
            names.extend(x for x in a.split(",") if x)
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)

    from big_data_projects_spark.measure import force_count
    from big_data_projects_spark.session import ensure_runtime_conf, get_spark
    from big_data_projects_spark.queries import REGISTRY

    spark = get_spark(app_name="bdp-profile", cpus=cpus)

    # Warm page cache + codegen exactly as bench.py does.
    from pyspark.sql import functions as F
    from big_data_projects_spark.data import TABLES, load_table

    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        df.agg(*[F.count(F.col(c)) for c in df.columns]).collect()

    def plan_text(name: str) -> str:
        q = REGISTRY[name]
        spark.catalog.clearCache()
        df = (q.raw or q.spark)(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        ensure_runtime_conf(spark)
        return buf.getvalue()

    if plans_all is not None:
        os.makedirs(plans_all, exist_ok=True)
        todo = names or list(REGISTRY)
        for name in todo:
            try:
                txt = plan_text(name)
            except Exception as exc:  # side-effecting builders etc.
                txt = f"<plan unavailable: {exc}>\n"
            with open(os.path.join(plans_all, f"{name}.txt"), "w") as f:
                f.write(txt)
            print(f"plan {name}: {len(txt)} chars", flush=True)
        return

    if runs < 1:
        # ADVICE r12 #3: --runs 0 used to NameError on the unbound
        # sample count below; fail loudly with the reason instead.
        raise SystemExit(f"--runs must be >= 1 (got {runs})")
    out: dict[str, dict] = {}
    for name in names:
        q = REGISTRY[name]
        samples = []
        n = None
        for _ in range(runs):
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            builder = q.raw or q.spark
            t0 = time.perf_counter()
            n = force_count(builder(spark, sf_dir))
            samples.append(round(time.perf_counter() - t0, 3))
            ensure_runtime_conf(spark)
        out[name] = {"min": min(samples), "rows": n, "samples": samples}
        print(f"{name}: min={min(samples)} rows={n} samples={samples}", flush=True)
        if plan_dir:
            os.makedirs(plan_dir, exist_ok=True)
            # Same failure tolerance as --plans-all (ADVICE r12 #3): a
            # side-effecting builder must not abort the timing loop.
            try:
                txt = plan_text(name)
            except Exception as exc:
                txt = f"<plan unavailable: {exc}>\n"
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as f:
                f.write(txt)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
