#!/usr/bin/env python
"""Sweep EVERY oracle-backed query against DuckDB at one or more scale
factors. The pytest harness pins sf0.01 (the driver's scale); this tool
answers the robustness question the driver can't: does every
cross-engine hash-equality hold at OTHER scales too (rounding
boundaries, percentile ties, sketch error bounds are all
data-dependent)? Run: python tools/oracle_sweep.py [sf_dir ...]
"""

from __future__ import annotations

import sys
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

DEFAULT_SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.1"]


def main() -> None:
    sf_dirs = sys.argv[1:] or DEFAULT_SFS
    from big_data_projects_spark.queries import REGISTRY
    from big_data_projects_spark.session import get_spark
    from tests.oracle_utils import compare_query

    spark = get_spark(app_name="oracle-sweep", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")

    failures: list[tuple[str, str, str]] = []
    for sf in sf_dirs:
        names = [n for n, q in REGISTRY.items() if q.oracle is not None]
        t0 = time.time()
        for i, name in enumerate(names):
            try:
                compare_query(spark, name, sf)
            except Exception as exc:  # noqa: BLE001 — report and continue
                failures.append((sf, name, str(exc)[:300]))
                print(f"FAIL {sf} {name}: {str(exc)[:200]}", flush=True)
            if (i + 1) % 50 == 0:
                print(
                    f"... {sf}: {i + 1}/{len(names)} "
                    f"({time.time() - t0:.0f}s)",
                    flush=True,
                )
        print(
            f"{sf}: {len(names) - sum(1 for f in failures if f[0] == sf)}"
            f"/{len(names)} ok in {time.time() - t0:.0f}s",
            flush=True,
        )
    if failures:
        print(f"\n{len(failures)} FAILURES")
        for sf, name, msg in failures:
            print(f"  {sf} {name}: {msg}")
        sys.exit(1)
    print("\nALL SCALES CLEAN")


if __name__ == "__main__":
    main()
