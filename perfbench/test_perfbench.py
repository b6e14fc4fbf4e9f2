"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The first five tests are pure Python.  The last two each start Spark
through ``run.py`` (about a minute apiece) on the olap workload, from a
directory outside the checkout, so its Python-UDF query also checks the
workers' import path.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as bench  # noqa: E402
from workloads import DATA_DIR, WORKLOADS, query_order  # noqa: E402

BENCHMARK = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def test_seed_fixes_query_order():
    for w in WORKLOADS:
        assert query_order(w, 7) == query_order(w, 7)
        assert sorted(query_order(w, 7)) == sorted(WORKLOADS[w]["queries"])
        assert query_order(w, 7) != query_order(w, 8)


def test_benchmark_json_matches_the_runner():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert e2e == bench.END_TO_END_UNITS
    assert layer == bench.PER_LAYER_UNITS


def test_records_were_made_on_the_committed_tables():
    sys.path.insert(0, ROOT)
    doc = json.load(open(os.path.join(HERE, "expected.json")))
    assert bench.table_digests(DATA_DIR) == doc["tables"]
    assert set(doc["queries"]) == {q for w in WORKLOADS.values() for q in w["queries"]}


def test_wrong_hash_counts_as_failure():
    expected = {"q": {"rows": 3, "hash": 11}}
    assert bench.check_result("q", 3, 11, expected) is None
    assert "expected rows=3 hash=11" in bench.check_result("q", 3, 12, expected)
    assert bench.check_result("q", 4, 11, expected)
    assert bench.check_result("other", 3, 11, expected) == "no expected record"


def test_workers_import_the_package_from_any_directory(tmp_path):
    env, conf = bench.spark_settings(str(tmp_path))
    assert env["PYTHONPATH"].split(os.pathsep)[0] == ROOT
    assert env["TMPDIR"].startswith(str(tmp_path))
    assert env["SPARK_LOCAL_DIRS"].startswith(str(tmp_path))
    assert f"-Djava.io.tmpdir={env['TMPDIR']}" in conf["spark.driver.extraJavaOptions"]


def _run(tmp_path, trace: int, expected: str) -> tuple[dict, list[str]]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "olap_sf001",
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--expected", expected],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def test_injected_wrong_hash_raises_failures(tmp_path):
    doc = json.load(open(os.path.join(HERE, "expected.json")))
    doc["queries"]["q_tpch_q1"]["hash"] += 1
    path = tmp_path / "expected.json"
    path.write_text(json.dumps(doc))
    result, lines = _run(tmp_path, 0, str(path))
    assert result["correct"] is False
    assert result["failed"] >= 1 and result["attempted"] > result["failed"]
    m = result["metrics"]
    assert m["correct_frac"]["value"] == 1 - result["failed"] / result["attempted"] < 1
    # the failing query is named in the output, not dropped
    failures = [json.loads(x)["failures"] for x in lines if x.startswith('{"failures"')]
    assert list(failures[0]) == ["q_tpch_q1"]
    env = json.loads(lines[0])["env"]
    for key in ("master", "default_parallelism", "cores", "shuffle_partitions",
                "loadavg_start", "loadavg_end", "pyspark", "java", "seed"):
        assert key in env
    # every end-to-end metric, by name, with its unit
    assert {k: v["unit"] for k, v in m.items()} == bench.END_TO_END_UNITS
    assert all(isinstance(v["value"], float) for v in m.values())


def test_traced_run_emits_every_layer_metric(tmp_path):
    result, lines = _run(tmp_path, 1, os.path.join(HERE, "expected.json"))
    assert result["correct"] is True and result["failed"] == 0
    m = result["metrics"]
    assert {k: v["unit"] for k, v in m.items()} == bench.PER_LAYER_UNITS
    assert m["measure.jobs"]["value"] > 0 and m["executor.tasks"]["value"] > 0
    assert m["catalyst.optimization_ms"]["value"] > 0
    env = json.loads(lines[0])["env"]
    spans = json.load(open(os.path.join(ROOT, env["trace_file"])))["spans"]
    assert {s["name"] for s in spans} == {"workload", "query", "build", "force"}
    assert len({s["run_id"] for s in spans}) == 1
