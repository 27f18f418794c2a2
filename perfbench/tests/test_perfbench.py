"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q            # fast checks
    PERFBENCH_SLOW=1 python3 -m pytest perfbench/tests -q   # + one run per workload

The slow tests start the real benchmark (a Spark session per workload,
about a minute each).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
from probe import Tracer  # noqa: E402
from workloads import OLAP_QUERIES, TABLES, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    DECLARED = json.load(f)

slow = pytest.mark.skipif(not os.environ.get("PERFBENCH_SLOW"),
                          reason="starts Spark; set PERFBENCH_SLOW=1")


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not (cmp.left_only or cmp.right_only or mismatch or errors)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        datagen.write_movie_inputs(str(tmp_path / name), seed)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    cmp = filecmp.dircmp(str(tmp_path / "a"), str(tmp_path / "c"))
    _, mismatch, _ = filecmp.cmpfiles(str(tmp_path / "a"), str(tmp_path / "c"),
                                      cmp.common_files, shallow=False)
    assert mismatch, "a different seed must give different inputs"


def test_catalog_seed_orders_queries_over_the_fixed_tables(tmp_path):
    from module8_movies_etl_spark.sources.readers import TPCH_TABLES

    wl = WORKLOADS["olap_mix"]()
    a, b, c = (wl.prepare(str(tmp_path), seed) for seed in (5, 5, 6))
    assert a == b and a["order"] != c["order"]
    assert sorted(a["order"]) == sorted(OLAP_QUERIES)
    assert a["tables"] == c["tables"] == TABLES
    assert not os.listdir(tmp_path), "catalog workloads generate no tables"
    for t in TPCH_TABLES:
        assert os.path.isfile(os.path.join(TABLES, f"{t}.parquet")), t


def test_movie_inputs_plant_every_edge_case(tmp_path):
    out = datagen.write_movie_inputs(str(tmp_path), 3)
    e = out["expect"]
    for key in ("budget_filled", "runtime_filled", "revenue_null", "unrated"):
        assert e[key], key
    assert e["corrupt_adult_rows"] > 0
    with open(out["paths"]["wiki"]) as f:
        wiki = json.load(f)
    assert any(isinstance(r.get("Box office"), list) for r in wiki)
    assert any("No. of episodes" in r for r in wiki)
    assert any("re-release" in r["url"] for r in wiki)
    assert any(not ({"Director", "Directed by"} & r.keys()) for r in wiki)
    junk = [r for r in wiki if any(k.startswith("junk") for k in r)]
    assert 0 < len(junk) < 0.1 * len(wiki)


def test_patch_rebinds_every_import_of_a_function_and_restores():
    from module8_movies_etl_spark.plans import benchmark_queries as bq
    from module8_movies_etl_spark.sources import readers

    original = readers.read_table
    assert bq.read_table is original  # bound by a module-level import
    stub = types.SimpleNamespace(sparkContext=None)
    tracer = Tracer(stub)
    wrapper = tracer.wrap(original, "sources.read_table")
    assert tracer.patch(original, wrapper) >= 2
    assert bq.read_table is wrapper and readers.read_table is wrapper
    tracer.restore()
    assert bq.read_table is original and readers.read_table is original


def test_nested_same_name_span_counts_once_under_its_parent():
    tracer = Tracer(types.SimpleNamespace(sparkContext=None))
    with tracer.span("outer"):
        with tracer.span("inner"):
            with tracer.span("inner"):
                pass
    assert tracer.count("inner") == 1
    assert [s["parent"] for s in tracer.dump()] == [-1, 0]
    assert tracer.total("inner") <= tracer.total("outer")


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run([sys.executable, *DECLARED["command"][1:], "--workload", "olap_mix",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run([*DECLARED["command"], "--workload", workload, "--seed", "1",
                           "--seconds", "1", "--trace", str(trace)],
                          cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0, proc.stdout
    return out["metrics"]


# the boundaries each workload exercises: these must record spans/counts
EXERCISED = {
    "etl_movies": ["sources.read_csv_s", "sources.read_json_records_s", "sources.read_jobs",
                   "sources.write_parquet_s", "sources.write_mb", "pipelines.build_s",
                   *(f"pipelines.{stage}_s" for stage in
                     ("wiki_transform", "kaggle_transform", "rating_histogram", "merge_movies")),
                   "engine.exec_s", "engine.jobs", "engine.tasks"],
    "olap_mix": ["sources.read_table_s", "sources.read_table_calls", "sources.read_table_jobs",
                 "plans.build_s", "plans.build_jobs", "engine.plan_s", "engine.exec_s",
                 "engine.jobs", "engine.tasks"],
    "curation_batch": ["sources.read_table_calls", "sources.scratch_snapshots",
                       "plans.build_s", "plans.build_jobs",
                       *(f"operators.{m}.calls" for m in
                         ("dedup", "similarity", "text", "graphs", "curation")),
                       "engine.shuffle_write_mb", "engine.jobs"],
}
# and the ones it bypasses (olap_mix's dedup and text entries make one
# call each into those modules, so only the other three are zero there)
BYPASSED = {
    "olap_mix": [f"operators.{m}.calls" for m in ("similarity", "graphs", "curation")]
    + ["sources.write_parquet_s", "sources.scratch_snapshots", "pipelines.build_s"],
    "etl_movies": ["sources.read_table_calls", "plans.build_s", "operators.dedup.calls"],
    "curation_batch": ["sources.write_parquet_s", "pipelines.build_s"],
}


@slow
@pytest.mark.parametrize("workload", [w["name"] for w in DECLARED["workloads"]])
def test_untraced_run_prints_the_declared_end_to_end_metrics(workload):
    metrics = _run(workload, 0)
    assert list(metrics) == [m["name"] for m in DECLARED["end_to_end"]]
    for m in DECLARED["end_to_end"]:
        assert metrics[m["name"]]["unit"] == m["unit"]
        assert metrics[m["name"]]["value"] > 0


@slow
@pytest.mark.parametrize("workload", [w["name"] for w in DECLARED["workloads"]])
def test_traced_run_records_every_boundary_its_workload_exercises(workload):
    metrics = _run(workload, 1)
    assert list(metrics) == [m["name"] for m in DECLARED["per_layer"]]
    for name in EXERCISED[workload]:
        assert metrics[name]["value"] > 0, name
    for name in BYPASSED[workload]:
        assert metrics[name]["value"] == 0, name
