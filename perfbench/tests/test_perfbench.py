"""The benchmark's own tests.

Fast tests cover the generators and the output checks (a corrupted
result must be caught). The ``tiny`` tests run each workload end to
end at a minimal size through the real command line and assert that
every metric is printed with its unit. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

import gen
import workloads as W

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
RUN = [sys.executable, os.path.join(BENCH, "run.py")]
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


# -- generators ---------------------------------------------------------------
def test_ev_generator_is_seeded_and_tallied(tmp_path):
    a = gen.ev_bronze_csv(str(tmp_path / "a.csv"), 5, 2000, 10, 20)
    b = gen.ev_bronze_csv(str(tmp_path / "b.csv"), 5, 2000, 10, 20)
    c = gen.ev_bronze_csv(str(tmp_path / "c.csv"), 6, 2000, 10, 20)
    assert digest(tmp_path / "a.csv") == digest(tmp_path / "b.csv")
    assert digest(tmp_path / "a.csv") != digest(tmp_path / "c.csv")
    assert a.good + a.bad == 2000 and a.dirt == b.dirt
    assert 0.25 < a.bad / a.rows < 0.35
    assert all(n > 0 for n in a.dirt.values())
    with open(tmp_path / "a.csv") as fh:
        assert fh.readline().strip().split(",") == gen.BRONZE_HEADER
        assert sum(1 for _ in fh) == 2000


def test_corpus_generator_is_seeded_and_tallied(tmp_path):
    a = gen.corpus_parquet(str(tmp_path / "a"), 5, 1500)
    b = gen.corpus_parquet(str(tmp_path / "b"), 5, 1500)
    assert digest(tmp_path / "a" / "documents.parquet") == digest(tmp_path / "b" / "documents.parquet")
    assert a == b
    assert a.exact_dups and a.near_dup_pairs and a.contaminated and a.low_quality


# -- checks catch corrupted outputs ---------------------------------------------
def test_etl_checks_catch_corruption(tmp_path):
    t = gen.ev_bronze_csv(str(tmp_path / "a.csv"), 1, 500, 5, 10)
    Res = dataclasses.make_dataclass("Res", ["good_count", "bad_count"])
    assert W.check_silver(Res(t.good, t.bad), t) is None
    assert W.check_silver(Res(t.good - 1, t.bad + 1), t)
    kwh = sum(s.kwh for s in t.clean)
    minutes = sum(s.duration_min for s in t.clean)
    assert W.check_gold(t.good, kwh, minutes, t) is None
    assert W.check_gold(t.good, kwh + 0.01, minutes, t)
    assert W.check_gold(t.good + 1, kwh, minutes, t)


def test_dashboard_checks_catch_corruption(tmp_path):
    t = gen.ev_bronze_csv(str(tmp_path / "a.csv"), 1, 500, 5, 10)
    want = W.expected_aggs(t.clean)
    for name in W.AGG_QUERIES:
        rows = [(k, v) for k, v in want[name].items()]
        assert W.compare_map(name, rows, want[name]) is None
        bad = [(k, v * 1.001 if i == 0 else v) for i, (k, v) in enumerate(rows)]
        assert W.compare_map(name, bad, want[name])
        assert W.compare_map(name, rows[1:], want[name])
    assert W.check_totals("lookup", 2, 3.5, [1.0, 2.5]) is None
    assert W.check_totals("lookup", 2, 3.6, [1.0, 2.5])
    assert W.check_totals("lookup", 0, None, []) is None


def test_corpus_checks_catch_corruption():
    funnel = dict(zip(W.FUNNEL, (10, 9, 8, 7, 5)))
    pairs = [(1, 2, 0.75), (3, 9, 0.5)]
    want = W.lsh_key(pairs)
    assert W.check_corpus(dict(funnel), funnel, pairs, want) is None
    assert W.check_corpus({**funnel, "n_after_quality": 7}, funnel, pairs, want)
    assert W.check_corpus(funnel, funnel, pairs[:1], want)
    assert W.check_corpus(funnel, funnel, [(1, 2, 0.7), (3, 9, 0.5)], want)


# -- BENCHMARK.json against the program ------------------------------------------
def test_spec_matches_the_program():
    import run

    assert [w["name"] for w in SPEC["workloads"]] == list(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.E2E_UNITS
    layer = {m["name"] for m in SPEC["per_layer"]}
    printed = set(run.LAYER_TIMES) | set(run.LAYER_COUNTS) | {
        "session.get_spark_s", "gold.rerun_s", "llm_prep.survivor_commit_s",
        "snaptable.files_planned_per_query", "snaptable.files_kept_ratio", "trace.overhead_s",
    }
    assert layer == printed


def test_without_the_engine_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ev_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


# -- each workload end to end at a tiny size -------------------------------------------
def run_tiny(workload: str, trace: int, tmp_path) -> tuple[dict, str]:
    out = subprocess.run(
        [*RUN, "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), out.stdout


REPORTED = {
    "ev_etl": ["etl_rows_per_s", "silver_job_s", "gold_job_s", "bytes_per_live_byte"],
    "dashboard": ["agg_query_p50_s", "lookup_query_p50_s", "lookup_query_p90_s", "queries_per_s"],
    "lake_mutations": ["mutation_cycle_p50_s", "read_after_commit_p50_s", "maintenance_s", "bytes_per_live_byte"],
    "corpus_prep": ["corpus_docs_per_s"],
}


@pytest.mark.parametrize("workload", list(W.WORKLOADS))
def test_tiny_run_prints_every_metric(workload, tmp_path):
    result, stdout = run_tiny(workload, 0, tmp_path)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    for name in [*REPORTED[workload], "setup_s", "peak_rss_mb", "ops_failed_ratio"]:
        assert f"\n{name} = " in stdout, name


def test_tiny_traced_run_prints_every_layer_metric(tmp_path):
    result, _ = run_tiny("lake_mutations", 1, tmp_path)
    assert result["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["metrics"]["snaptable.merge_into_s"]["value"] > 0
    assert result["metrics"]["readers.read_bronze_csv_s"]["value"] == 0
    spans = tmp_path / ".perfbench_work" / "spans-lake_mutations.jsonl"
    names = {json.loads(line)["name"] for line in open(spans)}
    assert {"snaptable.append", "snaptable.merge_into", "spark.execute"} <= names
