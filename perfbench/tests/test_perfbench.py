"""Self-test of the benchmark, at each workload's own scale factor.
Run from the checkout root:

    python -m pytest perfbench/tests -q

It drives ``perfbench/run.py`` end to end (a timed run, and a traced
run per workload), and checks the DuckDB gate in-process against a
deliberately corrupted query.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import workload  # noqa: E402
from spans import self_times  # noqa: E402

#: per-layer counts that must repeat exactly from one traced pass to
#: the next: the same queries on the same data fire the same work
REPEATING = (
    "queries.build_jobs", "checkpoints.taken", "plans.exchanges", "exec.shuffle_write_bytes",
)


def manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


#: the seed of every run here, and of the fixture's data
SEED = 3


def run_bench(workload_name: str, trace: int) -> tuple[dict, str]:
    """One run with a short measuring window; returns the printed
    result and the path stem of the files it kept."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload_name,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180, check=True,
    )
    stem = os.path.join(BENCH_DIR, "results", f"{workload_name}-seed{SEED}-trace{trace}")
    return json.loads(out.stdout.strip().splitlines()[-1]), stem


def check_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_manifest_matches_the_code():
    m = manifest()
    assert [w["name"] for w in m["workloads"]] == list(workload.WORKLOADS)
    assert {e["name"]: e["unit"] for e in m["end_to_end"]} == workload.END_TO_END
    assert {e["name"]: e["unit"] for e in m["per_layer"]} == workload.PER_LAYER


def test_timed_run_emits_every_end_to_end_metric():
    result, _ = run_bench("olap_star", trace=0)
    check_metrics(result, manifest()["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("name", list(workload.WORKLOADS))
def test_traced_run_emits_layers_that_repeat(name, request):
    result, stem = run_bench(name, trace=1)
    check_metrics(result, manifest()["per_layer"])
    with open(stem + ".json") as f:
        layers = json.load(f)["detail"]["layers_per_pass"]
    assert len(layers) >= 2
    for key in REPEATING:
        assert layers[0][key] == layers[1][key], key
    if name == "olap_star":
        # q1_groupby_agg alone scans all of lineitem once a pass
        on_disk = os.path.getsize(
            os.path.join(request.getfixturevalue("olap_data"), "lineitem.parquet")
        )
        scanned = layers[0]["exec.input_bytes"] + layers[0]["queries.build_input_bytes"]
        # Spark renders the scan size to three digits, so allow 1 %
        assert scanned >= 0.99 * on_disk

    with open(stem + "-spans.json") as f:
        spans = json.load(f)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["name"] == "pass":
            assert s["parent"] is None
        else:
            parent = by_id[s["parent"]]
            assert parent["pass_id"] == s["pass_id"]
            assert parent["start"] <= s["start"] <= s["end"] <= parent["end"]
    assert {"pass", "query", "reset", "build", "plan", "action"} <= {s["name"] for s in spans}
    self_s = self_times(spans)
    total = sum(s["end"] - s["start"] for s in spans if s["name"] == "pass")
    assert sum(self_s.values()) == pytest.approx(total)


def test_self_times_subtract_children():
    spans = [
        {"id": 0, "name": "pass", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "query", "start": 1.0, "end": 7.0, "parent": 0},
        {"id": 2, "name": "build", "start": 1.0, "end": 3.0, "parent": 1},
        {"id": 3, "name": "action", "start": 3.0, "end": 6.5, "parent": 1},
    ]
    assert self_times(spans) == pytest.approx(
        {"pass": 4.0, "query": 0.5, "build": 2.0, "action": 3.5}
    )


def test_cpu_since_follows_threads_that_come_and_go():
    from proc import cpu_since

    # thread 1 ran 0.5 s, thread 3 started in between, thread 2 stopped
    assert cpu_since({1: 1.0, 2: 5.0}, {1: 1.5, 3: 0.25}) == pytest.approx(0.75)


@pytest.fixture(scope="module")
def olap_data(tmp_path_factory) -> str:
    """olap_star's inputs for SEED, as the benchmark generates them."""
    from tools.gen_testdata import generate

    data = str(tmp_path_factory.mktemp("olap_data"))
    generate(workload.WORKLOADS["olap_star"].sf, data, SEED)
    return data


@pytest.fixture(scope="module")
def run_in_process(tmp_path_factory, olap_data):
    """A Run on olap_star's data with a live session, for the parity gate."""
    from cubert_spark import get_session

    work = tmp_path_factory.mktemp("perfbench")
    args = argparse.Namespace(workload="olap_star", seed=SEED, work=str(work))
    run = workload.Run(args)
    run.data_dir = olap_data
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "2")
    run.spark = get_session("perfbench-selftest", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    })
    yield run
    run.spark.stop()


def test_corrupted_output_fails_the_gate(run_in_process):
    from cubert_spark.queries import all_queries

    run = run_in_process
    q1 = all_queries()["q1_groupby_agg"]
    run.wl = workload.Workload(run.sf, ("q1_groupby_agg",))

    run.queries = {"q1_groupby_agg": q1}
    assert [r["ok"] for r in run.parity_pass()] == [True]
    assert run.failures == []

    # one aggregate off by one in one group is enough
    def corrupted(spark, sf_dir):
        from pyspark.sql import functions as F

        df = q1(spark, sf_dir)
        first = df.orderBy(*df.columns).limit(1)
        return df.exceptAll(first).unionByName(
            first.withColumn("count_order", F.col("count_order") + 1)
        )

    run.queries = {"q1_groupby_agg": corrupted}
    assert [r["ok"] for r in run.parity_pass()] == [False]
    assert len(run.failures) / run.attempted > 0
