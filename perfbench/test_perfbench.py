"""Tests of the benchmark itself. Each Spark run uses ``--tiny`` (small
inputs, no warm-up, three measured passes), so the module takes a few
minutes:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from spans import covered, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
# counts that must repeat exactly for one seed
EXACT = ("codegen.compiles", "spark.jobs", "spark.stages",
         "queries.construct_jobs", "plan.scan_rows", "sinks.files_written")
SEED = 5


def bench(cwd: str, workload: str, trace: int, *extra: str):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "0", "--trace", str(trace),
         "--tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else None


@pytest.fixture(scope="module")
def runs():
    """Tiny runs, made once per (workload, trace, repeat). The spans file
    of a traced run is read right after it, before the repeat replaces
    it."""
    done: dict = {}

    def get(workload: str, trace: int, rep: int = 0):
        key = (workload, trace, rep)
        if key not in done:
            rc, res = bench(ROOT, workload, trace)
            spans = None
            if trace:
                path = os.path.join(
                    ROOT, ".perfbench_out",
                    f"{workload}-seed{SEED}-trace1.spans.json")
                with open(path) as fh:
                    spans = json.load(fh)
            done[key] = (rc, res, spans)
        return done[key]

    return get


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_emitted_with_unit(workload, runs):
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        rc, res, _ = runs(workload, trace)
        assert rc == 0, res
        assert res["correct"] and res["failed"] == 0
        assert res["attempted"] >= 1
        for m in BENCH[kind]:
            got = res["metrics"][m["name"]]
            assert got["unit"] == m["unit"], m["name"]
            assert isinstance(got["value"], (int, float)), m["name"]
    for m in BENCH["end_to_end"]:
        assert runs(workload, 0)[1]["metrics"][m["name"]]["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_self_times_plus_unattributed_sum_to_wall(workload, runs):
    _, _, dump = runs(workload, 1)
    assert dump["steps"]
    for step in dump["steps"]:
        spans = [s for s in dump["spans"] if s["step"] == step["step"]]
        unattributed = step["wall"] - covered(spans)
        assert unattributed >= 0
        total = sum(self_times(spans).values()) + unattributed
        assert total == pytest.approx(step["wall"], rel=1e-9, abs=1e-9)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("name", EXACT)
def test_count_metrics_repeat_for_one_seed(workload, name, runs):
    if (workload, name) == ("iterative", "codegen.compiles"):
        pytest.xfail(
            "iterative compiles more distinct classes per pass than "
            "Spark's codegen cache holds (100); which entries concurrent "
            "tasks evict first varies, so the compile count moves by ~1%")
    a = runs(workload, 1, 0)[1]["metrics"][name]["value"]
    b = runs(workload, 1, 1)[1]["metrics"][name]["value"]
    assert a == b


def test_relational_outputs_match_the_oracle():
    """``relational`` is not listed in BENCHMARK.json (see README.md,
    Scope); keep it runnable and checked."""
    rc, res = bench(ROOT, "relational", 0)
    assert rc == 0, res
    assert res["correct"] and res["failed"] == 0


def test_corrupted_output_fails_the_run():
    rc, res = bench(ROOT, "climate", 0, "--corrupt")
    assert rc == 1
    assert not res["correct"]
    assert res["failed"] >= 1


def test_query_check_rejects_a_changed_value(tmp_path):
    from run import corrupt
    from tests.compare import _driver_hash
    from workloads import Iterative

    wl = Iterative(str(tmp_path), tiny=True)
    out = pd.DataFrame({"token": ["a", "b"], "rank": [0.25, 0.75]})
    wl.oracle["q_token_pagerank"] = _driver_hash(out)
    step = wl._step("q_token_pagerank")
    assert step.check(out) is None
    assert step.check(corrupt(out)) is not None


def test_refuses_a_tree_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, res = bench(str(tmp_path), WORKLOADS[0], 0)
    assert rc != 0
    assert res is None
