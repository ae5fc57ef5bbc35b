"""Self-checks of the benchmark itself (not of the package).

Run from the repository root:  python3 -m pytest perfbench/tests -q
The end-to-end checks run every workload at a tenth of its size for one
second of ops, so the suite takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import run as bench  # noqa: E402
from perfbench.sparklog import plan_counts  # noqa: E402
from perfbench.tracing import op_self_times, union_len  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SCALE = 0.1


def run_small(workload, trace, wrong_reference=False):
    """One benchmark run at a tenth of its size, in its own interpreter
    (the package's module-level UDFs bind to the first JVM they meet).
    `wrong_reference` makes the checker expect a hash one off."""
    code = f"""
import json, sys
sys.path.insert(0, {str(ROOT)!r})
from perfbench import run
from perfbench.workloads import Checker

class WrongReference(Checker):
    def expected(self, wl, i):
        rows, digest = super().expected(wl, i)
        return rows, digest + 1

lines = []
result = run.run({workload!r}, seed=5, seconds=1.0, trace={trace!r},
                 scale={SCALE!r}, emit=lines.append,
                 checker=WrongReference() if {wrong_reference!r} else None)
print(json.dumps({{"result": result, "lines": lines}}))
"""
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    return out["result"], out["lines"]


@pytest.fixture(scope="module")
def results():
    cache: dict = {}

    def get(workload, trace):
        if (workload, trace) not in cache:
            cache[workload, trace] = run_small(workload, trace)
        return cache[workload, trace]

    return get


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [False, True])
def test_printed_metrics_match_benchmark_json(results, workload, trace):
    result, lines = results(workload, trace)
    key = "per_layer" if trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in SPEC[key]}
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    assert printed == declared
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"]
    for name in declared:
        assert any(line.split()[1:2] == [name] for line in lines), name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_self_times_account_for_op_wall(results, workload):
    result, _ = results(workload, True)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    parts = (m["op.driver_self_s"] + m["spark.job_self_s"]
             + m["spark.stage_self_s"] + m["spark.task_wall_s"])
    assert parts == pytest.approx(m["op.wall_s"], rel=1e-9)
    assert m["trace.residual_ratio"] <= bench.RESIDUAL_LIMIT
    assert m["spark.jobs_per_op"] >= 1 and m["spark.tasks_per_op"] >= 1


def test_wrong_reference_shows_as_failures():
    result, lines = run_small("fresh_polygons", False, wrong_reference=True)
    assert result["failed"] == result["attempted"] >= 1
    assert not result["correct"]
    fail_line = next(line for line in lines if " fail_ratio " in line)
    assert float(fail_line.split()[2]) > 0


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tile_join_jpeg",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_union_and_self_time_split():
    assert union_len([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_len([(0, 2)], 1, 10) == 1
    split = op_self_times(0.0, 10.0, jobs=[(1, 9)], stages=[(2, 8)],
                          tasks=[(3, 5), (4, 7)])
    assert split["task_wall"] == 4
    assert split["stage_self"] == 2
    assert split["job_self"] == 2
    assert split["driver_self"] == 2
    assert split["residual"] == 0
    # a task outside every stage counts as residual
    split = op_self_times(0.0, 10.0, jobs=[(1, 9)], stages=[(2, 4)],
                          tasks=[(3, 6)])
    assert split["residual"] == pytest.approx(2)


def test_plan_counts_skip_cached_plans():
    plan = "\n".join([
        "ResultQueryStage 1",
        "+- *(2) HashAggregate(keys=[], functions=[count(1)])",
        "   +- ShuffleQueryStage 0",
        "      +- Exchange SinglePartition",
        "         +- MapInPandas run(id#1L)",
        "            +- InMemoryTableScan [id#1L]",
        "                  +- InMemoryRelation [id#1L]",
        "                        +- ArrowEvalPython [f(x#2)]",
        "                           +- Exchange RoundRobinPartitioning(4)",
    ])
    counts = plan_counts(plan)
    assert counts == {"nodes": 7, "exchanges": 1, "python": 1}
