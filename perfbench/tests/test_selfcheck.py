"""Self-check of the benchmark at small inputs (the sf0.001 row counts).

Runs every workload end to end at ``--scale tiny`` and checks the result
line against ``BENCHMARK.json``. Takes a few minutes (one Spark session
per run). The repo's pytest.ini selects ``-m fast`` by default, so run
with the marker filter cleared:

    python -m pytest perfbench/tests -m "" -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture
def workdir(request):
    """A scratch directory inside the checkout's ignored work area."""
    path = os.path.join(ROOT, ".perfbench_work", f"selfcheck-{os.getpid()}-{request.node.name}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def test_benchmark_json_matches_the_runner():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    names = [w["name"] for w in spec["workloads"]]
    assert set(names) <= set(run.WORKLOADS) and 2 <= len(names) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")


def test_inputs_depend_only_on_the_seed(workdir):
    scale = inputs.SCALES["tiny"]
    orders = []
    for sub, seed in (("a", 1), ("b", 1), ("c", 2)):
        os.makedirs(os.path.join(workdir, sub))
        inputs.write_star(seed, scale, os.path.join(workdir, sub))
        with open(os.path.join(workdir, sub, "orders.parquet"), "rb") as fh:
            orders.append(fh.read())
    assert orders[0] == orders[1] != orders[2]
    assert inputs.corpus(1, 50) == inputs.corpus(1, 50) != inputs.corpus(2, 50)
    v1, q1 = inputs.embeddings(1, scale)
    v2, q2 = inputs.embeddings(1, scale)
    assert (v1 == v2).all() and (q1 == q2).all()


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_workload_runs_and_checks_out(workload):
    code, lines = _run(workload, trace=0)
    assert code == 0, lines
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    code, lines = _run("vector_search", trace=1)
    assert code == 0, lines
    metrics = json.loads(lines[-1])["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == run.per_layer_units()
    assert metrics["operators.similarity.ivf.wall_s"]["value"] > 0
    assert metrics["operators.similarity.ivf.jobs"]["value"] >= 1
    assert metrics["operators.similarity.ivf.recall_at10"]["value"] >= 0.85


def test_fails_without_the_program(workdir):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    runner exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), workdir)
    shutil.copytree(BENCH, os.path.join(workdir, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = _run("feeder_wave", trace=0, cwd=workdir)
    assert code != 0
    assert not any(line.startswith("{") for line in lines)
