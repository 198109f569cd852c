"""The benchmark's own tests, on sf0.001 and a tiny generated directory.

Run from the root of a checkout::

    python -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

They start Spark (in subprocesses and in this process), so they take a
few minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace)]
    if cwd == ROOT:
        cmd += ["--scale", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_with_its_unit(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stdout[-2000:]
    assert result["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), WORKLOADS[0], 0)
    assert proc.returncode != 0
    assert not any(line.startswith("{") for line in proc.stdout.splitlines())


def test_seed_changes_input_and_warm_order_not_cold_order(tmp_path):
    sys.path.insert(0, ROOT)
    from perfbench import whogen
    from perfbench.workloads import ITERATIVE, IterativeDriver

    for seed in (1, 1, 2):
        whogen.generate(str(tmp_path / f"s{seed}"), seed, countries=6, days=20)
    whogen.generate(str(tmp_path / "again"), 1, countries=6, days=20)
    same = filecmp.dircmp(tmp_path / "s1" / "batch1", tmp_path / "again" / "batch1")
    assert not same.diff_files and not same.left_only and not same.right_only
    other = filecmp.dircmp(tmp_path / "s1" / "batch1", tmp_path / "s2" / "batch1")
    assert not other.left_only and not other.right_only
    assert other.diff_files

    orders = {}
    for seed in (1, 2):
        wl = IterativeDriver(ROOT, str(tmp_path), seed, "tiny")
        ops = wl.ops(None, str(tmp_path))
        assert [op.name for op in ops] == ITERATIVE
        orders[seed] = [[op.name for op in wl.warm_order(ops)] for _ in range(4)]
    assert orders[1] != orders[2]
    wl = IterativeDriver(ROOT, str(tmp_path), 1, "tiny")
    ops = wl.ops(None, str(tmp_path))
    assert [[op.name for op in wl.warm_order(ops)] for _ in range(4)] == orders[1]


class _Catalog:
    def clearCache(self) -> None:  # noqa: N802 - the Spark method's name
        pass


class _Spark:
    catalog = _Catalog()


class _DriftsOnRepeat:
    """An operation that returns the right answer on its first two runs
    and a wrong one afterwards: a defect only warm passes can show."""

    has_outputs = False

    def __init__(self) -> None:
        self.runs = 0

    def _run(self, _) -> int:
        self.runs += 1
        return 42 if self.runs <= 2 else 41

    def ops(self) -> list:
        from perfbench.workloads import Op

        return [Op("answer", lambda: None, self._run,
                   lambda _, got: [] if got == 42 else [f"{got} != 42"])]

    def warm_order(self, ops: list) -> list:
        return list(ops)


def test_warm_passes_are_checked(tmp_path):
    sys.path.insert(0, ROOT)
    from perfbench import run

    wl = _DriftsOnRepeat()
    runner = run.Runner(wl, trace=False)
    ops = wl.ops()
    runner.run_pass(_Spark(), ops, str(tmp_path), False, "cold", check=False)
    untraced, traced = run.warm_passes(runner, _Spark(), wl, ops, str(tmp_path), 0.0, False)
    assert (len(untraced), len(traced), runner.failed) == (1, 0, 0)
    untraced, _ = run.warm_passes(runner, _Spark(), wl, ops, str(tmp_path), 0.0, False)
    assert runner.failed == 1 and runner.errors == ["check answer: 41 != 42"]


@pytest.fixture(scope="module")
def session():
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    from perfbench import run

    run.pin_environment()
    _, spark = run.timed_launch()
    yield run, spark
    run.stop_session(spark)


def _checked_pass_failures(run, spark, wl) -> tuple[int, list[str]]:
    runner = run.Runner(wl, trace=False)
    out_dir = os.path.join(run.WORK, "test-out")
    runner.run_pass(spark, wl.ops(spark, out_dir), out_dir, False, "warm", check=True)
    return runner.failed, runner.errors


def test_wrong_oracle_is_a_counted_failure(session):
    run, spark = session
    from perfbench.workloads import IterativeDriver

    wl = IterativeDriver(run.ROOT, run.WORK, 1, "tiny")
    assert _checked_pass_failures(run, spark, wl) == (0, [])
    q = wl.queries[0]
    wl.oracles = dict(wl.oracles, **{q: f"SELECT * FROM ({wl.oracles[q]}) LIMIT 0"})
    failed, errors = _checked_pass_failures(run, spark, wl)
    assert failed == 1 and errors[0].startswith(f"check {q}: rowcount")


def test_wrong_ground_truth_is_a_counted_failure(session):
    run, spark = session
    from perfbench.workloads import WhoWarehouse

    wl = WhoWarehouse(run.ROOT, run.WORK, 1, "tiny")
    wl.truth = dict(wl.truth, fact_keys_load=wl.truth["fact_keys_load"] + 1)
    failed, errors = _checked_pass_failures(run, spark, wl)
    assert failed == 1 and errors[0].startswith("check load: fact rows")
