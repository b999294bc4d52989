"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke runs start a Spark session each (about a minute apiece); the
other tests need no Spark.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from perfbench.checks import compare
from perfbench.report import PER_LAYER, overhead
from perfbench.stats import tail, tail_percentile

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(*args: str, cwd: Path = ROOT, code: str | None = None):
    cmd = [sys.executable, "-c", code] if code else [sys.executable, "perfbench/run.py"]
    return subprocess.run(
        cmd + list(args), cwd=cwd, capture_output=True, text=True, timeout=600
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("n, p", [(11, 9), (20, 50), (100, 90), (105, 90), (200, 95), (1000, 99)])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    samples = list(range(n))
    got_p, value = tail(samples)
    beyond = [s for s in samples if s > value]
    assert got_p == p and len(beyond) >= 10
    # one percentile higher would leave fewer than ten beyond it
    rank = -(-(p + 1) * n // 100)
    assert n - rank < 10


def test_tail_needs_eleven_samples():
    assert tail_percentile(10) is None and tail(list(range(10))) is None


def test_compare_catches_altered_rows():
    want = (["b", "a"], [(1, "x"), (2.5, None)])
    assert compare((["a", "b"], [(None, 2.5), ("x", 1)]), want) is None
    assert "differ" in compare((["b", "a"], [(1, "x"), (2.6, None)]), want)
    assert "rows" in compare((["b", "a"], [(1, "x")]), want)
    assert "columns" in compare((["b", "c"], [(1, "x"), (2.5, None)]), want)


def test_overhead_cancels_a_linear_speed_up():
    # cycles speed up by 0.5 s each; traced ones cost 0.2 s more
    times = [(i % 2 == 1, 10.0 - 0.5 * i + (0.2 if i % 2 else 0.0)) for i in range(5)]
    s, pct = overhead(times)
    assert s == pytest.approx(0.2)
    assert pct == pytest.approx((100 * 0.2 / 9.5 + 100 * 0.2 / 8.5) / 2)


def test_spec_lists_every_reported_metric():
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER
    names = {m["name"] for m in SPEC["end_to_end"]}
    assert {"setup_s", "cycle_s"} == names


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    proc = _run(
        "--workload", "signal_refresh", "--seed", "1", "--seconds", "1", cwd=tmp_path
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    res = _result(
        _run("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace))
    )
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {n: m["unit"] for n, m in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_altered_op_result_is_reported_failed():
    """Duplicate one row of a refresh step's output: the upsert merges
    it, the warehouse table no longer matches the oracle, and the run
    counts that op as failed."""
    code = textwrap.dedent(
        f"""
        import functools, sys
        sys.path.insert(0, {str(ROOT)!r})
        sys.argv[0] = "perfbench/run.py"
        from economic_data_project_spark import registry
        from perfbench import run
        registry.load_all()
        orig = registry.QUERIES["signal_fear_greed"]

        @functools.wraps(orig)
        def altered(spark, src):
            df = orig(spark, src)
            return df.unionByName(df.orderBy("d", ascending=False).limit(1))

        registry.QUERIES["signal_fear_greed"] = altered
        sys.exit(run.main(sys.argv[1:]))
        """
    )
    res = _result(
        _run("--workload", "signal_refresh", "--seed", "3", "--seconds", "1", code=code)
    )
    assert not res["correct"]
    assert res["failed"] == 1
