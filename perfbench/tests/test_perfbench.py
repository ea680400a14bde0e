"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark and take a few minutes; `-k "not smoke"`
runs the fast ones only.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
from tracer import Tracer  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _tables(d):
    out = {}
    for name in gen.TABLES:
        with open(os.path.join(d, f"{name}.parquet"), "rb") as fh:
            out[name] = fh.read()
    return out


def test_inputs_repeat_for_a_seed_and_differ_across_seeds(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7, 0.001)
    b = gen.generate(str(tmp_path / "b"), 7, 0.001)
    c = gen.generate(str(tmp_path / "c"), 8, 0.001)
    ta, tb, tc = (_tables(str(tmp_path / x)) for x in "abc")
    assert ta == tb
    assert a["planted_docs"] == b["planted_docs"]
    # every generated table changes with the seed (region and nation
    # are fixed dimension tables)
    changed = {n for n in gen.TABLES if ta[n] != tc[n]}
    assert changed == set(gen.TABLES) - {"region", "nation"}
    # ...while the amount of work stays the same
    assert {n: t["rows"] for n, t in a["tables"].items()} == \
        {n: t["rows"] for n, t in c["tables"].items()}


def test_statement_order_follows_the_seed_only():
    from workloads import PipelineEtl

    w = PipelineEtl()

    def names(seed, k):
        return [s.name for s in w.statements(seed, k)]

    assert names(1, 0) == names(1, 0)
    assert sorted(names(1, 0)) == sorted(names(2, 0))
    orders = {tuple(names(s, 0)) for s in range(20)}
    assert len(orders) > 1


def test_metric_names_match_benchmark_json():
    from workloads import WORKLOADS

    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        metrics.PER_LAYER
    assert "setup_s" in metrics.END_TO_END


def test_self_times_sum_to_the_root():
    ticks = iter(range(100))
    tr = Tracer(clock=lambda: float(next(ticks)))
    root = len(tr.spans)
    with tr.span("pass"):
        with tr.span("a"):
            with tr.span("b"):
                pass
            with tr.span("b"):
                pass
        with tr.span("c"):
            pass
    with tr.span("after"):
        pass
    selfs = tr.self_times(root)
    assert set(selfs) == {"pass", "a", "b", "c"}
    assert sum(selfs.values()) == tr.spans[root].duration
    assert selfs["b"] == 2.0


def test_install_wraps_and_restores():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

        @staticmethod
        def g(x):
            return x * 2

    original = Owner.f, Owner.g
    tr = Tracer()
    tr.install([(Owner, "f", "owner.f"), (Owner, "g", "owner.g", "doubled")])
    assert Owner.f(1) == 2
    assert Owner.g(3) == 6 and Owner.g(4) == 8
    assert [s.name for s in tr.spans] == ["owner.f", "owner.g", "owner.g"]
    assert tr.kept == {"doubled": 8}
    tr.uninstall()
    assert (Owner.f, Owner.g) == original


def test_tail_percentile_leaves_ten_samples():
    assert metrics.tail_percentile(24) == 58
    assert metrics.tail_percentile(100) == 90
    n = 24
    p = metrics.tail_percentile(n)
    xs = list(range(n))
    beyond = sum(1 for x in xs if x > metrics.nearest_rank(xs, p))
    assert beyond >= 10


_SMOKE = """
import sys
sys.path.insert(0, {bench!r})
import run, workloads
workloads.SCALE = 0.001
for w in workloads.WORKLOADS.values():
    w.warmup_passes = 0
    w.min_warm_passes = 1
    w.trace_pairs = 1
sys.exit(run.main(sys.argv[1:]))
"""


@pytest.mark.parametrize("workload", ["adhoc_sql", "pipeline_etl"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    """A tiny-input run goes through every statement of the workload and
    prints the metric set BENCHMARK.json names for the mode."""
    cmd = [sys.executable, "-c", _SMOKE.format(bench=BENCH),
           "--workload", workload, "--seed", "3", "--seconds", "0",
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    stamp = json.loads(lines[-2])["stamp"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], stamp["mismatches"]
    assert result["attempted"] >= 1 and result["failed"] == 0
    spec = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert {n: m["unit"] for n, m in result["metrics"].items()} == spec
    assert set(stamp["end_to_end"]) == set(metrics.END_TO_END)
    prefix = os.path.join(ROOT, ".perfbench", "results",
                          f"{workload}-s3-t{trace}-{stamp['pid']}")
    assert os.path.exists(prefix + ".json")
    if trace:
        assert abs(stamp["trace_self_sum_residual_s"]) < 1e-6
        assert os.path.exists(prefix + ".spans.json")


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command fails
    without printing a result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "adhoc_sql",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
