"""Self-test of the benchmark harness.

    python3 -m pytest perfbench/tests -q

The smoke runs start a local Spark session per workload at the tiny
scale (about 20-30 s each).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import inputs, run  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench(workload: str, seed: int, trace: int = 0) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_names_units_and_benchmark_json_agree():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for table, key in ((run.END_TO_END, "end_to_end"), (run.PER_LAYER, "per_layer")):
        for name, unit in table.items():
            assert NAME.match(name), name
            assert UNIT.match(unit), (name, unit)
        assert [(m["name"], m["unit"]) for m in spec[key]] == list(table.items())
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
    assert "setup_s" in run.END_TO_END


def test_seeds_give_different_inputs():
    a, b = inputs.lineitem(5_000, 1), inputs.lineitem(5_000, 2)
    assert a.schema == b.schema and not a.equals(b)
    assert inputs.orc_predicates(a, 1) != inputs.orc_predicates(b, 2)
    assert inputs.lineitem(5_000, 1).equals(a)


def test_tracer_self_time_and_uninstall():
    from sparc.kernels import rlev2

    orig = rlev2.encode
    tracer = Tracer()
    with tracer.installed():
        assert rlev2.encode is not orig
        with tracer.span("outer"):
            rlev2.encode(__import__("numpy").arange(10_000), signed=True)
    assert rlev2.encode is orig
    st = tracer.self_times()
    outer_s, outer_calls = st["outer"]
    inner_s, inner_calls = st["kernels.rlev2.encode"]
    assert outer_calls == inner_calls == 1
    total = sum(t1 - t0 for _s, p, _n, t0, t1 in tracer.spans if p < 0)
    assert outer_s + inner_s + st.get("kernels.bitpack.pack", (0.0, 0))[0] == pytest.approx(total)
    assert tracer.counters["kernels.rlev2.values"] == 10_000


def test_two_seeds_same_metric_names():
    r1, r2 = _bench("orc-lineitem", 1), _bench("orc-lineitem", 2)
    assert list(r1["metrics"]) == list(r2["metrics"]) == list(run.END_TO_END)
    assert r1["metrics"]["bytes_per_row"] != r2["metrics"]["bytes_per_row"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_tiny(workload):
    r = _bench(workload, 7)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert list(r["metrics"]) == list(run.END_TO_END)
    for name, m in r["metrics"].items():
        assert m["unit"] == run.END_TO_END[name]
        assert m["value"] > 0, name


def test_traced_run_reports_every_layer_metric():
    r = _bench("lookup-pages", 7, trace=1)
    assert r["correct"] and r["failed"] == 0
    assert list(r["metrics"]) == list(run.PER_LAYER)
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert m["engine.stripe.pick_row_groups_calls"] > 0
    assert m["engine.prune.refuted_by_bloom"] > 0
    assert m["job.decode_job.residual_s"] != 0


def test_fails_without_the_program(tmp_path):
    """Outside a checkout (no sparc package) the benchmark exits non-zero
    and prints no result."""
    import shutil

    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "orc-lineitem",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
