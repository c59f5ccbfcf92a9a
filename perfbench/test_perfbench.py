"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

The smoke and negative tests run ``run.py`` end to end at sf0.001, each in its
own process like a real run, so together they take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import corpus  # noqa: E402
import run  # noqa: E402

SMOKE_SCALE = 0.001


def _run(workload: str, seed: int, trace: int = 0) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", str(trace),
         "--scale", str(SMOKE_SCALE)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None


@pytest.mark.parametrize("scale", sorted(corpus.SEED42_SHA256))
def test_seed_42_reproduces_the_fixture_tiers(scale):
    from opentelemetry_collector_contrib_spark import fixtures

    out = os.path.join(run.WORK, f"test-seed42-sf{scale}")
    shutil.rmtree(out, ignore_errors=True)
    saved = fixtures.SEED
    fixtures.SEED = 42
    try:
        fixtures.generate_transcripts(scale, out)
        got = corpus.table_sha256(os.path.join(out, "transcripts.parquet"))
    finally:
        fixtures.SEED = saved
        shutil.rmtree(out, ignore_errors=True)
    assert got == corpus.SEED42_SHA256[scale]
    repo_tier = os.path.join(ROOT, "data", f"sf{scale}", "transcripts.parquet")
    if os.path.exists(repo_tier):
        assert corpus.table_sha256(repo_tier) == got


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_each_workload_once(workload):
    code, res = _run(workload, seed=11)
    assert code == 0
    assert res["correct"] and res["attempted"] == 1 and res["failed"] == 0
    assert sorted(res["metrics"]) == sorted(run.END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_each_workload_traced(workload):
    code, res = _run(workload, seed=11, trace=1)
    assert code == 0
    wl = run.WORKLOADS[workload]
    # the timed iteration, the traced one and, with the config pass, its own
    assert res["correct"] and res["attempted"] == 2 + wl.config_pass
    assert sorted(res["metrics"]) == sorted(run.PER_LAYER)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["trace.accounted_frac"] > 0
    assert m["readers.input_mb"] > 0
    assert (m["config.scans_per_iter"] > 0) == wl.config_pass


@pytest.mark.parametrize("workload, trace, path", [
    # a routed sink's row count, checked on every flagship iteration
    ("flagship_batch", 0, ("sinks", "errors", 0)),
    # the count connector's total, checked on the traced config iteration
    ("stream_drain", 1, ("config", "kept")),
])
def test_corrupted_expectation_fails_the_output_check(workload, trace, path):
    seed = 424242
    fx, expected = corpus.ensure_corpus(run.WORK, seed, SMOKE_SCALE)
    try:
        node = expected
        for key in path[:-1]:
            node = node[key]
        node[path[-1]] += 1
        with open(os.path.join(fx, "expected.json"), "w") as f:
            json.dump(expected, f)
        code, res = _run(workload, seed, trace)
        assert code == 0
        assert not res["correct"]
        # only the iteration whose expectation is wrong fails
        assert res["failed"] == 1
    finally:
        shutil.rmtree(os.path.dirname(fx))
