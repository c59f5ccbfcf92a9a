"""Checkpoint/lineage pipeline runner (plans/runner.py).

Reference analog under test: resume-from-checkpoint semantics of
pkg/stanza/fileconsumer/internal/checkpoint/checkpoint.go:20-45 —
a restart must not redo committed work, and must redo it when the
input changes (offset invalidation ↔ fingerprint mismatch).
"""

import json
import os
import time
import uuid

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.plans.flagship import (
    flagship_stages,
    run_flagship,
)
from opentelemetry_collector_contrib_spark.plans.runner import (
    STATE_DIR,
    PipelineRunner,
    Stage,
    source_fingerprint,
)


def _jobs_launched(spark, fn):
    """Run ``fn()`` under a job group of its own; returns (the number of
    Spark jobs it launched, fn's result)."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc._jsc.clearJobGroup()
    # the status store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def _state(ckpt, stage):
    with open(os.path.join(ckpt, STATE_DIR, f"{stage}.json")) as f:
        return json.load(f)


def test_runner_resume_and_lineage(spark, sf_dir, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    stages, fps = flagship_stages(sf_dir)

    r1 = PipelineRunner(spark, ckpt)
    out1 = r1.run(stages, fps)
    assert r1.computed == [s.name for s in stages]
    assert r1.skipped == []

    # every stage has a committed state record with lineage
    m = {row["stage"]: row for row in r1.metrics_table().collect()}
    assert set(m) == {s.name for s in stages}
    for row in m.values():
        assert row["status"] == "committed"
        assert row["n_files"] >= 1

    # rows_out in state == actual checkpoint row count
    enr_rows = out1["enriched"].count()
    assert m["enriched"]["rows_out"] == enr_rows

    # resume: second run computes nothing and launches no Spark job
    r2 = PipelineRunner(spark, ckpt)
    n_jobs, out2 = _jobs_launched(spark, lambda: r2.run(stages, fps))
    assert n_jobs == 0
    assert r2.computed == []
    assert set(r2.skipped) == {s.name for s in stages}
    assert out2["metrics_counts"].count() == out1["metrics_counts"].count()

    # checkpointed results match a direct (uncheckpointed) run
    direct = run_flagship(spark, sf_dir)
    assert (
        sorted(map(tuple, out2["metrics_counts"].collect()))
        == sorted(map(tuple, direct["metrics_counts"].collect()))
    )


def test_runner_recomputes_on_input_change(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    src = tmp_path / "src"
    src.mkdir()
    data = src / "t.txt"
    data.write_text("v1\n")

    def s_read(sp, ctx):
        return sp.createDataFrame([(data.read_text().strip(),)], "v string")

    def s_up(sp, ctx):
        return ctx["read"].select(F.upper("v").alias("v"))

    stages = [
        Stage("read", s_read, deps=["src"]),
        Stage("up", s_up, deps=["read"]),
    ]

    r = PipelineRunner(spark, ckpt)
    r.run(stages, {"src": source_fingerprint(str(src))})
    assert r.computed == ["read", "up"]

    # same input → full skip
    r.run(stages, {"src": source_fingerprint(str(src))})
    assert r.computed == []

    # change input → fingerprint differs → both stages recompute
    time.sleep(0.01)
    data.write_text("v2\n")
    out = r.run(stages, {"src": source_fingerprint(str(src))})
    assert r.computed == ["read", "up"]
    assert out["up"].collect()[0]["v"] == "V2"


def test_runner_version_bump_recomputes_downstream_only(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")

    def s_a(sp, ctx):
        return sp.range(10).withColumnRenamed("id", "n")

    def s_b(sp, ctx):
        return ctx["a"].select((F.col("n") * 2).alias("n2"))

    a = Stage("a", s_a)
    b = Stage("b", s_b, deps=["a"])
    r = PipelineRunner(spark, ckpt)
    r.run([a, b], {})
    assert r.computed == ["a", "b"]

    # bump only b's code version → a resumes from checkpoint, b recomputes
    b2 = Stage("b", s_b, deps=["a"], version="2")
    r.run([a, b2], {})
    assert r.computed == ["b"]
    assert r.skipped == ["a"]


def test_runner_partial_crash_recovery(spark, tmp_path):
    """Missing _SUCCESS (simulated crash mid-write) → stage re-runs even
    though a state record exists."""
    ckpt = str(tmp_path / "ckpt")

    def s_a(sp, ctx):
        return sp.range(5)

    a = Stage("a", s_a)
    r = PipelineRunner(spark, ckpt)
    r.run([a], {})
    os.remove(os.path.join(ckpt, "a", "_SUCCESS"))
    r.run([a], {})
    assert r.computed == ["a"]


def test_runner_fresh_stage_is_one_job(spark, tmp_path):
    """A computed stage costs its checkpoint write alone: the read-back
    takes the stored schema (no inference job) and lineage comes from
    the parquet footers (no groupBy job)."""
    ckpt = str(tmp_path / "ckpt")
    r = PipelineRunner(spark, ckpt)
    n_jobs, out = _jobs_launched(
        spark, lambda: r.run([Stage("a", lambda sp, ctx: sp.range(10))], {})
    )
    assert r.computed == ["a"]
    assert n_jobs == 1
    assert out["a"].schema == spark.read.parquet(os.path.join(ckpt, "a")).schema
    assert _state(ckpt, "a")["rows_out"] == 10


def test_runner_state_without_schema_recomputes(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    a = Stage("a", lambda sp, ctx: sp.range(5))
    r = PipelineRunner(spark, ckpt)
    r.run([a], {})
    rec = _state(ckpt, "a")
    del rec["schema"]
    with open(os.path.join(ckpt, STATE_DIR, "a.json"), "w") as f:
        json.dump(rec, f)
    out = r.run([a], {})
    assert r.computed == ["a"]
    assert "schema" in _state(ckpt, "a")
    assert out["a"].count() == 5


def test_runner_footer_lineage_matches_input_file_name(spark, tmp_path):
    """Footer-derived per-file row counts equal what a scan attributes to
    each file; an empty stage records no files and no partitions."""
    ckpt = str(tmp_path / "ckpt")
    stages = [
        Stage("multi", lambda sp, ctx: sp.range(1000).repartition(3)),
        Stage("empty", lambda sp, ctx: sp.range(10).filter("id < 0")),
    ]
    r = PipelineRunner(spark, ckpt)
    out = r.run(stages, {})

    multi = _state(ckpt, "multi")
    by_scan = sorted(
        (
            {"file": os.path.basename(row["file"]), "rows": row["rows"]}
            for row in spark.read.parquet(os.path.join(ckpt, "multi"))
            .groupBy(F.input_file_name().alias("file"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        ),
        key=lambda p: p["file"],
    )
    assert multi["n_files"] == 3
    assert multi["partitions"] == by_scan
    assert multi["rows_out"] == 1000

    empty = _state(ckpt, "empty")
    assert (empty["rows_out"], empty["n_files"], empty["partitions"]) == (
        0, 0, [],
    )
    assert out["empty"].count() == 0
