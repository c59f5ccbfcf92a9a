"""sparklog benchmark: closed-loop pipeline workloads on local[4].

    python3 perfbench/run.py --workload flagship_batch --seed 1 --seconds 5 --trace 0

Builds a seeded corpus (cached per seed), starts one Spark session, runs an
untimed warm-up, then runs iterations back to back until
``--seconds`` have passed, checking every iteration's output against the DuckDB
oracle. The last stdout line is one JSON object: with ``--trace 0`` it holds the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of one extra traced
iteration (see README.md). Everything the run writes stays under
``perfbench/.work``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import copy  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from functools import reduce  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path[:0] = [ROOT, HERE]

import corpus  # noqa: E402
import spans  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from opentelemetry_collector_contrib_spark.config import (  # noqa: E402
    CollectorConfig,
    load_config,
)
from opentelemetry_collector_contrib_spark.operators.enrich import (  # noqa: E402
    enrich_transcripts,
)
from opentelemetry_collector_contrib_spark.operators.parse import (  # noqa: E402
    parse_transcripts,
)
from opentelemetry_collector_contrib_spark.plans.flagship import (  # noqa: E402
    build_router,
    flagship_stages,
)
from opentelemetry_collector_contrib_spark.plans.runner import (  # noqa: E402
    PipelineRunner,
)
from opentelemetry_collector_contrib_spark.session import get_spark  # noqa: E402
from opentelemetry_collector_contrib_spark.sources.readers import (  # noqa: E402
    read_dims,
    read_transcripts,
)
from opentelemetry_collector_contrib_spark.streaming.pipeline import (  # noqa: E402
    streaming_flagship,
)

CORES = 4
# the driver heap, fixed (-Xms = -Xmx): a heap that grows spreads peak RSS
# too far from run to run (README.md, "Heap")
HEAP = "2g"
# the corpus: about 64k turns. A larger one costs every run seconds of input
# building and warm-up, and the operators' cost here is mostly per task, not
# per row (see README.md)
SCALE = 0.01
# 64 files, 8 per trigger: every trigger pays about a second of fixed cost
# whatever its size, and 8 triggers keep a run near 50 s
MAX_FILES_PER_TRIGGER = 8
# each prefix cut is a 1-3 s action; its median of three keeps the
# differences between cuts from being mostly noise
PREFIX_REPEATS = 3
# the config pass's cuts each re-run the receiver's parse; two passes keep
# it within a traced run's time limit
CONFIG_CUT_REPEATS = 2
STAGES = (
    "enriched", "sink_errors", "sink_tool_bash", "sink_slow", "sink_default",
    "metrics_counts", "metrics_durations", "conversation_rollup",
)
# the config pass: the repo's example collector config; its input pipeline
# holds the receiver and the processors chain
CONFIG_PATH = os.path.join(ROOT, "configs", "example_pipeline.yaml")
CONFIG_INPUT = "logs/in"
CONFIG_EXPORTERS = ("file/errors", "file/tools", "file/default", "debug/metrics")
# processor type -> the per-layer metric of its prefix-cut increment
CONFIG_LAYERS = {
    "transform": "ottl.transform_incr_s",
    "filter": "filter.incr_s",
    "redaction": "redact.incr_s",
}


def export_metric(exporter: str) -> str:
    return "config.export_s." + exporter.replace("/", "_")


END_TO_END = {
    "turns_per_s": "1/s",
    "microbatch_ms_p50": "ms",
    "microbatch_ms_tail": "ms",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
}
PER_LAYER = {
    "readers.scan_s": "s",
    "readers.input_mb": "MB",
    "parse.incr_s": "s",
    "parse.sev_hit_frac": "ratio",
    "enrich.incr_s": "s",
    "route.incr_s": "s",
    "route.fanout": "ratio",
    "route.write_s": "s",
    "route.files_written": "count",
    **{f"runner.stage_s.{s}": "s" for s in STAGES},
    "runner.jobs_per_stage": "count",
    "runner.ckpt_mb": "MB",
    "aggregate.counts_s": "s",
    "aggregate.sums_s": "s",
    "group.rollup_s": "s",
    "group.shuffle_mb": "MB",
    "group.task_skew": "ratio",
    "streaming.triggers": "count",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.overhead_ms_p50": "ms",
    "streaming.plan_ms_p50": "ms",
    "streaming.commit_ms_p50": "ms",
    "config.build_s": "s",
    "config.scans_per_iter": "count",
    "config.turns_per_s": "1/s",
    "ottl.transform_incr_s": "s",
    "filter.incr_s": "s",
    "filter.drop_frac": "ratio",
    "redact.incr_s": "s",
    **{export_metric(e): "s" for e in CONFIG_EXPORTERS},
    "config.accounted_frac": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.cpu_util": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "jvm.heap_peak_mb": "MB",
    "jvm.non_heap_mb": "MB",
    "python.rss_mb": "MB",
    "trace.overhead_frac": "ratio",
    "trace.accounted_frac": "ratio",
}


# -- helpers -----------------------------------------------------------------

def row_hash(cols) -> F.Column:
    """Spark twin of ``corpus.row_hash_sql``."""
    row = F.concat_ws("#", *[F.col(c).cast("string") for c in cols])
    return F.conv(F.substring(F.md5(row), 1, 8), 16, 10).cast("long")


def fingerprints(df: DataFrame, cols, key: str | None = None):
    """[rows, summed row hash] of the frame, or {key value: [...]} per value
    of ``key``, in one action."""
    rows = (
        df.groupBy(*[key] if key else [])
        .agg(F.count(F.lit(1)).alias("n"), F.sum(row_hash(cols)).alias("h"))
        .collect()
    )
    if key is None:
        return [rows[0]["n"], rows[0]["h"]]
    return {r[key]: [r["n"], r["h"]] for r in rows}


def mismatches(expected: dict, observed: dict) -> list[str]:
    return [
        f"{k}: expected {expected.get(k)!r}, got {v!r}"
        for k, v in observed.items()
        if expected.get(k) != v
    ]


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def prefix_cuts(spark, fx: str, tracer: spans.Tracer) -> float:
    """One action per layer prefix: scan, + parse, + enrich, + route tag and
    explode. Successive differences are each layer's incremental cost.
    Returns the share of turns whose severity token mapped."""
    df = read_transcripts(spark, fx)
    with tracer.span("prefix.readers"):
        noop(df)
    df = parse_transcripts(df)
    with tracer.span("prefix.parse"):
        noop(df)
    sev_hit = df.agg(F.avg(F.col("severity_text").isNotNull().cast("double"))).first()[0]
    roles, tools = read_dims(spark, fx)
    df = enrich_transcripts(df, roles, tools)
    with tracer.span("prefix.enrich"):
        noop(df)
    df = build_router().tags_multi(df).withColumn("sink", F.explode_outer("routes"))
    with tracer.span("prefix.route"):
        noop(df)
    return sev_hit


@dataclass
class Iteration:
    wall_s: float  # the timed call(s), nothing else
    unit_ms: list[float]  # per trigger; a batch iteration is one unit
    out_bytes: int  # sinks + checkpoints
    observed: dict  # compared against the workload's expectations
    detail: dict = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)


# -- workloads ---------------------------------------------------------------

class FlagshipBatch:
    """PipelineRunner over flagship_stages into a fresh checkpoint root.
    A batch run is one trigger: its unit is the whole iteration."""

    name = "flagship_batch"
    config_pass = False

    def __init__(self, spark, fx, expected, scratch, tracer):
        self.spark, self.fx, self.scratch, self.tracer = spark, fx, scratch, tracer
        self.expected = {k: expected[k] for k in ("sinks", "counts", "durations", "rollup")}
        self.turns = expected["turns"]
        self.in_bytes = os.path.getsize(os.path.join(fx, "transcripts.parquet"))

    def warm_up(self) -> None:
        self.iterate()

    def iterate(self) -> Iteration:
        root = fresh(os.path.join(self.scratch, "ckpt"))
        stages, fps = flagship_stages(self.fx)
        runner = PipelineRunner(self.spark, root)
        t0 = time.perf_counter()
        if self.tracer.enabled:
            # committed stages are skipped, so call k runs stage k alone
            with self.tracer.span("iteration"):
                for k, st in enumerate(stages, 1):
                    with self.tracer.span(f"runner.{st.name}"):
                        out = runner.run(stages[:k], fps)
        else:
            out = runner.run(stages, fps)
        wall = time.perf_counter() - t0
        state = {r["stage"]: r for r in runner.metrics_table().collect()}
        sinks = reduce(DataFrame.unionByName, [
            out[f"sink_{r}"].select(F.lit(r).alias("route"), *corpus.SINK_COLS)
            for r in corpus.ROUTES
        ])
        rollup = out["conversation_rollup"].select(
            "conv_id",
            F.col("n_turns").cast("long"),
            F.col("n_errors").cast("long"),
            F.col("total_dur_ms").cast("long"),
            F.col("first_ts").cast("timestamp").cast("long").alias("first_ts_epoch"),
            F.col("last_ts").cast("timestamp").cast("long").alias("last_ts_epoch"),
            F.col("max_severity").cast("int"),
        )
        observed = {
            "sinks": fingerprints(sinks, corpus.SINK_COLS, "route"),
            "counts": sorted(list(r) for r in out["metrics_counts"].select(
                "sink", "severity_text", "tool", "role", "log_count").collect()),
            "durations": sorted(list(r) for r in out["metrics_durations"].select(
                "sink", "role", "total_dur_ms").collect()),
            "rollup": fingerprints(rollup, corpus.ROLLUP_COLS),
        }
        return Iteration(wall, [1e3 * wall], du(root), observed, {"state": state})

    def layers(self, it: Iteration, jobs: dict, m: dict) -> tuple[dict, float]:
        """Adds the per-layer metrics of a traced iteration to ``m``, which
        holds the prefix cuts'. Returns the Spark totals of the iteration's
        jobs, and the seconds its layers account for: scan, parse and enrich
        from the prefix cuts (what the enriched stage adds on top of them is
        its checkpoint write and read-back), then the stages downstream."""
        t, state = self.tracer, it.detail["state"]
        sinks = [s for s in STAGES if s.startswith("sink_")]
        m.update({f"runner.stage_s.{s}": t.seconds(f"runner.{s}") for s in STAGES})
        in_runner = spans.totals(jobs, lambda j: (j["group"] or "").startswith("runner."))
        rollup = spans.totals(jobs, lambda j: j["group"] == "runner.conversation_rollup")
        m.update({
            "route.fanout": sum(state[s]["rows_out"] for s in sinks)
            / state["enriched"]["rows_out"],
            "route.write_s": sum(m[f"runner.stage_s.{s}"] for s in sinks),
            "route.files_written": sum(state[s]["n_files"] for s in sinks),
            "runner.jobs_per_stage": in_runner["jobs"] / len(STAGES),
            "runner.ckpt_mb": it.out_bytes / 1e6,
            "aggregate.counts_s": m["runner.stage_s.metrics_counts"],
            "aggregate.sums_s": m["runner.stage_s.metrics_durations"],
            "group.rollup_s": m["runner.stage_s.conversation_rollup"],
            "group.shuffle_mb": rollup["shuffle_write_b"] / 1e6,
            "group.task_skew": spans.task_skew(rollup["shuffle_read_run_ms"]),
        })
        accounted = sum(m[k] for k in (
            "readers.scan_s", "parse.incr_s", "enrich.incr_s", "route.write_s",
            "aggregate.counts_s", "aggregate.sums_s", "group.rollup_s",
        ))
        return in_runner, accounted


class StreamDrain:
    """streaming_flagship with availableNow over the corpus staged as 64
    parquet files. A unit is one trigger (triggerExecution)."""

    name = "stream_drain"
    # its traced runs also run the config pass (ConfigPass): config_pipeline
    # is not a workload of its own (README.md, "Not covered")
    config_pass = True

    def __init__(self, spark, fx, expected, scratch, tracer):
        self.spark, self.fx, self.scratch, self.tracer = spark, fx, scratch, tracer
        self.expected = {"sinks": expected["sinks"]}
        self.turns = expected["turns"]
        self.stream_in = os.path.join(fx, "stream_in")
        self.in_bytes = du(self.stream_in)

    def drain(self, stream_in: str, out: str, ckpt: str):
        q = streaming_flagship(
            self.spark, stream_in, self.fx, out, ckpt,
            available_now=True, max_files_per_trigger=MAX_FILES_PER_TRIGGER,
        )
        q.awaitTermination()
        return q

    def warm_up(self) -> None:
        """Four triggers over the first 30 files only: a full warm-up drain
        would cost as much as the timed one."""
        self.drain(
            os.path.join(self.stream_in, "part-000[0-2]*.parquet"),
            fresh(os.path.join(self.scratch, "out")),
            fresh(os.path.join(self.scratch, "ckpt")),
        )

    def iterate(self) -> Iteration:
        out = fresh(os.path.join(self.scratch, "out"))
        ckpt = fresh(os.path.join(self.scratch, "ckpt"))
        t0 = time.perf_counter()
        with self.tracer.span("iteration"):
            q = self.drain(self.stream_in, out, ckpt)
        wall = time.perf_counter() - t0
        progress = [p["durationMs"] for p in q.recentProgress]
        sinks = self.spark.read.parquet(os.path.join(out, "sinks"))
        observed = {"sinks": fingerprints(sinks, corpus.SINK_COLS, "route")}
        return Iteration(
            wall, [p["triggerExecution"] for p in progress],
            du(out) + du(ckpt), observed, {"progress": progress, "out": out},
        )

    def layers(self, it: Iteration, jobs: dict, m: dict) -> tuple[dict, float]:
        """As ``FlagshipBatch.layers``; the layers of a drain are its
        triggers' addBatch and the rest of each trigger."""
        progress = it.detail["progress"]
        (span,) = [s for s in self.tracer.spans if s["name"] == "iteration"]

        def p50(f):
            return statistics.median(f(p) for p in progress)

        files = sum(
            name.endswith(".parquet")
            for _r, _d, names in os.walk(os.path.join(it.detail["out"], "sinks"))
            for name in names
        )
        m.update({
            "route.fanout": sum(n for n, _h in it.observed["sinks"].values()) / self.turns,
            "route.write_s": sum(p["addBatch"] for p in progress) / 1e3,
            "route.files_written": files,
            "streaming.triggers": len(progress),
            "streaming.add_batch_ms_p50": p50(lambda p: p["addBatch"]),
            "streaming.overhead_ms_p50": p50(
                lambda p: p["triggerExecution"] - p["addBatch"]),
            "streaming.plan_ms_p50": p50(lambda p: p["queryPlanning"]),
            "streaming.commit_ms_p50": p50(
                lambda p: p["walCommit"] + p["commitOffsets"]),
        })
        # foreachBatch jobs carry no job group of ours: take the drain's window
        in_drain = spans.totals(jobs, lambda j: span["start"] <= j["submit"] <= span["end"])
        return in_drain, sum(it.unit_ms) / 1e3


class ConfigPass:
    """CollectorConfig over configs/example_pipeline.yaml, its receiver
    re-pointed at the corpus and its file exporters at the run's directory.
    It is the only path through the processors chain (attributes, OTTL
    transform, filter, redaction) and OTTL-compiled routing. Traced runs of
    a workload with ``config_pass`` set run it after their own layers: one
    checked and traced iteration (``run`` plus collecting the debug
    exporter's frame), with no warm-up of its own, then prefix cuts after
    each processor."""

    def __init__(self, spark, fx, expected, scratch, tracer):
        self.spark, self.tracer = spark, tracer
        self.expected = expected["config"]
        self.turns = expected["turns"]
        self.in_bytes = os.path.getsize(os.path.join(fx, "transcripts.parquet"))
        self.out = os.path.join(scratch, "config_out")
        self.cfg = load_config(CONFIG_PATH)
        if tuple(self.cfg["exporters"]) != CONFIG_EXPORTERS:
            raise RuntimeError(f"{CONFIG_PATH} no longer has the exporters {CONFIG_EXPORTERS}")
        self.cfg["receivers"]["transcripts"]["path"] = fx
        for name, ecfg in self.cfg["exporters"].items():
            if "path" in ecfg:
                ecfg["path"] = os.path.join(self.out, name.replace("/", "_"))
        self.processors = self.cfg["service"]["pipelines"][CONFIG_INPUT]["processors"]
        # no cut of the receiver alone: the first processor (attributes) has
        # no layer metric
        self.cut_points = range(1, len(self.processors) + 1)

    def iterate(self) -> Iteration:
        fresh(self.out)
        t0 = time.perf_counter()
        with self.tracer.span("config.iteration"):
            written = CollectorConfig(self.cfg).run(self.spark)
            debug = {}
            for exp, df in written.items():
                if isinstance(df, DataFrame):  # debug exporters return the frame
                    with self.tracer.span(f"config.export.{exp}"):
                        debug[exp] = df.collect()
        wall = time.perf_counter() - t0
        observed = {
            exp: self.spark.read.parquet(path).count()
            for exp, path in written.items() if isinstance(path, str)
        }
        observed["kept"] = sum(r["log_count"] for r in debug["debug/metrics"])
        return Iteration(wall, [1e3 * wall], du(self.out), observed)

    def cut(self, k: int) -> DataFrame:
        """The receiver and the first k processors of the input pipeline,
        into a debug exporter."""
        cfg = copy.deepcopy(self.cfg)
        pipeline = cfg["service"]["pipelines"][CONFIG_INPUT]
        pipeline.update(processors=self.processors[:k], exporters=["debug/cut"])
        cfg["exporters"] = {"debug/cut": {}}
        cfg["service"]["pipelines"] = {CONFIG_INPUT: pipeline}
        return CollectorConfig(cfg).build(self.spark)["debug/cut"]

    def measure(self) -> Iteration | None:
        """The checked iteration, a timed build and the prefix cuts. Returns
        the checked iteration, or None when it raised."""
        it = checked(self)
        with self.tracer.span("config.build"):
            CollectorConfig(self.cfg).build(self.spark)
        cuts = {k: self.cut(k) for k in self.cut_points}
        for _ in range(CONFIG_CUT_REPEATS):
            for k, df in cuts.items():
                with self.tracer.span(f"config.cut{k}"):
                    noop(df)
        return it

    def layers(self, it: Iteration, jobs: dict, execs: dict) -> dict:
        t = self.tracer
        (span,) = [s for s in t.spans if s["name"] == "config.iteration"]
        cut = {k: statistics.median(t.durations(f"config.cut{k}"))
               for k in self.cut_points}
        m = {
            CONFIG_LAYERS[p.split("/")[0]]: cut[k + 1] - cut[k]
            for k, p in enumerate(self.processors) if p.split("/")[0] in CONFIG_LAYERS
        }
        scanned = spans.totals(
            jobs, lambda j: span["start"] <= j["submit"] <= span["end"])["files_read_b"]
        m.update({
            "config.build_s": t.seconds("config.build"),
            "config.scans_per_iter": scanned / self.in_bytes,
            "config.turns_per_s": self.turns / it.wall_s,
            "filter.drop_frac": 1 - it.observed["kept"] / self.turns,
        })
        # a file exporter's time is that of the SQL executions writing its path
        for exp, ecfg in self.cfg["exporters"].items():
            if "path" in ecfg:
                m[export_metric(exp)] = sum(
                    e["end"] - e["start"] for e in execs.values()
                    if ecfg["path"] in e["plan"]
                    and span["start"] <= e["start"] <= span["end"]
                )
            else:
                m[export_metric(exp)] = t.seconds(f"config.export.{exp}")
        m["config.accounted_frac"] = (
            sum(m[export_metric(e)] for e in self.cfg["exporters"]) / it.wall_s)
        return m


WORKLOADS = {w.name: w for w in (FlagshipBatch, StreamDrain)}


# -- run ---------------------------------------------------------------------

def start_spark(run_dir: str, trace: bool):
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # Spark 4 zstd-compresses event logs by default; zstandard is not
            # installed, and the fold reads plain JSON lines
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def checked(wl) -> Iteration | None:
    """One iteration and its output check; None when it raised."""
    try:
        it = wl.iterate()
    except Exception:
        traceback.print_exc()
        return None
    it.failures = mismatches(wl.expected, it.observed)
    if it.failures:
        print("output check failed:", *it.failures, sep="\n  ", file=sys.stderr)
    return it


def timed_loop(wl, seconds: float) -> tuple[list[Iteration], int, int]:
    """Closed loop with one client: iterations back to back until ``seconds``
    have passed (at least one). Returns (completed iterations, attempted,
    failed)."""
    its, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < deadline:
        attempted += 1
        it = checked(wl)
        failed += it is None or bool(it.failures)
        if it is not None:
            its.append(it)
    return its, attempted, failed


def run(args) -> dict:
    """One benchmark run; returns the record written to the results file."""
    run_dir = fresh(os.path.join(WORK, f"run-{os.getpid()}"))
    # every temp file of this process and the JVMs stays under the run dir
    # (the launcher JVM that spark-submit starts first reads only
    # SPARK_LAUNCHER_OPTS; -UsePerfData keeps both out of /tmp/hsperfdata_*)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    try:
        t0 = time.time()
        if not os.path.exists(
            os.path.join(corpus.corpus_dir(WORK, args.seed, args.scale), "expected.json")
        ):
            # a child process builds a new seed's inputs, so that DuckDB's
            # memory stays out of this process's peak RSS
            subprocess.run(
                [sys.executable, corpus.__file__, WORK, str(args.seed), str(args.scale)],
                check=True,
            )
        fx, expected = corpus.ensure_corpus(WORK, args.seed, args.scale)
        inputs_s = time.time() - t0
        spark = start_spark(run_dir, args.trace)
        pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
        try:
            tracer = spans.Tracer(spark.sparkContext, False)
            wl = WORKLOADS[args.workload](spark, fx, expected, run_dir, tracer)
            cp = (ConfigPass(spark, fx, expected, run_dir, tracer)
                  if args.trace and wl.config_pass else None)
            rec, traced, traced_config = measure(wl, cp, args, inputs_s, pids)
        finally:
            stop_spark(spark)
        if args.trace:
            # the event log is complete once the session has stopped
            jobs, execs = spans.fold_event_log(
                spans.event_log_file(os.path.join(run_dir, "eventlog")))
            rec["per_layer"] = layer_metrics(wl, traced, jobs, rec)
            if cp is not None:
                rec["per_layer"].update(
                    cp.layers(traced_config, jobs, execs))
            rec["spans"] = tracer.spans
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return rec


def measure(wl, cp: ConfigPass | None, args, inputs_s: float, pids: list[int]):
    """Warm up, run the timed loop and, with tracing, the traced iteration,
    the prefix cuts and, if given, the config pass ``cp``. Returns (record,
    traced iteration or None, traced config iteration or None)."""
    spark = wl.spark
    wl.warm_up()  # untimed and unchecked
    setup_s = time.time() - T_PROCESS - inputs_s
    h0 = spans.host_sample(pids)
    its, attempted, failed = timed_loop(wl, args.seconds)
    host = spans.host_noise(h0, spans.host_sample(pids))
    if not its:
        raise RuntimeError("no iteration completed")
    walls = [it.wall_s for it in its]
    units = [u for it in its for u in it.unit_ms]
    rss_mb = [spans.peak_rss_mb(pid) for pid in pids]
    rec = {
        "workload": wl.name, "seed": args.seed, "scale": args.scale,
        "turns": wl.turns, "wall_s": walls, "unit_ms": units,
        "inputs_s": inputs_s, "rss_mb": rss_mb, "jvm": spans.jvm_memory_mb(spark),
        "host": {
            "nproc": os.cpu_count(), **host,
            "spark": spark.version, "pyarrow": corpus.pa.__version__,
        },
        "end_to_end": {
            "turns_per_s": statistics.median(wl.turns / w for w in walls),
            "microbatch_ms_p50": statistics.median(units),
            # a 5 s run has 1 (batch) or 8 (stream) units, too few for a
            # percentile above the median with ten samples beyond it: the
            # tail is the slowest
            "microbatch_ms_tail": max(units),
            "setup_s": setup_s,
            "peak_rss_mb": sum(rss_mb),
            "out_bytes_per_in_byte": statistics.median(it.out_bytes for it in its)
            / wl.in_bytes,
        },
    }
    traced = traced_config = None
    if args.trace:
        wl.tracer.enabled = True
        wl.tracer.iteration = "traced"
        traced = checked(wl)
        attempted += 1
        failed += traced is None or bool(traced.failures)
        if traced is None:
            raise RuntimeError("the traced iteration failed")
        # the first pass is untimed, so compilation is not counted
        rec["sev_hit_frac"] = prefix_cuts(
            spark, wl.fx, spans.Tracer(spark.sparkContext, False))
        wl.tracer.iteration = "prefix"
        for _ in range(PREFIX_REPEATS):
            prefix_cuts(spark, wl.fx, wl.tracer)
        if cp is not None:
            wl.tracer.iteration = "config"
            traced_config = cp.measure()
            attempted += 1
            failed += traced_config is None or bool(traced_config.failures)
            if traced_config is None:
                raise RuntimeError("the traced config iteration failed")
    rec.update(attempted=attempted, failed=failed)
    return rec, traced, traced_config


def layer_metrics(wl, traced: Iteration, jobs: dict, rec: dict) -> dict:
    m = dict.fromkeys(PER_LAYER, 0.0)  # layers the workload does not run stay 0
    cut = {
        n: statistics.median(wl.tracer.durations(f"prefix.{n}"))
        for n in ("readers", "parse", "enrich", "route")
    }
    scan = spans.totals(jobs, lambda j: j["group"] == "prefix.readers")
    m.update({
        "readers.scan_s": cut["readers"],
        "readers.input_mb": scan["files_read_b"] / 1e6 / PREFIX_REPEATS,
        "parse.incr_s": cut["parse"] - cut["readers"],
        "parse.sev_hit_frac": rec["sev_hit_frac"],
        "enrich.incr_s": cut["enrich"] - cut["parse"],
        "route.incr_s": cut["route"] - cut["enrich"],
    })
    sp, accounted_s = wl.layers(traced, jobs, m)
    m.update({
        "spark.jobs": sp["jobs"],
        "spark.tasks": sp["tasks"],
        "spark.executor_run_s": sum(sp["run_ms"]) / 1e3,
        "spark.cpu_util": sp["cpu_ns"] / 1e9 / (CORES * traced.wall_s),
        "spark.gc_s": sp["gc_ms"] / 1e3,
        "spark.shuffle_write_mb": sp["shuffle_write_b"] / 1e6,
        "spark.spill_mb": sp["spill_b"] / 1e6,
        "jvm.heap_peak_mb": rec["jvm"]["heap_peak_mb"],
        "jvm.non_heap_mb": rec["jvm"]["non_heap_mb"],
        "python.rss_mb": rec["rss_mb"][0],
        "trace.overhead_frac": traced.wall_s / statistics.median(rec["wall_s"]) - 1,
        # measured apart from the iteration (prefix cuts, stage spans), the
        # layers' seconds against the untraced iteration's wall time
        "trace.accounted_frac": accounted_s / statistics.median(rec["wall_s"]),
    })
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE,
                    help="corpus scale factor (the tests use 0.001)")
    args = ap.parse_args(argv)
    rec = run(args)
    metrics, units = (
        (rec["per_layer"], PER_LAYER) if args.trace else (rec["end_to_end"], END_TO_END)
    )
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump(rec, f, indent=1)
    for name, value in metrics.items():
        print(f"{args.workload} {name} {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
