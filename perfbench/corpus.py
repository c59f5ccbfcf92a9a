"""Seeded inputs and their expected outputs.

The corpus comes from ``fixtures.generate_transcripts`` with its module-level
``SEED`` set to the benchmark seed, so seed 42 rebuilds the repo's own fixture
tiers byte for byte (checked by content hash). Expected outputs are computed
once per seed with DuckDB from the oracle SQL in ``queries.build_registry()``;
nothing here touches Spark.

Each seed's corpus, its 64-file stream staging and its expectations are cached
under ``<work>/data/seed<N>/sf<scale>``; a cache directory appears only after it
is complete (written to a temporary name, then renamed).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

STREAM_FILES = 64

# sha256 of the transcripts table (Arrow IPC stream of the combined chunks)
# that seed 42 must reproduce — the repo's data/sf* fixture tiers.
SEED42_SHA256 = {
    0.001: "908196a471acc46a98d1dd3bee937b7bb576d1d782e758c5f040dbbb25cfa2ca",
    0.01: "13e825f5277aad63eb8e763dc7df1bcac39492f0adfedd084ba4b3861f4e410a",
    0.1: "0851fbfe1defaca3fed53e721092e974a2aedc8af271a19f6bbb5bfc25e15bde",
}

ROUTES = ("errors", "tool_bash", "slow", "default")
# Row fingerprint columns: a routed row is identified by its key and
# compared on its text and the parsed fields the routes depend on.
SINK_COLS = ("conv_id", "turn_idx", "text", "severity_number", "dur_ms")
# what a config pipeline iteration is checked on: the rows each file
# exporter wrote, and the count connector's total
CONFIG_COUNTS = ("file/errors", "file/tools", "file/default", "kept")
ROLLUP_COLS = (
    "conv_id", "n_turns", "n_errors", "total_dur_ms",
    "first_ts_epoch", "last_ts_epoch", "max_severity",
)


def table_sha256(path: str) -> str:
    """Content hash of a parquet table, independent of file-level metadata."""
    t = pq.read_table(path).combine_chunks()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        for b in t.to_batches():
            w.write_batch(b)
    return hashlib.sha256(sink.getvalue()).hexdigest()


def row_hash_sql(cols: tuple[str, ...]) -> str:
    """DuckDB twin of ``run.row_hash``: a 32-bit md5 prefix of the
    '#'-joined row."""
    row = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    return f"('0x' || substr(md5(concat_ws('#', {row})), 1, 8))::BIGINT"


def _oracle_sql(fixture_dir: str) -> dict[str, str]:
    """The registry's oracle SQL for the flagship outputs, re-pointed from the
    registry's fixture tier to this corpus."""
    from opentelemetry_collector_contrib_spark import queries

    _, oracles = queries.build_registry()
    names = [f"t_route_{r}" for r in ROUTES] + [
        "t_counts", "t_sum_durations", "t_conv_rollup", "t_config_pipeline",
    ]
    return {
        n: oracles[n].replace(queries.ORACLE_FX, os.path.abspath(fixture_dir))
        for n in names
    }


def _config_sql(oracle: str) -> str:
    """Row counts the config pipeline (configs/example_pipeline.yaml) must
    export, over the registry oracle's parse CTE: its filter drops system
    turns, its routing sends errors and bash turns to their exporters and
    the rest to the default one, and its count connector counts what the
    filter keeps. ``oracle`` is the registry's ``t_config_pipeline`` SQL,
    whose errors exporter the first column re-counts."""
    cte = oracle.rsplit("\nSELECT", 1)[0]
    kept = "NOT coalesce(role = 'system', false)"
    err = "coalesce(severity_number >= 17, false)"
    bash = "coalesce(tool_name = 'bash', false)"
    return f"""{cte}
SELECT (SELECT count(*) FROM ({oracle})),
       count(*) FILTER (WHERE {kept} AND {bash}),
       count(*) FILTER (WHERE {kept} AND NOT {err} AND NOT {bash}),
       count(*) FILTER (WHERE {kept})
FROM parsed"""


def _fingerprint_sql(cols: tuple[str, ...], query: str) -> str:
    return (
        f"SELECT count(*), coalesce(sum({row_hash_sql(cols)}), 0) FROM ({query})"
    )


def expected_outputs(fixture_dir: str) -> dict:
    """Expected flagship and stream outputs for one corpus.

    Every oracle query opens with the same parse CTE, so DuckDB evaluates it
    once into a table and each query reads that table instead.
    """
    import duckdb

    sql = _oracle_sql(fixture_dir)
    parse_cte = sql["t_route_errors"].rsplit("\nSELECT", 1)[0]

    def on_table(query: str) -> str:
        if not query.startswith(parse_cte):
            raise RuntimeError("an oracle query does not open with the parse CTE")
        return "WITH parsed AS (SELECT * FROM parsed_table)" + query[len(parse_cte):]

    sql = {n: on_table(q) for n, q in sql.items()}
    jobs = {r: _fingerprint_sql(SINK_COLS, sql[f"t_route_{r}"]) for r in ROUTES}
    jobs["counts"] = sql["t_counts"]
    jobs["durations"] = sql["t_sum_durations"]
    jobs["rollup"] = _fingerprint_sql(ROLLUP_COLS, sql["t_conv_rollup"])
    jobs["config"] = _config_sql(sql["t_config_pipeline"])

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE TABLE parsed_table AS {parse_cte}\nSELECT * FROM parsed")
        res = {k: con.execute(q).fetchall() for k, q in jobs.items()}
    finally:
        con.close()
    return {
        "turns": pq.ParquetFile(
            os.path.join(fixture_dir, "transcripts.parquet")
        ).metadata.num_rows,
        "sinks": {r: [int(v) for v in res[r][0]] for r in ROUTES},
        "counts": sorted(list(r) for r in res["counts"]),
        "durations": sorted(list(r) for r in res["durations"]),
        "rollup": [int(v) for v in res["rollup"][0]],
        "config": dict(zip(CONFIG_COUNTS, (int(v) for v in res["config"][0]))),
    }


def _generate(seed: int, scale: float, out_dir: str) -> None:
    from opentelemetry_collector_contrib_spark import fixtures

    saved = fixtures.SEED
    fixtures.SEED = seed
    try:
        fixtures.generate_transcripts(scale, out_dir)
    finally:
        fixtures.SEED = saved
    transcripts = os.path.join(out_dir, "transcripts.parquet")
    want = SEED42_SHA256.get(scale) if seed == 42 else None
    if want is not None and table_sha256(transcripts) != want:
        raise RuntimeError(
            f"seed 42 at sf{scale} does not reproduce the repo fixture tier"
        )
    # stream_drain input: the same rows in storage order, cut into 64 files
    t = pq.read_table(transcripts)
    stream_dir = os.path.join(out_dir, "stream_in")
    os.makedirs(stream_dir)
    n = t.num_rows
    for i in range(STREAM_FILES):
        lo, hi = i * n // STREAM_FILES, (i + 1) * n // STREAM_FILES
        pq.write_table(
            t.slice(lo, hi - lo), os.path.join(stream_dir, f"part-{i:05d}.parquet")
        )
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected_outputs(out_dir), f)


def corpus_dir(work: str, seed: int, scale: float) -> str:
    return os.path.join(work, "data", f"seed{seed}", f"sf{scale}")


def ensure_corpus(work: str, seed: int, scale: float) -> tuple[str, dict]:
    """Return (fixture dir, expected outputs) for a seed, building it once."""
    out_dir = corpus_dir(work, seed, scale)
    if not os.path.exists(os.path.join(out_dir, "expected.json")):
        tmp = out_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _generate(seed, scale, tmp)
        shutil.rmtree(out_dir, ignore_errors=True)
        os.replace(tmp, out_dir)
    with open(os.path.join(out_dir, "expected.json")) as f:
        return out_dir, json.load(f)


if __name__ == "__main__":
    # python3 corpus.py <work dir> <seed> <scale>: build one seed's inputs
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ensure_corpus(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
