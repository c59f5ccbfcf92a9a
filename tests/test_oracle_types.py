"""Result types of the DuckDB oracles (queries.py registry).

Oracle rows are compared with the Spark query's rows after a trip
through pandas, so an integer column DuckDB types as HUGEINT (e.g. an
uncast window SUM) comes back as float64 and fails on dtype alone.
"""

from __future__ import annotations

import duckdb

import __spark_entry__ as E


def test_recombine_last_oracle_group_id_is_int64():
    sql = E.oracle_sql()["t_recombine_last"]
    got = duckdb.connect().execute(sql).df()
    assert len(got) > 0
    assert str(got["group_id"].dtype) == "int64"
