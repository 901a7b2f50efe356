"""Correctness gate for the batch workloads: each query's collected
result against its DuckDB twin (``suite.oracle_sql()``) over the same
parquet files, canonicalised by ``tools/check_correctness.py``."""

from __future__ import annotations

import os

import duckdb

from lab_flink_repository_analytics_spark.queries import suite
from tools.check_correctness import TABLES, _approx_equal, _normalize


def compare(sf_dir: str, results: dict) -> dict[str, str]:
    """``results`` maps query name → pandas frame from Spark.  Returns
    query name → reason for every query whose result differs."""
    oracles = suite.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
        bad = {}
        for name, spark_pd in results.items():
            try:
                scols, srows = _normalize(spark_pd)
                dcols, drows = _normalize(con.sql(oracles[name]).df())
            except Exception as e:  # noqa: BLE001 - reported as a failure
                bad[name] = f"oracle or canonicalisation error: {e}"
                continue
            if scols != dcols:
                bad[name] = f"columns {scols} vs {dcols}"
            elif len(srows) != len(drows):
                bad[name] = f"{len(srows)} rows vs {len(drows)}"
            elif srows != drows and not all(
                    _approx_equal(a, b) for a, b in zip(srows, drows)):
                bad[name] = "values differ"
        return bad
    finally:
        con.close()
