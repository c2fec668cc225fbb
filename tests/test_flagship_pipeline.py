"""Flagship rows against DuckDB: every output row of ``flagship_pipeline``
at the default horizon, history JSON included byte-for-byte.  The contract
registry has no flagship key, so this is the flagship's row oracle."""

from __future__ import annotations

import json

from historic_score_etl_pipeline_spark.plans.flagship import flagship_pipeline
from historic_score_etl_pipeline_spark.testing import duckdb_connection

FLAGSHIP_SQL = """
WITH fixtures AS (
  SELECT * FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    AND o_orderdate < CAST(DATE '1997-01-01' + INTERVAL 365 DAY AS TIMESTAMP)
), lines AS (
  SELECT l_orderkey,
         list((l_linenumber, CAST(l_shipdate AS DATE), l_quantity)
              ORDER BY CAST(l_shipdate AS DATE), l_linenumber) AS lines
  FROM lineitem
  GROUP BY l_orderkey
)
SELECT f.o_orderkey, CAST(f.o_orderdate AS DATE),
       coalesce(c.c_name, ''), coalesce(c.c_mktsegment, ''),
       f.o_totalprice, l.lines
FROM fixtures f
LEFT JOIN customer c ON f.o_custkey = c.c_custkey
LEFT JOIN lines l ON f.o_orderkey = l.l_orderkey
"""


def _history_json(lines) -> str:
    """Last 3 lines by (ship date, line), re-sorted line-first, in Spark's
    to_json shape; '[]' for an order without lines."""
    last3 = sorted(tuple(x.values()) if isinstance(x, dict) else tuple(x)
                   for x in (lines or [])[-3:])
    return json.dumps(
        [{"line": ln, "ship": ship.isoformat(), "qty": qty} for ln, ship, qty in last3],
        separators=(",", ":"),
    )


def test_flagship_rows_match_duckdb(spark, sf_oracle):
    con = duckdb_connection(sf_oracle)
    try:
        want = sorted(
            (okey, day, name, seg, price, _history_json(lines))
            for okey, day, name, seg, price, lines in con.execute(FLAGSHIP_SQL).fetchall()
        )
    finally:
        con.close()
    got = sorted(tuple(r) for r in flagship_pipeline(spark, sf_oracle).collect())
    assert len(want) > 0
    assert got == want
