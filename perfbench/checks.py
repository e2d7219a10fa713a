"""Correctness checks: Spark results against independent DuckDB results.

The comparison is the repository's own differential tester,
``steam_data_pipeline_spark.difftest``: same columns, same row count,
and equal values in any row order, floats bit for bit.  Registry
queries are checked against their ``oracle_sql``; the ``daily_ingest``
store tables against the independent DuckDB computation below.
"""

from __future__ import annotations

import duckdb

# The program (and with it pyspark) is imported inside the functions:
# importing it is part of the set-up the benchmark times.


def spark_frame(df):
    """A Spark result as the differential tester compares it."""
    from steam_data_pipeline_spark import difftest

    return difftest._epoch_str_spark(df).toPandas()


def oracle_mismatch(con: duckdb.DuckDBPyConnection, name: str, got, sql: str) -> str | None:
    """None when ``got`` (from ``spark_frame``) equals the oracle's
    result, else the tester's report."""
    from steam_data_pipeline_spark import difftest

    exp = con.execute(difftest._epoch_str_oracle(con, sql)).df()
    res = difftest.compare_frames(name, got, exp)
    return None if res.ok else str(res)


# -- daily_ingest: the final store tables, computed independently -------------

_POOL_SQL = """
WITH top_selling AS (
  SELECT CAST(o_custkey AS VARCHAR) AS app_id FROM '{d}/orders.parquet'
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 500
), played AS (
  SELECT l_partkey, SUM(l_quantity) AS tq FROM '{d}/lineitem.parquet' GROUP BY 1
), most_played AS (
  SELECT CAST(l_partkey AS VARCHAR) AS app_id FROM played
  ORDER BY tq DESC, l_partkey LIMIT 100
)
SELECT {day} AS day, CAST(p_partkey AS VARCHAR) AS app_id, trim(p_name) AS name,
       p_type AS type, p_brand AS developer, p_retailprice AS retail_price
FROM '{d}/part.parquet'
WHERE CAST(p_partkey AS VARCHAR) IN (SELECT app_id FROM top_selling UNION SELECT app_id FROM most_played)
  AND trim(p_name) <> ''
"""


def ingest_oracle(day_dirs: list[str]) -> tuple[dict[str, object], list[int]]:
    """Expected ``games_metadata`` and ``games_timeseries`` (pandas
    frames) after ``run_ingest_once`` ran once per day directory, in
    order, and the number of dimension rows each day MERGEs.

    Dimension: one row per ``app_id`` ever in a day's candidate pool,
    with the attributes of the latest day it was in the pool.  Facts:
    each day appends one row per dimension row stored after that day's
    MERGE, priced from the stored row, with the day's player count
    (summed ``l_quantity``) and streamer count (events per user, capped
    at 100); ``timestamp`` is wall-clock and so left out.  The
    ``DECIMAL(10,2)`` price is compared as a double on both sides.
    """
    con = duckdb.connect(config={"threads": 2})
    pools = " UNION ALL ".join(f"({_POOL_SQL.format(d=d, day=i)})" for i, d in enumerate(day_dirs))
    con.execute(f"CREATE TABLE pools AS {pools}")
    dim = con.execute(
        "SELECT app_id, name, type, developer, retail_price FROM pools "
        "QUALIFY row_number() OVER (PARTITION BY app_id ORDER BY day DESC) = 1"
    ).df()
    facts = []
    for i, d in enumerate(day_dirs):
        facts.append(f"""
        SELECT s.app_id, CAST(CAST(s.retail_price AS DECIMAL(10,2)) AS DOUBLE) AS price_numeric,
               CAST(COALESCE(p.q, 0) AS INTEGER) AS player_count,
               CAST(COALESCE(e.n, 0) AS INTEGER) AS streamer_count
        FROM (SELECT app_id, retail_price FROM pools WHERE day <= {i}
              QUALIFY row_number() OVER (PARTITION BY app_id ORDER BY day DESC) = 1) s
        LEFT JOIN (SELECT CAST(l_partkey AS VARCHAR) AS app_id, SUM(l_quantity) AS q
                   FROM '{d}/lineitem.parquet' GROUP BY 1) p USING (app_id)
        LEFT JOIN (SELECT CAST(user_id AS VARCHAR) AS app_id, LEAST(COUNT(*), 100) AS n
                   FROM '{d}/events.parquet' GROUP BY 1) e USING (app_id)""")
    fact = con.execute(" UNION ALL ".join(facts)).df()
    per_day = dict(con.execute("SELECT day, COUNT(*) FROM pools GROUP BY day").fetchall())
    con.close()
    return {"games_metadata": dim, "games_timeseries": fact}, [per_day.get(i, 0) for i in range(len(day_dirs))]


def ingest_frame(store, table: str):
    """A store table's checked columns, as ``ingest_oracle`` gives them."""
    from pyspark.sql import functions as F

    cols = {
        "games_metadata": ["app_id", "name", "type", "developer", "retail_price"],
        "games_timeseries": ["app_id", F.col("price_numeric").cast("double").alias("price_numeric"),
                             "player_count", "streamer_count"],
    }[table]
    return store.read(table).select(*cols).toPandas()
