"""Output checks: every result the benchmark times is compared with DuckDB.

Comparison is the project's oracle rule from tools/oracle_check.py: sort
columns by name, sort rows, then compare row count, column names and a
hash over every value.
"""
import json
import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from oracle_check import canon, value_hash  # noqa: E402

GOLD = "gold/fct_sales_minute"
SILVER = "silver/events_clean"

# q07_fct_sales_minute's oracle, applied after latest-wins by event_id
# over the delivered record set (the silver rule: greatest (ts, value)).
GOLD_ORACLE = """
WITH s AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY event_id
      ORDER BY epoch_us(ts) DESC, value DESC) AS rn
    FROM delivered) WHERE rn = 1)
SELECT epoch_us(date_trunc('minute', ts)) AS minute_bucket_us,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS gmv,
       COUNT(*) AS paid_orders
FROM s WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1
"""

READ_ORACLES = {
    "last60_gmv": """SELECT * FROM gold WHERE minute_bucket_us >=
        (SELECT max(minute_bucket_us) FROM gold) - 3600000000""",
    "top10_minutes": "SELECT * FROM gold ORDER BY gmv DESC, minute_bucket_us LIMIT 10",
    "user_spend": """SELECT user_id,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spend,
        COUNT(*) AS purchases
        FROM silver WHERE event_type = 'purchase' GROUP BY user_id""",
    "freshness": """SELECT event_type, max(event_ts_us) AS max_ts_us, COUNT(*) AS n
        FROM silver GROUP BY event_type""",
}


def compare(name, got: pd.DataFrame, want: pd.DataFrame):
    """None when equal, else a one-line description of the mismatch."""
    g, w = canon(got), canon(want)
    if len(g) != len(w):
        return f"{name}: {len(g)} rows, oracle {len(w)}"
    if list(g.columns) != list(w.columns):
        return f"{name}: columns {list(g.columns)}, oracle {list(w.columns)}"
    if value_hash(g) != value_hash(w):
        return f"{name}: values differ from the oracle"
    return None


def _table(con, path):
    return con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()


def medallion(lake, delivered_sql):
    """The final gold table against the oracle over the delivered set."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW delivered AS {delivered_sql}")
    errors = [compare("gold", _table(con, f"{lake}/{GOLD}"),
                      con.execute(GOLD_ORACLE).fetchdf())]
    return [e for e in errors if e]


def reads(lake, reads_dir):
    """The dashboard reads, re-run after the writer stopped, against the
    same queries in DuckDB over the final tables."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW gold AS SELECT * FROM read_parquet('{lake}/{GOLD}/*.parquet')")
    con.execute(f"CREATE VIEW silver AS SELECT * FROM read_parquet('{lake}/{SILVER}/*.parquet')")
    errors = [compare(n, _table(con, f"{reads_dir}/{n}"), con.execute(sql).fetchdf())
              for n, sql in READ_ORACLES.items()]
    return [e for e in errors if e]


def gates(sf_dir, gates_dir):
    """Each gate's output against its oracle SQL over the same tables."""
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{f}')")
    with open(f"{gates_dir}/oracle_sql.json") as fh:
        oracle = json.load(fh)
    errors = [compare(n, _table(con, f"{gates_dir}/{n}"), con.execute(sql).fetchdf())
              for n, sql in sorted(oracle.items())]
    return [e for e in errors if e]
