"""Output checks computed apart from the program.

* Catalog: DuckDB runs each selected query's oracle SQL (the program's
  `SparkEntry.oracleSql` and `oracleSqlDynamic`, exported by the harness)
  over the same parquet tables, and every distinct result a timed sample
  produced is compared the way `tools/compare_oracle.py` compares:
  columns by name, doubles to 9 places, NULL and NaN alike, row order
  significant.
* ETL: `etl_data.derive` re-derives every run's fetched and inserted
  counts, the final watermark and the final sink contents in plain
  Python; the sink is read back with DuckDB (parquet) or psql (Postgres).
"""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SINK_COLUMNS = ["user_id", "event_date", "event_timestamp", "event_name", "event_id", "event_name_detail"]


def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    if isinstance(v, list):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    return v


def same_table(spark_rows, spark_cols, duck_rows, duck_cols):
    """None when equal, else a one-line reason."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns differ: {sorted(spark_cols)} vs {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"row count {len(spark_rows)} vs {len(duck_rows)}"
    si = [spark_cols.index(c) for c in sorted(spark_cols)]
    di = [duck_cols.index(c) for c in sorted(duck_cols)]
    for n, (a, b) in enumerate(zip(spark_rows, duck_rows)):
        for c, i, j in zip(sorted(spark_cols), si, di):
            if _norm(a[i]) != _norm(b[j]):
                return f"row {n} column {c}: {a[i]!r} vs {b[j]!r}"
    return None


def catalog_connection(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def check_catalog(con, oracle_sql, results_dir, names):
    """{query: {variant: reason or None}}; a query without an oracle
    answer has every variant marked wrong."""
    verdict = {}
    for name in names:
        variants = sorted(glob.glob(os.path.join(results_dir, name, "*")))
        verdict[name] = {}
        try:
            cur = con.execute(oracle_sql[name])
            duck_cols = [d[0] for d in cur.description]
            duck_rows = cur.fetchall()
        except Exception as e:  # no answer to compare against
            for v in variants:
                verdict[name][int(os.path.basename(v))] = f"oracle failed: {e}"[:300]
            continue
        for v in variants:
            cur = con.execute(f"SELECT * FROM read_parquet('{v}/*.parquet')")
            spark_cols = [d[0] for d in cur.description]
            verdict[name][int(os.path.basename(v))] = same_table(
                cur.fetchall(), spark_cols, duck_rows, duck_cols)
    return verdict


def parquet_sink_rows(sink_dir):
    if not glob.glob(os.path.join(sink_dir, "*.parquet")):
        return set()
    cols = ", ".join(SINK_COLUMNS)
    return set(duckdb.sql(f"SELECT {cols} FROM read_parquet('{sink_dir}/*.parquet')").fetchall())


def check_etl(records, expected, final_wm, expected_wm, sink_rows, expected_rows):
    """Marks each run record `ok` or gives its reason; the final round's
    runs also carry the final-state verdict."""
    per_round = {}
    for r in records:
        per_round.setdefault(r["round"], []).append(r)
    last = max(per_round)
    state_reason = None
    if final_wm != expected_wm:
        state_reason = f"final watermark {final_wm} vs {expected_wm}"
    elif sink_rows != expected_rows:
        missing, extra = len(expected_rows - sink_rows), len(sink_rows - expected_rows)
        state_reason = f"sink differs: {missing} rows missing, {extra} unexpected"
    for rnd, runs in per_round.items():
        if len(runs) != len(expected):
            for r in runs:
                r["reason"] = f"round ran {len(runs)} runs, expected {len(expected)}"
            continue
        for r, e in zip(runs, expected):
            bad = [k for k in ("fetched", "inserted", "wm_before", "wm_after") if r[k] != e[k]]
            r["reason"] = (f"{r['kind']} day {r['day']}: " +
                           ", ".join(f"{k} {r[k]} vs {e[k]}" for k in bad)) if bad else None
            if r["reason"] is None and rnd == last:
                r["reason"] = state_reason
            r["late_dropped"] = e["late_dropped"]
    return records
