#!/usr/bin/env python3
"""Self-test of the checkers: each must accept a true copy of an output
and refuse a deliberately corrupted copy of it.

    python3 perfbench/selftest.py

Needs no build and no JVM: the outputs are made here, in the shapes the
program writes them (a catalog result parquet; an ETL sink parquet, run
counts and watermark). Exits non-zero if a checker misses a corruption
or refuses a true copy.
"""
import os
import shutil
import sys
import tempfile

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import checks  # noqa: E402
import etl_data  # noqa: E402

failures = []


def expect(label, reason, should_fail):
    ok = (reason is not None) == should_fail
    print(f"{'ok ' if ok else 'BAD'} {label}: {reason or 'accepted'}")
    if not ok:
        failures.append(label)


def catalog_cases(tmp):
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT i AS id, 'k' || i AS key, CAST(i AS DOUBLE) / 7 AS x, "
                "CASE WHEN i = 3 THEN NULL ELSE CAST(i AS DOUBLE) * 0.5 END AS y FROM range(10) r(i)")
    sql = "SELECT id, key, round(x, 4) AS x, y FROM t ORDER BY id"
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()

    def result(label, mutate):
        table = pa.Table.from_pylist([dict(zip(cols, r)) for r in rows])
        table = mutate(table)
        d = os.path.join(tmp, "results", "q_case", "0")
        shutil.rmtree(os.path.join(tmp, "results"), ignore_errors=True)
        os.makedirs(d)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))
        return checks.check_catalog(con, {"q_case": sql}, os.path.join(tmp, "results"), ["q_case"])["q_case"][0]

    def set_cell(table, col, i, v):
        vals = table.column(col).to_pylist()
        vals[i] = v
        return table.set_column(table.schema.get_field_index(col), col,
                                pa.array(vals, table.schema.field(col).type))

    expect("catalog: true copy", result("true", lambda t: t), False)
    expect("catalog: columns in another order", result("reorder", lambda t: t.select(["y", "x", "key", "id"])), False)
    expect("catalog: NaN for NULL", result("nan", lambda t: set_cell(t, "y", 3, float("nan"))), False)
    expect("catalog: double off in the 12th place",
           result("tiny", lambda t: set_cell(t, "x", 2, rows[2][2] + 1e-12)), False)
    expect("catalog: one value changed", result("value", lambda t: set_cell(t, "key", 4, "k?")), True)
    expect("catalog: double off in the 6th place",
           result("double", lambda t: set_cell(t, "x", 2, rows[2][2] + 1e-6)), True)
    expect("catalog: a row missing", result("row", lambda t: t.slice(0, 9)), True)
    expect("catalog: two rows swapped",
           result("order", lambda t: t.take([1, 0] + list(range(2, 10)))), True)
    expect("catalog: a column renamed", result("name", lambda t: t.rename_columns(["id", "key", "x2", "y"])), True)


def etl_cases(tmp):
    days, history, replays = 6, 3, 2
    rows = etl_data.generate(5, days, 2_000, 300, os.path.join(tmp, "input"))
    expected, wm, sink = etl_data.derive(rows, days, history, replays)
    sink_dir = os.path.join(tmp, "sink")

    def write_sink(rs):
        shutil.rmtree(sink_dir, ignore_errors=True)
        os.makedirs(sink_dir)
        pq.write_table(pa.Table.from_pylist([dict(zip(checks.SINK_COLUMNS, r)) for r in sorted(rs, key=str)]),
                       os.path.join(sink_dir, "part-0.parquet"))
        return checks.parquet_sink_rows(sink_dir)

    def verdict(records, final_wm, sink_rows):
        checked = checks.check_etl(records, expected, final_wm, wm, sink_rows, sink)
        bad = [r["reason"] for r in checked if r["reason"]]
        return bad[0] if bad else None

    def runs():
        return [dict(e, round=0) for e in expected]

    true_sink = write_sink(sink)
    expect("etl: true copy", verdict(runs(), wm, true_sink), False)
    expect("etl: a daily insert count off by one",
           verdict([dict(r, inserted=r["inserted"] - 1) if i == 1 else r for i, r in enumerate(runs())],
                   wm, true_sink), True)
    expect("etl: a replay that inserts",
           verdict([dict(r, inserted=1) if r["kind"] == "replay" else r for r in runs()], wm, true_sink), True)
    expect("etl: final watermark behind", verdict(runs(), wm - 1, true_sink), True)
    some = sorted(sink, key=str)
    expect("etl: a sink row missing", verdict(runs(), wm, write_sink(set(some[1:]))), True)
    first_match = next(r for r in some if r[4] is not None)
    flipped = set(some) - {first_match} | {first_match[:4] + ("item-0",) + first_match[5:]}
    expect("etl: a param from the wrong match", verdict(runs(), wm, write_sink(flipped)), True)
    late = [r for r in rows[history + 1] if r[3] <= expected[2]["wm_before"] and r[1] and r[4] in etl_data.VOCABULARY]
    expect("etl: a late event loaded", verdict(runs(), wm, write_sink(set(some) | {late[0][1:]})), True)


def main():
    os.makedirs(build.BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=build.BUILD)
    try:
        catalog_cases(tmp)
        etl_cases(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("self-test:", "FAILED " + ", ".join(failures) if failures else "every checker behaves")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
