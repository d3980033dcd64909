#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (README.md has the detail):
  etl_parquet   the reference's watermark ETL, `Incremental.runOnceTo` with
                `EventOps.ga4Pipeline`, into the parquet sink `Sinks.upsertAppend`
  etl_postgres  the same runs into a private PostgreSQL 15 through
                `Sinks.copyUpsertPostgres`
  catalog       the selected queries of `SparkEntry.queries`, materialized

The program is compiled from the checkout (`build.py`), the inputs are
made from the seed, a JVM runs the workload closed loop with one client,
and the outputs are checked against answers computed apart from the
program (`checks.py`). The last line of standard output is one JSON
object: `correct`, `attempted`, `failed` and `metrics`; the line before
it carries the workload's detailed figures.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import catalog_data  # noqa: E402
import checks  # noqa: E402
import etl_data  # noqa: E402
import pg  # noqa: E402
import trace_summary  # noqa: E402

WORKLOADS = ("etl_parquet", "etl_postgres", "catalog")
# one ETL round: a catch-up run over HISTORY days, a run per later day,
# then REPLAYS crash replays (rollback of 1..REPLAYS committed days)
ETL = {"days": 9, "history": 5, "replays": 2, "rows_per_day": 6_000, "users": 5_000, "min_rounds": 3}
# catalog tables: fixed scale and seed; the run's seed orders the passes
CATALOG = {"sf": 0.01, "data_seed": 42, "select_mod": 16, "min_passes": 4}
JVM_TIMEOUT_S = 160
JVM_HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classes, run_dir, args):
    """Runs the harness; returns (launch epoch seconds, run.json)."""
    tmp = os.path.join(build.BUILD, "tmp")
    cwd = os.path.join(build.BUILD, "jvm_cwd")
    for d in (tmp, cwd):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", build.classpath(classes), "perfbench.Main"] +
           [f"{k}={v}" for k, v in args.items()])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness exceeded {JVM_TIMEOUT_S} s; log: {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = [line for line in f if "INFO" not in line][-30:]
        sys.stderr.write("".join(tail))
        raise SystemExit(f"harness exited {rc}; log: {log_path}")
    with open(os.path.join(run_dir, "run.json")) as f:
        return launched, json.load(f)


def cpu_times():
    """The host's aggregate CPU counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def records_of(run_dir):
    return trace_summary.load(os.path.join(run_dir, "records.jsonl"))


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- ETL


def run_etl(args, classes, run_dir):
    days_rows = etl_data.generate(args.seed, ETL["days"], ETL["rows_per_day"], ETL["users"],
                                  os.path.join(run_dir, "input"))
    expected, expected_wm, expected_rows = etl_data.derive(
        days_rows, ETL["days"], ETL["history"], ETL["replays"])
    sink_root = os.path.join(run_dir, "sink")
    jvm_args = {"workload": args.workload, "out": run_dir, "cores": cores(), "seconds": args.seconds,
                "trace": args.trace, "seed": args.seed, "input": os.path.join(run_dir, "input"),
                "days": ETL["days"], "history": ETL["history"], "replays": ETL["replays"],
                "min_rounds": ETL["min_rounds"], "sink_root": sink_root}
    server, extra = None, {}
    try:
        if args.workload == "etl_postgres":
            server = pg.Server(build.BUILD)
            extra["pg_start_s"] = server.start()
            jvm_args["psql"] = " ".join(server.psql_args)
        launched, run = run_jvm(classes, run_dir, jvm_args)
        records = records_of(run_dir)
        with open(run["final_state"]) as f:
            final_wm = int(f.read().strip())
        if server:
            sink_rows = server.table_rows("application_events")
            extra["postgres.table_bytes_per_row"] = (
                server.table_bytes("application_events") / max(1, len(sink_rows)))
        else:
            sink_rows = checks.parquet_sink_rows(run["final_sink"])
            files = [os.path.join(run["final_sink"], f) for f in os.listdir(run["final_sink"])
                     if f.endswith(".parquet")]
            extra["Sinks.files"] = len(files)
            extra["Sinks.bytes_per_row"] = sum(map(os.path.getsize, files)) / max(1, len(sink_rows))
    finally:
        if server:
            server.remove()
    checks.check_etl(records, expected, final_wm, expected_wm, sink_rows, expected_rows)

    # round 0 runs on the fresh JVM and round 1 still warms it (its runs
    # are slower than round 2's); later untraced rounds are the steady state
    cold = [r for r in records if r["round"] == 0]
    warm = [r for r in records if r["round"] > 1 and not r["traced"]]
    by_kind = {k: [r for r in warm if r["kind"] == k] for k in ("backfill", "daily", "replay")}
    e2e = {
        "setup_s": run["first_op_ms"] / 1e3 - launched,
        "cold_s": sum(r["wall_s"] for r in cold),
        "steady_s": median([r["wall_s"] for r in by_kind["daily"] + by_kind["replay"]]),
    }
    detail = {
        "etl_backfill_rows_per_s": cold[0]["fetched"] / cold[0]["wall_s"],
        "etl_warm_backfill_rows_per_s": median([r["fetched"] / r["wall_s"] for r in by_kind["backfill"]]),
        "etl_daily_rows_per_s": median([r["fetched"] / r["wall_s"] for r in by_kind["daily"]]),
        "etl_replay_s": median([r["wall_s"] for r in by_kind["replay"]]),
        "peak_rss_mb": run["peak_rss_mb"],
        "rounds": run["rounds"],
        "late_dropped_per_round": sum(e["late_dropped"] for e in expected),
        **extra,
    }
    layers = etl_layers(run_dir, records, run, extra) if args.trace else {}
    failures = [r["reason"] for r in records if r["reason"]]
    return run, records, failures, e2e, detail, layers


def etl_layers(run_dir, records, run, extra):
    kinds = trace_summary.summarize(run_dir, lambda op: op.get("kind"))
    traced = [r for r in records if r["traced"]]
    daily = [r for r in traced if r["kind"] == "daily"]
    k = kinds.get("daily", {"ops": 1, "counts": {}, "self_s": {}})
    n = max(1, k["ops"])
    c = k["counts"]
    fetched = sum(r["fetched"] for r in daily)
    inserted = sum(r["inserted"] for r in daily)
    sink_s = median([r["sink_s"] for r in daily])
    backfills = [r["wall_s"] for r in records if r["kind"] == "backfill"]
    out = common_layers(c, n, run)
    out.update({
        "Tables.scan_rows_per_fetched": c.get("scan_rows", 0) / max(1, fetched),
        "Incremental.run_s": median([r["wall_s"] for r in daily]),
        "Incremental.presink_s": median([r["wall_s"] - r["sink_s"] for r in daily]),
        "Incremental.rows_fetched": median([r["fetched"] for r in daily]),
        "Incremental.rows_inserted": median([r["inserted"] for r in daily]),
        "Incremental.rows_conflict_skipped": median([r["fetched"] - r["inserted"] for r in traced
                                                    if r["kind"] == "replay"]),
        "Incremental.late_dropped": median([r["late_dropped"] for r in daily]),
        "exec.result_rows": median([r["fetched"] for r in daily]),
        # the catch-up run on the fresh JVM minus the same run on a warm one
        "exec.first_execution_extra_s": backfills[0] - median(backfills[1:]) if len(backfills) > 1 else 0.0,
        "EventOps.construct_s": median([r["construct_s"] for r in daily]),
        "Sinks.upsert_s": sink_s if "Sinks.files" in extra else 0.0,
        "Sinks.copy_upsert_s": sink_s if "postgres.table_bytes_per_row" in extra else 0.0,
        "Sinks.probe_rows_per_inserted": c.get("sink_scan_rows", 0) / max(1, inserted),
        "Sinks.files": extra.get("Sinks.files", 0),
        "Sinks.bytes_per_row": extra.get("Sinks.bytes_per_row", 0.0),
        "postgres.table_bytes_per_row": extra.get("postgres.table_bytes_per_row", 0.0),
        "trace.overhead_s": trace_summary.overhead(
            records, lambda r: r["round"] if r["kind"] != "backfill" else None),
    })
    return out, kinds


def common_layers(c, n, run):
    """Layer counts shared by every workload, per operation (an ETL daily
    run) or per pass (the catalog)."""
    return {
        "session.start_s": run["session_start_s"],
        "catalyst.analysis_s": c.get("catalyst.analysis_s", 0.0) / n,
        "catalyst.optimization_s": c.get("catalyst.optimization_s", 0.0) / n,
        "catalyst.planning_s": c.get("catalyst.planning_s", 0.0) / n,
        "exec.execute_s": c.get("execute_s", 0.0) / n,
        "exec.task_s": c.get("task_s", 0.0) / n,
        "exec.task_skew": c.get("task_skew", 1.0),
        "exec.jobs": c.get("jobs", 0) / n,
        "exec.stages": c.get("stages", 0) / n,
        "exec.tasks": c.get("tasks", 0) / n,
        "exec.shuffle_write_bytes": c.get("shuffle_write_bytes", 0) / n,
        "exec.shuffle_read_bytes": c.get("shuffle_read_bytes", 0) / n,
        "exec.spill_bytes": c.get("spill_bytes", 0) / n,
        "exec.gc_s": c.get("gc_s", 0.0) / n,
        "Tables.scan_rows": c.get("scan_rows", 0) / n,
        "Tables.scan_bytes": c.get("scan_bytes", 0) / n,
    }


# ---------------------------------------------------------------- catalog

def family(sql):
    """`corpus` when the oracle SQL reads documents or embeddings."""
    return "corpus" if re.search(r"\b(documents|embeddings)\b", sql or "") else "events"


def catalog_data_dir():
    with open(os.path.join(HERE, "catalog_data.py"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(build.BUILD, "catalog_data", f"sf{CATALOG['sf']}-{CATALOG['data_seed']}-{key}")
    if not os.path.exists(os.path.join(d, ".complete")):
        shutil.rmtree(d, ignore_errors=True)
        catalog_data.write(CATALOG["sf"], CATALOG["data_seed"], d)
        open(os.path.join(d, ".complete"), "w").close()
    return d


def run_catalog(args, classes, run_dir):
    data = catalog_data_dir()
    # a cold fixture store on every run (see Catalog in Harness.scala)
    shutil.rmtree(build.QTMP, ignore_errors=True)
    jvm_args = {"workload": "catalog", "out": run_dir, "cores": cores(), "seconds": args.seconds,
                "trace": args.trace, "seed": args.seed, "sf_dir": data,
                "select_mod": CATALOG["select_mod"], "min_passes": CATALOG["min_passes"],
                "prepare": args.trace}
    launched, run = run_jvm(classes, run_dir, jvm_args)
    records = records_of(run_dir)
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    names = sorted({r["query"] for r in records})
    fam = {n: family(oracle.get(n)) for n in names}
    with open(os.path.join(run_dir, "families.json"), "w") as f:
        json.dump(fam, f)
    verdict = checks.check_catalog(checks.catalog_connection(data), oracle,
                                   os.path.join(run_dir, "results"), names)
    failures = []
    for r in records:
        r["family"] = fam[r["query"]]
        if r["error"]:
            r["reason"] = f"{r['query']}: {r['error']}"
        elif r["query"] not in oracle:
            r["reason"] = f"{r['query']}: no oracle SQL"
        else:
            bad = verdict[r["query"]].get(r["variant"], "result not written")
            r["reason"] = f"{r['query']}: {bad}" if bad else None
        if r["reason"]:
            failures.append(r["reason"])

    untraced = [r for r in records if not r["traced"]]
    first = [r for r in untraced if r["pass"] == 0]
    # pass 1 still warms the JVM (each query runs faster again in pass 2);
    # the steady figures come from passes 2 and later
    passes = {}
    for r in untraced:
        if r["pass"] > 1:
            passes.setdefault(r["pass"], []).append(r)
    full = [p for p in passes.values() if len(p) == len(names)]
    steady = [r for p in full for r in p]
    walls = sorted(r["wall_s"] for r in steady)
    # each query's fastest steady sample: other tenants' CPU use only adds
    # time to a sample (README.md, "Steadiness")
    per_query_steady = {n: min(r["wall_s"] for r in steady if r["query"] == n) for n in names}
    e2e = {
        "setup_s": run["first_op_ms"] / 1e3 - launched,
        "cold_s": sum(r["wall_s"] for r in first),
        "steady_s": sum(per_query_steady.values()),
    }
    detail = {
        "catalog_first_pass_s": e2e["cold_s"],
        "catalog_events_s": sum(v for n, v in per_query_steady.items() if fam[n] == "events"),
        "catalog_corpus_s": sum(v for n, v in per_query_steady.items() if fam[n] == "corpus"),
        "query_p50_s": median(walls),
        "query_p95_s": walls[min(len(walls) - 1, int(0.95 * len(walls)))] if walls else 0.0,
        "peak_rss_mb": run["peak_rss_mb"],
        "samples": len(walls),
        "queries": len(names),
        "events_queries": sum(1 for n in names if fam[n] == "events"),
        "corpus_queries": sum(1 for n in names if fam[n] == "corpus"),
        "steady_passes": len(full),
        "SparkEntry.prepare_s": run["prepare_s"],
        "per_query": {n: {"first_s": round(next(r["wall_s"] for r in first if r["query"] == n), 4),
                          "steady_s": round(per_query_steady[n], 4), "family": fam[n]} for n in names},
    }
    layers = catalog_layers(run_dir, records, run, fam) if args.trace else {}
    return run, records, failures, e2e, detail, layers


def catalog_layers(run_dir, records, run, fam):
    kinds = trace_summary.summarize(run_dir, lambda op: fam.get(op.get("query"), "events"))
    traced_passes = {r["pass"] for r in records if r["traced"]}
    n = max(1, len(traced_passes))
    c = {}
    for k in kinds.values():
        for name, v in k["counts"].items():
            c[name] = max(c.get(name, 1.0), v) if name == "task_skew" else c.get(name, 0) + v
    first = {r["query"]: r["wall_s"] for r in records if r["pass"] == 0}
    # a traced run's steady passes are traced; time them all alike here
    steady = {q: median([r["wall_s"] for r in records if r["query"] == q and r["pass"] > 1])
              for q in first}
    out = common_layers(c, n, run)
    out.update({
        "SparkEntry.prepare_s": run["prepare_s"],
        "SparkEntry.construct_s": c.get("construct_s", 0.0) / n,
        "SparkEntry.construct_jobs": c.get("construct_jobs", 0) / n,
        "exec.first_execution_extra_s": sum(first[q] - steady[q] for q in first),
        "exec.result_rows": sum(r["rows"] for r in records if r["traced"] and r["rows"] > 0) / n,
        "trace.overhead_s": trace_summary.overhead(records, lambda r: r["pass"] if r["pass"] > 0 else None),
    })
    return out, kinds


# ---------------------------------------------------------------- output

END_TO_END = {"setup_s": "s", "cold_s": "s", "steady_s": "s"}


def per_layer_units():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and its PostgreSQL server
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))

    classes = build.build()
    run_dir = os.path.join(build.BUILD, "runs", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    runner = run_catalog if args.workload == "catalog" else run_etl
    before = cpu_times()
    run, records, failures, e2e, detail, layers = runner(args, classes, run_dir)
    spent = [b - a for a, b in zip(before, cpu_times())]
    # CPU time the hypervisor gave to other tenants while this run was on
    detail["host_steal_pct"] = 100.0 * spent[7] / max(1, sum(spent))

    settings = {"master": run["master"], "spark": run["spark_version"], **run["settings"]}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "settings": settings}))
    for reason in failures[:20]:
        print(f"FAILED {reason}")
    if args.trace:
        per_layer, kinds = layers
        with open(os.path.join(run_dir, "per_layer.json"), "w") as f:
            json.dump({"metrics": per_layer, "kinds": kinds}, f, indent=1)
        for kind, k in sorted(kinds.items()):
            selfs = ", ".join(f"{name} {v:.3f}" for name, v in sorted(k["self_s"].items(), key=lambda kv: -kv[1]))
            print(f"self time [{kind}, {k['ops']} ops]: {selfs}")
        units = per_layer_units()
        metrics = {name: {"value": float(per_layer.get(name, 0.0)), "unit": unit}
                   for name, unit in units.items()}
    else:
        metrics = {name: {"value": float(e2e[name]), "unit": unit} for name, unit in END_TO_END.items()}
    print(json.dumps({"detail": {k: v for k, v in detail.items() if k != "per_query"}}))
    with open(os.path.join(run_dir, "detail.json"), "w") as f:
        json.dump({"e2e": e2e, "detail": detail}, f, indent=1)
    print(json.dumps({"correct": not failures, "attempted": len(records),
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
