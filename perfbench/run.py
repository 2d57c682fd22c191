#!/usr/bin/env python3
"""Benchmark of the spark-graft engine: one workload, one seed, one run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload news_backtest --seed 1 --seconds 15 --trace 0

The first run in a checkout builds the program and the harness from
source into .bench_build/. The input tables are the harness testdata at
sf0.01, kept in perfbench/data/. Every run then starts one JVM (`perfbench.Main`), checks
the outputs of every timed call untimed, prints each metric with its
unit, the host stamp and any failing call, and prints as its last line
the JSON result. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

import plan as plans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
TMP = os.path.join(ROOT, ".bench_tmp")
OUT = os.path.join(ROOT, ".bench_out")
EXPECTED = os.path.join(HERE, "expected.json")
COSTS = os.path.join(HERE, "costs.json")

# The workloads BENCHMARK.json lists, and one more that runs on demand:
# analyst_queries, whose pass time spread too widely over seeds to gate
# within the run budget (README.md, "Run budget").
WORKLOADS = ("news_backtest", "curation_graph")
EXTRA_WORKLOADS = ("analyst_queries",)
# The paper's dataflow from cleared caches: news ingest through a
# stateful streaming rig (flatMapGroupsWithState: state store, offset and
# commit logs), then VADER -> lag grid -> selection -> p-value -> signals
# -> strategy sweep -> backtest fold -> full metrics.
INGEST = ["t8_stateful_tally"]
CHAIN = ["f7_vader_rules", "lag_grid_build", "lag_grid_best_config", "a3_corr_pvalue",
         "p8_signal_pipeline", "pipe11_strategy_sweep", "t7_portfolio_fold",
         "t7_full_metrics"]
# Driver-loop graph kernels (CC, PageRank, k-core, modularity) and the
# in-query persists of pipe6.
CURATION = ["d10_cc_corpus", "d11_pr_corpus", "d21_kcore", "d24_modularity",
            "pipe6_dedup_mix"]
ANALYST_SAMPLE = 10   # queries per analyst pass
MOVES_PER_ITER = 2    # dashboard slider moves after each news chain
JVM_TIMEOUT_S = 170
JAVA_OPTS = ["-Xmx3g", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + [
    o for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for o in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def die(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ---- build ---------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no program sources under src/main/scala in this checkout")
    stamp_f, cp_f = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_f) and open(stamp_f).read() == stamp:
        return open(cp_f).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    # sbt's global state goes under .bench_build too; only the toolchain's
    # offline artifact cache is read from outside the checkout.
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        f"-Dsbt.global.base={BUILD}/sbt-global", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        die("build failed")
    cp = p.stdout.strip().splitlines()[-1].strip()
    with open(cp_f, "w") as f:
        f.write(cp)
    catalog = subprocess.run(["java", "-cp", cp, "perfbench.Main", "--catalog"],
                             stdout=subprocess.PIPE, check=True, text=True).stdout
    with open(os.path.join(BUILD, "catalog.json"), "w") as f:
        f.write(catalog.strip().splitlines()[-1])
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return cp


# ---- host stamp ----------------------------------------------------------

def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v  # user nice system idle iowait irq softirq steal ...


def host_stamp(before, after):
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return {"cpus": len(os.sched_getaffinity(0)), "load1": os.getloadavg()[0],
            "steal_frac": d[7] / total, "iowait_frac": d[4] / total}


# ---- the run -------------------------------------------------------------

def make_plan(workload, seed, seconds, trace, catalog, expected, costs, record=False):
    p = {"workload": workload, "seconds": seconds, "trace": bool(trace),
         "data": DATA, "tmp": TMP, "cpus": len(os.sched_getaffinity(0)),
         # oracle keys without a record: their rows are dumped for DuckDB
         "verify": [c["name"] for c in catalog if c["oracle"] and c["name"] not in expected]}
    if workload == "analyst_queries":
        p["queries"] = plans.analyst_sample(catalog, costs, seed, ANALYST_SAMPLE)
    if workload == "news_backtest":
        p["chain"] = INGEST + CHAIN
        p["whatif"] = plans.whatif_moves(seed, MOVES_PER_ITER * 16)
        p["moves_per_iter"] = MOVES_PER_ITER
    if workload == "curation_graph":
        p["curation"] = CURATION
    if record:
        p.update(workload="record", whatif=plans.all_moves(),
                 verify=[c["name"] for c in catalog if c["oracle"]], queries=(
            ["lag_grid_build"] + plans.analyst_pool(catalog) + INGEST))
    return p


def run_jvm(cp, p):
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(os.path.join(TMP, "jtmp"))
    plan_f, out_f = os.path.join(TMP, "plan.json"), os.path.join(TMP, "raw.json")
    with open(plan_f, "w") as f:
        json.dump(p, f)
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={TMP}/jtmp", "-cp", cp,
           "perfbench.Main", plan_f, out_f]
    with open(os.path.join(TMP, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=TMP, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=None if p["workload"] == "record" else JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"JVM exceeded {JVM_TIMEOUT_S} s; log in {TMP}/jvm.log")
    if rc != 0 or not os.path.exists(out_f):
        with open(os.path.join(TMP, "jvm.log")) as f:
            log(f.read()[-4000:])
        die(f"JVM exited with {rc}")
    with open(out_f) as f:
        return json.load(f)


# ---- output checks -------------------------------------------------------

def oracle_compare(raw, keys):
    """DuckDB compare of the dumped oracle keys, bitwise on floats (the
    rule of scripts/local_check.py). Returns {key: failure reason}."""
    import duckdb
    import numpy as np
    import pandas as pd

    con = duckdb.connect(config={"memory_limit": "3GB", "threads": 2})
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    bad = {}
    dumps = {c["key"]: c["dump"] for call in raw["calls"] for c in call["checks"] if c["dump"]}
    for key in keys:
        sql = raw["oracles"][key]
        parts = sorted(glob.glob(os.path.join(dumps[key], "*.parquet")))
        spark_df = pd.concat([pd.read_parquet(p) for p in parts])
        try:
            ora = con.execute(sql).fetchdf()
        except Exception as e:  # the oracle itself failing is a finding too
            bad[key] = f"oracle error: {e}"
            continue
        a, b = canon(spark_df.copy()), canon(ora.copy())
        if len(a) != len(b):
            bad[key] = f"rows {len(a)} vs oracle {len(b)}"
            continue
        if list(a.columns) != list(b.columns):
            bad[key] = f"columns {list(a.columns)} vs oracle {list(b.columns)}"
            continue
        for c in a.columns:
            if np.issubdtype(a[c].dtype, np.floating) or np.issubdtype(b[c].dtype, np.floating):
                av = pd.to_numeric(a[c], errors="coerce").values.astype(np.float64)
                bv = pd.to_numeric(b[c], errors="coerce").values.astype(np.float64)
                ok = (av.view(np.uint64) == bv.view(np.uint64)) | (np.isnan(av) & np.isnan(bv))
            else:
                av, bv = a[c].astype(str).values, b[c].astype(str).values
                ok = av == bv
            if not ok.all():
                i = int(np.argmin(ok))
                bad[key] = f"column {c} row {i}: {av[i]!r} vs oracle {bv[i]!r}"
                break
    return bad


def check_calls(raw, expected):
    """Mark every call ok or failed. A key's first result in the run must
    match its record in expected.json (rows and digest, recorded from a
    run whose oracle keys all matched DuckDB); a key with no record is
    compared with its DuckDB oracle now, or counted unchecked if it has
    none. Every later result of a key must repeat its first."""
    fresh = sorted(k for k in raw["oracles"] if k not in expected)
    oracle_bad = oracle_compare(raw, fresh) if fresh else {}
    first, verdict, unchecked = {}, {}, set()
    failures = []
    for call in raw["calls"]:
        why = None if call["ok"] else call["error"]
        for c in call["checks"]:
            k, got = c["key"], (c["rows"], c["digest"])
            if k not in first:
                first[k] = got
                if k in expected:
                    e = expected[k]
                    verdict[k] = e.get("oracle_mismatch") or (
                        None if (e["rows"], e["digest"]) == got else
                        f"rows/digest {got} vs recorded {(e['rows'], e['digest'])}")
                elif k in raw["oracles"]:
                    verdict[k] = oracle_bad.get(k)
                else:
                    verdict[k] = None
                    unchecked.add(k)
            why = why or verdict[k] or (None if first[k] == got else
                                        f"result {got} differs from this run's first {first[k]}")
        call["failure"] = why
        if why:
            failures.append((call["name"], call["iter"], why))
    return failures, sorted(unchecked)


def merge_costs(old, raw):
    """The analyst sampler's cost ranking: the recorded costs, plus the
    time of this record run for keys that have none yet. Existing costs
    are never rewritten, so re-recording digests leaves every seed's
    sample as it was."""
    new = {c["name"]: round(call_s(c), 3) for c in raw["calls"]
           if len(c["checks"]) == 1 or not c["ok"]}
    return dict(sorted({**new, **old}.items()))


def record(raw, costs):
    """expected.json from a record run: every key's rows and digest, and
    the DuckDB verdict of oracle keys; a mismatch is kept, never blessed.
    costs.json gains the costs of new keys only (merge_costs)."""
    bad = oracle_compare(raw, sorted(raw["oracles"]))
    rec = {}
    for call in raw["calls"]:
        if not call["ok"]:
            log(f"record: {call['name']} failed: {call['error']}")
            rec[call["name"]] = {"rows": -1, "digest": "",
                                 "oracle_mismatch": "failed when recorded: " + call["error"]}
        for c in call["checks"]:
            e = {"rows": c["rows"], "digest": c["digest"]}
            if c["key"] in bad:
                e["oracle_mismatch"] = "DuckDB oracle mismatch when recorded: " + bad[c["key"]]
                log(f"record: {c['key']}: {bad[c['key']]}")
            rec[c["key"]] = e
    with open(EXPECTED, "w") as f:
        json.dump(dict(sorted(rec.items())), f, indent=0)
        f.write("\n")
    with open(COSTS, "w") as f:
        json.dump(merge_costs(costs, raw), f, indent=0)
        f.write("\n")
    log(f"recorded {len(rec)} keys ({len(raw['oracles'])} DuckDB-checked, "
        f"{len(bad)} mismatched) into {EXPECTED}")


# ---- metrics -------------------------------------------------------------

# name -> (unit, better). BENCHMARK.json lists the same names and units;
# test_bench.py checks that they agree.
E2E = {"setup_s": ("s", "lower"), "pass_s": ("s", "lower"), "live_heap_mb": ("MB", "lower")}
LAYERS = {
    "plans.analysis_s": ("s", "lower"), "plans.optimizer_s": ("s", "lower"),
    "plans.physical_s": ("s", "lower"), "plans.executions": ("count", "lower"),
    "operators.build_s": ("s", "lower"), "operators.eager_jobs": ("count", "lower"),
    "operators.jobs": ("count", "lower"), "operators.stages": ("count", "lower"),
    "operators.driver_gap_s": ("s", "lower"), "operators.tasks_per_stage": ("count", "higher"),
    "operators.task_cpu_s": ("s", "lower"), "operators.task_run_s": ("s", "lower"),
    "operators.gc_s": ("s", "lower"), "operators.cpu_util": ("fraction", "higher"),
    "operators.shuffle_read_bytes": ("bytes", "lower"),
    "operators.shuffle_write_bytes": ("bytes", "lower"),
    "operators.spill_bytes": ("bytes", "lower"), "operators.speedup_vs_1core": ("ratio", "higher"),
    "tables.bytes_read": ("bytes", "lower"), "tables.rows_read": ("count", "lower"),
    "tables.scan_tasks": ("count", "higher"), "functions.vader_us_per_doc": ("us/doc", "lower"),
    "materialized.build_s": ("s", "lower"), "materialized.builds": ("count", "lower"),
    "materialized.inmemory_scans": ("count", "higher"),
    "materialized.persisted_rdds_after": ("count", "lower"),
    "materialized.storage_bytes_after": ("bytes", "lower"),
    "streaming.batches": ("count", "lower"), "streaming.add_batch_s": ("s", "lower"),
    "streaming.query_planning_s": ("s", "lower"), "streaming.wal_commit_s": ("s", "lower"),
    "streaming.state_commit_s": ("s", "lower"), "streaming.state_rows": ("count", "lower"),
    "streaming.input_rows": ("count", "lower"), "streaming.microbatch_p50_s": ("s", "lower"),
    "backtest.whatif_p50_s": ("s", "lower"), "sourcesinks.bytes_written": ("bytes", "lower"),
    "sourcesinks.files_written": ("count", "lower"), "trace.overhead_frac": ("fraction", "lower"),
    "host.steal_frac": ("fraction", "lower"), "host.iowait_frac": ("fraction", "lower"),
    "host.load1": ("load", "lower"), "host.cpus": ("count", "higher"),
}


def quantile(xs, q):
    xs = sorted(xs)
    i = q * (len(xs) - 1)
    lo = int(i)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (i - lo)


def call_s(c):
    return (c["end"] - c["start"]) / 1e3


def iter_s(i):
    return (i["end"] - i["start"]) / 1e3


def busy_ms(jobs, lo, hi):
    """ms of [lo, hi] during which at least one Spark job was running."""
    tot, cur = 0, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in jobs if b > lo and a < hi):
        if cur is None or a > cur[1]:
            tot += cur[1] - cur[0] if cur else 0
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return tot + (cur[1] - cur[0] if cur else 0)


def microbatches(raw, pass_):
    """triggerExecution seconds of the micro-batches that started inside
    a pass of the given kind."""
    wins = [(i["start"], i["end"]) for i in raw["iterations"] if i["pass"] == pass_]
    return [s for t, s in raw["microbatches"] if any(a <= t <= b for a, b in wins)]


def e2e_metrics(raw):
    """pass_s sums a pass's call times: the resets and output checks
    between calls are the harness's, not the program's."""
    timed = [i for i in raw["iterations"] if i["pass"] == "timed"]
    passes = [sum(call_s(c) for c in raw["calls"] if c["iter"] == i["iter"]) for i in timed]
    return {"setup_s": statistics.median(raw["setup_s"]),
            "pass_s": statistics.median(passes),
            "live_heap_mb": statistics.median(i["live_heap_mb"] for i in timed)}


def info_lines(raw):
    """Figures that exist on one workload only, or whose spread over seeds
    is too wide to gate: printed with their sample counts, not part of the
    result."""
    calls = [c for c in raw["calls"] if c["pass"] == "timed"]
    lat = [call_s(c) for c in calls]
    p90 = quantile(lat, 0.9)
    out = [("call_p50_s", statistics.median(lat), "s", f"n={len(lat)}"),
           ("call_p90_s", p90, "s", f"n={len(lat)}, {sum(x > p90 for x in lat)} beyond"),
           ("peak_rss_mb", raw["peak_rss_mb"], "MB", "JVM high-water mark")]
    moves = [call_s(c) for c in calls if c["name"] == "whatif"]
    if moves:
        out.append(("whatif_p50_s", statistics.median(moves), "s", f"n={len(moves)}"))
    mb = microbatches(raw, "timed")
    if mb:
        out.append(("microbatch_p50_s", statistics.median(mb), "s", f"n={len(mb)}"))
    return out


def layer_metrics(raw, host):
    """Counters of the traced pass; the trace overhead (traced pass versus
    the mean of the untraced passes around it, same JVM) and the
    single-core speedup (local[1] pass versus that mean)."""
    pick = lambda p: [i for i in raw["iterations"] if i["pass"] == p]
    (traced,), (local1,) = pick("traced"), pick("local1")
    untraced_s = statistics.mean(iter_s(i) for i in pick("untraced"))
    g = lambda k: raw["layers"].get(k, 0.0)
    calls = [c for c in raw["calls"] if c["pass"] == "traced"]
    jobs = raw["jobs"]
    wall = iter_s(traced)
    stages = g("operators.stages")
    moves = [call_s(c) for c in raw["calls"] if c["name"] == "whatif" and c["pass"] == "untraced"]
    mb = microbatches(raw, "untraced")
    m = dict(raw["layers"])
    m.update({
        "operators.build_s": sum((c["built"] - c["start"]) / 1e3 for c in calls),
        "operators.eager_jobs": sum(1 for a, _ in jobs for c in calls if c["start"] <= a < c["built"]),
        "operators.driver_gap_s": wall - busy_ms(jobs, traced["start"], traced["end"]) / 1e3,
        "operators.tasks_per_stage": g("operators.stage_tasks") / stages if stages else 0.0,
        "operators.cpu_util": g("operators.task_cpu_s") / (wall * host["cpus"]),
        "operators.speedup_vs_1core": iter_s(local1) / untraced_s,
        "functions.vader_us_per_doc": raw["vader_us_per_doc"],
        "materialized.persisted_rdds_after": traced["persisted_rdds"],
        "materialized.storage_bytes_after": traced["storage_bytes"],
        "streaming.microbatch_p50_s": statistics.median(mb) if mb else 0.0,
        "backtest.whatif_p50_s": statistics.median(moves) if moves else 0.0,
        "trace.overhead_frac": wall / untraced_s - 1,
    })
    m.update({f"host.{k}": host[k] for k in ("steal_frac", "iowait_frac", "load1", "cpus")})
    return {k: float(m.get(k, 0.0)) for k in LAYERS}


def spans(raw, cpus):
    """Spans kept in memory by the run and written at its end: one per
    pass and one per call (parent: its pass). Calls of the traced pass
    carry the time attributed to each layer inside their window."""
    tl, jobs = raw.get("timeline", []), raw.get("jobs", [])
    out = [{"name": f"pass {i['iter']}", "pass": i["pass"], "start_ms": i["start"],
            "end_ms": i["end"], "parent": None} for i in raw["iterations"]]
    for c in raw["calls"]:
        sp = {"name": c["name"], "pass": c["pass"], "start_ms": c["start"],
              "built_ms": c["built"], "end_ms": c["end"], "parent": f"pass {c['iter']}"}
        if c["pass"] == "traced":
            inside = lambda layer: sum(x for l, t, x in tl if l == layer and c["start"] <= t <= c["end"])
            sp["layers"] = {
                "planning": inside("planning"),
                "driver gap": call_s(c) - busy_ms(jobs, c["start"], c["end"]) / 1e3,
                "task time": inside("task") / cpus,
                "streaming commit": inside("stream_commit")}
        out.append(sp)
    return out


def main():
    ap = argparse.ArgumentParser(description="spark-graft benchmark (one run)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + EXTRA_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="run the whole catalog and every what-if setting once and "
                         "rewrite perfbench/expected.json (DuckDB-checked) from the results")
    a = ap.parse_args()

    cp = build()
    with open(os.path.join(BUILD, "catalog.json")) as f:
        catalog = json.load(f)
    with open(EXPECTED) as f:
        expected = json.load(f)
    with open(COSTS) as f:
        costs = json.load(f)
    p = make_plan(a.workload, a.seed, a.seconds, a.trace, catalog, expected, costs, a.record)

    t0, load0 = cpu_times(), os.getloadavg()[0]
    raw = run_jvm(cp, p)
    host = host_stamp(t0, cpu_times())

    if a.record:
        record(raw, costs)
        return

    failures, unchecked = check_calls(raw, expected)
    # every call is checked, the warm-up and local[1] passes' too
    attempted = len(raw["calls"])
    failed = sum(1 for c in raw["calls"] if c["failure"])

    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  trace {a.trace}")
    if a.workload == "curation_graph":
        print("  (the seed does not change this workload's inputs)")
    print(f"  host: cpus={host['cpus']} load1={load0:.2f}->{host['load1']:.2f} "
          f"steal={host['steal_frac']:.3f} iowait={host['iowait_frac']:.3f}")
    if a.trace:
        metrics, units = layer_metrics(raw, host), LAYERS
        os.makedirs(OUT, exist_ok=True)
        span_f = os.path.join(OUT, f"spans-{a.workload}-seed{a.seed}.json")
        with open(span_f, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "host": host,
                       "metrics": metrics, "spans": spans(raw, host["cpus"])}, f)
        print(f"  spans: {span_f}  (python3 perfbench/report.py {span_f})")
    else:
        metrics, units = e2e_metrics(raw), E2E
    for k, v in metrics.items():
        print(f"  {k:36s} {v:14.6g} {units[k][0]}")
    if not a.trace:
        for k, v, u, note in info_lines(raw):
            print(f"  {k:36s} {v:14.6g} {u}   (info, {note})")
    print(f"  error_rate {failed}/{attempted} = {failed / attempted:.4f}"
          + (f"  (no recorded result for: {', '.join(unchecked)})" if unchecked else ""))
    for name, it, why in failures:
        print(f"  FAILED {name} (pass {it}): {why}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
