#!/usr/bin/env python3
"""Run one benchmark measurement and print its result as the last line.

    python3 perfbench/run.py --workload curate --seed 3 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness (sbt, offline) and copies the benchmark tables into `.perfbench/`;
later runs reuse both. Each run starts one JVM that sets up a session,
runs the ingest phase (`curate` only; its event order set by the seed),
then the workload's queries (see README.md), and writes its figures; this
script then checks the outputs against the DuckDB twins (with
`tools/oracle_check.py`'s comparison) and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer ones
(`--trace 1`). Exit code 0 means a result was printed; anything else means
the run could not be made (nothing is printed on stdout then).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")

# The queries a run of each workload times, at sf0.1, in this order. Why
# these, and why a fixed order: see README.md. `q_ts_backtest` runs over
# the limit and goes last, so that the tasks its cancel leaves running do
# not slow the next query.
WORKLOADS = {
    "curate": [
        "q_dedup_ngram", "q_dedup_containment", "q_dedup_spans",
        "q_dedup_incremental_lsh", "q_stream_lsh_ingest", "q_sim_pairs_lsh",
        "q_dedup_cc_lsh", "q_dedup_keep", "q_ann_rp", "q_dedup_bloom",
    ],
    "analytics": [
        "q_agg_effectsize", "q_agg_groupby", "q_join_inner",
        "q_filter_predicate", "q_window_rank", "q_json_variant",
        "q_sql_decorrelate", "q_stream_tumbling", "q_stream_dedup_watermark",
        "q_agg_spearman", "q_ts_backtest",
    ],
}
# The workloads that run the ingest phase before their queries.
INGEST_WORKLOADS = {"curate"}

# Set-up warm-up on the small tables, so that the first timed query does
# not carry the whole cold JVM.
WARM_QUERIES = ["q_agg_groupby", "q_join_inner", "q_dedup_ngram"]
# Ingest phase: records/s offered at the reference rate (well below
# saturation) and for how many seconds, then the size of the backlog whose
# drain rate gives the capacity.
INGEST = {"refRate": 8000, "refS": 3, "burst": 240000}
DEADLINE_S = 170
# The ingest figures of a run without the ingest phase.
NO_INGEST = {"generated": 0, "lost": 0, "duplicated": 0, "wrong_fields": 0,
             "cpu_s": 0.0, "rows_per_s": 0.0, "latency_p50_ms": 0.0,
             "latency_p99_ms": 0.0}


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sub = shutil.which("spark-submit")
        if sub:
            home = os.path.dirname(os.path.dirname(os.path.realpath(sub)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_stamp():
    """Fingerprint of everything the build reads."""
    h = hashlib.sha1()
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(HARNESS, "src"),
                os.path.join(HARNESS, "build.sbt")):
        for dirpath, _, files in sorted(os.walk(top)) if os.path.isdir(top) \
                else [(os.path.dirname(top), [], [os.path.basename(top)])]:
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:"
                         f"{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(log):
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile"], cwd=HARNESS, env=env, stdout=out,
                           stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        fail(f"build failed, see {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def tables(scale):
    """The benchmark tables, copied once per checkout under a name of its
    own: the engine keys its staged layouts (under its scratch root) by
    the table directory's name, so two checkouts never share them."""
    tag = "pb" + hashlib.sha1(ROOT.encode()).hexdigest()[:10]
    dst = os.path.join(WORK, "data", f"{tag}_{scale}")
    if not os.path.exists(os.path.join(dst, ".complete")):
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(os.path.join(HERE, "data", scale), dst)
        open(os.path.join(dst, ".complete"), "w").close()
    return dst


def run_jvm(args, run_dir, cpus, log, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # A fixed, pre-touched heap: RSS and GC do not follow G1's heap sizing,
    # which varies with the load on the host (see README.md).
    cmd = ["java", *opens, "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars', '*')}",
           "perfbench.Main", f"out={run_dir}", f"tmp={tmp}",
           *[f"{k}={v}" for k, v in args.items()]]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=tmp)
    with open(log, "a") as out:
        t0 = time.time()
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
            jvm_wall_s = time.time() - t0
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded its time budget, see {log}", 4)
    if p.returncode != 0:
        fail(f"harness exited with {p.returncode}, see {log}", 4)
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    # The JVM's wall time as seen from outside it, for the self-test's
    # check of the span tree.
    result["jvm_wall_s"] = jvm_wall_s
    return result


def twin_results(sqls, data_dir):
    """The DuckDB twins' results for `sqls` (name -> SQL). A twin's result
    depends only on its SQL and the tables, so it is computed once per
    checkout and kept under .perfbench/twins. Twins that take DuckDB
    minutes ship precomputed in perfbench/twins. Files are parquet, which
    keeps the dtypes the comparison checks."""
    import duckdb
    import pandas as pd
    scale = os.path.basename(data_dir).split("_", 1)[1]
    cache = os.path.join(WORK, "twins")
    os.makedirs(cache, exist_ok=True)
    con = None
    out = {}
    for name, sql in sqls.items():
        key = hashlib.sha1(f"{scale}\0{sql}".encode()).hexdigest()[:16]
        shipped = os.path.join(HERE, "twins", f"{name}-{key}.parquet")
        path = shipped if os.path.exists(shipped) else \
            os.path.join(cache, f"{name}-{key}.parquet")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in oracle_check().TABLES:
                    p = os.path.join(data_dir, f"{t}.parquet")
                    if os.path.exists(p):
                        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            try:
                con.sql(sql).df().to_parquet(path + ".part")
                os.replace(path + ".part", path)
            except Exception as e:  # a twin that fails to run
                out[name] = e
                continue
        out[name] = pd.read_parquet(path)
    return out


def oracle_check():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import oracle_check as oc
    return oc


def load_output(check_dir, name):
    """A query's written result, its part files read in partition order.
    (tools/oracle_check.py's loader reads them in directory order, which
    scrambles a sorted result written as several files.)"""
    import duckdb
    files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
    if not files:
        return None
    return duckdb.sql(f"SELECT * FROM read_parquet({files!r})").df()


def check_outputs(result, data_dir, check_dir):
    """Compare every completed query's output with its DuckDB twin (or, for
    a query without one, require rows), using tools/oracle_check.py's
    comparison, which also compares row order. A query whose output differs
    is marked `mismatch` in place, unless it differs only in the order of
    rows that tie on the twin's ORDER BY key: that is a valid answer to the
    twin's SQL, so the query stays `ok` and gets a note."""
    oc = oracle_check()
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    done = {q["name"] for q in result["queries"] if q["status"] == "ok"}
    twins = twin_results({k: v for k, v in oracle.items() if k in done},
                         data_dir)
    for q in result["queries"]:
        if q["status"] != "ok":
            continue
        spark_df = load_output(check_dir, q["name"])
        if q["name"] in twins:
            duck_df = twins[q["name"]]
            if isinstance(duck_df, Exception):
                ok, msg = False, f"duckdb error: {duck_df}"
            elif spark_df is None:
                ok, msg = False, "no output"
            else:
                ok, msg = oc.compare(spark_df, duck_df)
                keys = order_key(oracle[q["name"]])
                if not ok and ties_only(oc, spark_df, duck_df, keys):
                    q["note"] = (f"rows that tie on the twin's ORDER BY "
                                 f"({', '.join(keys)}) come in another "
                                 f"order: {msg}")
                    ok = True
        else:
            rows = 0 if spark_df is None else len(spark_df)
            ok, msg = rows > 0, f"rows-only check, {rows} rows"
        if not ok:
            q["status"], q["error"] = "mismatch", msg


def order_key(sql):
    """The columns of `sql`'s final ORDER BY, or None when it has none or
    orders by anything but plain columns."""
    import duckdb
    tree = json.loads(duckdb.execute("SELECT json_serialize_sql(?::VARCHAR)",
                                     [sql]).fetchone()[0])
    if tree.get("error"):
        return None
    exprs = [o["expression"]
             for m in tree["statements"][0]["node"].get("modifiers", [])
             if m["type"] == "ORDER_MODIFIER" for o in m["orders"]]
    if not exprs or any(e["class"] != "COLUMN_REF" for e in exprs):
        return None
    return [e["column_names"][-1] for e in exprs]


def ties_only(oc, a, b, keys):
    """True when `a` differs from `b` only in the order of rows that tie on
    `keys`: the key values match row for row, and within each run of
    equal keys the rows match as a multiset."""
    if not keys or not set(keys) <= set(b.columns) or \
            sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    a, b = a.reset_index(drop=True), b.reset_index(drop=True)
    cols = sorted(a.columns)

    def joined(df, names):
        s = df[names[0]].astype(str)
        for n in names[1:]:
            s = s + "\x1f" + df[n].astype(str)
        return s

    ka, kb = joined(a, keys), joined(b, keys)
    if not (ka == kb).all():
        return False
    run = (kb != kb.shift()).cumsum()

    def canonical(df):
        order = (df.assign(_run=run, _row=joined(df, cols))
                 .sort_values(["_run", "_row"], kind="stable").index)
        return df.loc[order, cols].reset_index(drop=True)

    return oc.compare(canonical(a), canonical(b))[0]


def pct(xs, p):
    """Linear-interpolation percentile, as the harness computes it."""
    s = sorted(xs)
    r = (len(s) - 1) * p / 100.0
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def unit_of(name):
    if name.endswith("_frac"):
        return "frac"
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mib", "MiB")):
        if name.endswith(suffix):
            return unit
    return "count"


def end_to_end(result):
    qs = result["queries"]
    ing = result["ingest"] or NO_INGEST
    walls = [q["wall_s"] for q in qs]
    ok_q = sum(q["status"] == "ok" for q in qs)
    bad_rec = ing["lost"] + ing["duplicated"] + ing["wrong_fields"]
    m = {
        "setup_s": (result["setup_s"], "s"),
        "wall_s": (sum(q["wall_s"] + q["release_s"] for q in qs), "s"),
        "query_p50_s": (pct(walls, 50), "s"),
        "query_p90_s": (pct(walls, 90), "s"),
        "cpu_s": (ing["cpu_s"] + sum(q["cpu_s"] for q in qs), "s"),
        "ok_frac": (ok_q / len(qs) *
                    (1 - bad_rec / max(1, ing["generated"])), "frac"),
        "peak_rss_mib": (result["peak_rss_mib"], "MiB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # For the self-test: small tables, a shorter ingest phase, and a sink
    # that loses one record on purpose.
    ap.add_argument("--scale", default="sf0.1", help=argparse.SUPPRESS)
    ap.add_argument("--ingest-scale", type=float, default=1.0,
                    help=argparse.SUPPRESS)
    ap.add_argument("--drop-record", action="store_true",
                    help=argparse.SUPPRESS)
    a = ap.parse_args()
    start = time.time()
    for need in ("src/main/scala/graft/SparkEntry.scala",
                 "tools/oracle_check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    build(os.path.join(WORK, "logs", "build.log"))
    data = tables(a.scale)
    warm = tables("sf0.001")
    # A checkout's first run also builds; its budget starts after that.
    deadline = max(start + DEADLINE_S, time.time() + DEADLINE_S - 30)

    queries = WORKLOADS[a.workload]
    run_dir = os.path.join(WORK, "runs",
                           f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log = os.path.join(run_dir, "harness.log")
    ingest = dict(INGEST, refS=INGEST["refS"] * a.ingest_scale,
                  burst=int(INGEST["burst"] * a.ingest_scale))
    if a.workload not in INGEST_WORKLOADS:
        ingest["refRate"] = 0
    args = {"data": data, "warm": warm, "queries": ",".join(queries),
            "warmQueries": ",".join(WARM_QUERIES), "seed": a.seed,
            "budget": 2 * a.seconds, "trace": a.trace,
            "drop": int(ingest["refRate"] * 1.5) if a.drop_record else -1,
            **ingest}
    result = run_jvm(args, run_dir, nproc(), log, deadline)
    check_dir = os.path.join(run_dir, "check")
    t0 = time.time()
    check_outputs(result, data, check_dir)
    check_s = time.time() - t0

    qs = result["queries"]
    ing = result["ingest"] or NO_INGEST
    failed_q = [q for q in qs if q["status"] != "ok"]
    bad_rec = ing["lost"] + ing["duplicated"] + ing["wrong_fields"]
    for q in failed_q:
        print(f"failed {q['name']} ({q['status']}): {q['error']}")
    for q in qs:
        if q.get("note"):
            print(f"ok {q['name']}: {q['note']}")
    if bad_rec:
        print(f"failed ingest: {ing['lost']} lost, {ing['duplicated']} "
              f"duplicated, {ing['wrong_fields']} with wrong fields of "
              f"{ing['generated']} records")
    if result["ingest"]:
        print(f"ingest: burst drain {ing['rows_per_s']:.0f} records/s; latency "
              f"p50 {ing['latency_p50_ms']:.1f} ms, p99 "
              f"{ing['latency_p99_ms']:.1f} ms at {ing['ref_rate']:.0f} "
              f"records/s")
    tot = result["span_totals_s"]
    print(f"time: set-up {tot.get('setup', 0):.1f} s, ingest and batch "
          f"phases {tot.get('phase', 0):.1f} s (output writes "
          f"{tot.get('check', 0):.1f} s), twin check {check_s:.1f} s, "
          f"run {time.time() - start:.1f} s")
    if result["conf_leaks"]:
        first = {k: q["name"] for q in reversed(qs) for k in q["conf_leaks"]}
        print("session conf left changed for later queries: " + ", ".join(
            f"{k} (by {first.get(k, 'the set-up or ingest phase')})"
            for k in result["conf_leaks"]))

    if a.trace:
        # Single-threaded baseline: the ingest reference rate on one core.
        base = {"ingest": NO_INGEST}
        if result["ingest"]:
            base_dir = os.path.join(run_dir, "one-core")
            os.makedirs(base_dir)
            base = run_jvm({"data": data, "warm": warm, "warmQueries": "",
                            "seed": a.seed, "trace": 0,
                            "refRate": ingest["refRate"],
                            "refS": ingest["refS"], "burst": 0, "drop": -1},
                           base_dir, 1, log, deadline)
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in result["layers"].items()}
        for k, r, v, u in (
                ("ingest.rows_per_s", ing, "rows_per_s", "1/s"),
                ("ingest.p50_ms", ing, "latency_p50_ms", "ms"),
                ("ingest.p99_ms", ing, "latency_p99_ms", "ms"),
                ("ingest.one_core_p50_ms", base["ingest"], "latency_p50_ms",
                 "ms"),
                ("ingest.one_core_p99_ms", base["ingest"], "latency_p99_ms",
                 "ms")):
            metrics[k] = {"value": r[v], "unit": u}
    else:
        metrics = end_to_end(result)

    # The run's figures and its spans are kept under .perfbench/results.
    # Traced and untraced runs of one seed measure the same work; the
    # difference is the tracing overhead.
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    key = os.path.join(WORK, "results", f"{a.workload}-{a.seed}-{a.scale}")
    with open(f"{key}-t{a.trace}.json", "w") as f:
        json.dump({"metrics": metrics, "result": result}, f)
    os.replace(os.path.join(run_dir, "spans.json"),
               f"{key}-t{a.trace}-spans.json")
    other = f"{key}-t{1 - a.trace}.json"
    if os.path.exists(other):
        with open(other) as f:
            o = json.load(f)["result"]
        walls = {t: sum(q["wall_s"] for q in r["queries"]) for t, r in
                 ((a.trace, result), (1 - a.trace, o))}
        if walls[0] > 0:
            print(f"tracing overhead: {100 * (walls[1] / walls[0] - 1):+.1f}% "
                  f"batch wall ({walls[1]:.2f} s traced, "
                  f"{walls[0]:.2f} s untraced)")
    shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(qs) + ing["generated"]
    failed = len(failed_q) + bad_rec
    correct = bad_rec == 0 and not any(q["status"] == "mismatch" for q in qs)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
