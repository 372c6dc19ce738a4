#!/usr/bin/env python3
"""Self-test of the benchmark, on the small tables (sf0.001).

    python3 perfbench/selftest.py

For each workload it makes an untraced and a traced run and checks that
  1. every metric named in BENCHMARK.json prints, with its unit;
  2. the traced run's span tree covers the run: its root lasts as long as
     the JVM's wall time as run.py measured it from outside, each query's
     build and action sit in that query under the batch phase, no Spark
     job, SQL execution or stream batch fell outside every harness span,
     and the self times add up to the root's duration;
and, once, that
  3. the ingest exactly-once check fails when the sink drops one record;
  4. the output check lets rows that tie on the twin's ORDER BY key come
     in another order, and nothing else.
Exits 0 when every check holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "1", "--seconds", "10", "--trace", str(trace),
           "--scale", "sf0.001", "--ingest-scale", "0.5", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"run failed: {' '.join(cmd)}\n{p.stderr}")
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def span_problems(workload):
    """What is wrong with the span tree of `workload`'s last traced run."""
    key = os.path.join(ROOT, ".perfbench", "results", f"{workload}-1-sf0.001-t1")
    with open(key + ".json") as f:
        jvm_wall_s = json.load(f)["result"]["jvm_wall_s"]
    with open(key + "-spans.json") as f:
        spans = {s["id"]: s for s in json.load(f)}
    root = next(s for s in spans.values() if s["parent"] < 0)
    root_s = (root["end_us"] - root["start_us"]) / 1e6
    problems = []
    # The root runs from JVM start until the results are assembled; after
    # it come only writing them out and stopping Spark.
    if not jvm_wall_s - max(2.0, 0.05 * jvm_wall_s) <= root_s <= \
            jvm_wall_s + 0.05:
        problems.append(f"root span {root_s:.2f} s, JVM wall {jvm_wall_s:.2f} s")
    batch = [s["id"] for s in spans.values()
             if s["kind"] == "phase" and s["name"] == "batch"]
    for s in spans.values():
        if s["kind"] in ("build", "action"):
            q = spans.get(s["parent"], {})
            if q.get("kind") != "query" or q.get("name") != s["name"] or \
                    q.get("parent") not in batch:
                problems.append(f"{s['kind']} span of {s['name']} is not "
                                f"in its query under the batch phase")
        if s["kind"] in ("sql", "job", "batch") and s["parent"] == root["id"]:
            problems.append(f"{s['kind']} span '{s['name']}' lies outside "
                            f"every harness span")
    self_s = sum(s["self_us"] for s in spans.values()) / 1e6
    if abs(self_s - root_s) > 1e-5:
        problems.append(f"self times sum to {self_s:.6f} s of {root_s:.6f} s")
    return problems


def tie_problems():
    """What the output check gets wrong on a small result with ties."""
    import pandas as pd
    sys.path.insert(0, HERE)
    import run as bench
    oc = bench.oracle_check()
    sql = "SELECT k, v FROM t ORDER BY k"
    keys = bench.order_key(sql)
    twin = pd.DataFrame({"k": [1, 1, 2, 3, 3], "v": [10, 11, 20, 30, 31]})
    cases = [  # (Spark's rows, whether they must pass)
        ({"k": [1, 1, 2, 3, 3], "v": [11, 10, 20, 31, 30]}, True),
        ({"k": [1, 1, 2, 3, 3], "v": [10, 11, 30, 20, 31]}, False),
        ({"k": [1, 2, 1, 3, 3], "v": [10, 20, 11, 30, 31]}, False),
        ({"k": [1, 1, 2, 3, 3], "v": [11, 10, 20, 31, 32]}, False),
    ]
    problems = [] if keys == ["k"] else [f"ORDER BY key read as {keys}"]
    for rows, want in cases:
        if bench.ties_only(oc, pd.DataFrame(rows), twin, keys) != want:
            problems.append(f"{rows['v']} {'fails' if want else 'passes'}")
    return problems


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            failures.append(what)

    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            _, res = run(w, trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want[trace],
                   f"{w} trace={trace}: metrics and units match BENCHMARK.json"
                   + ("" if got == want[trace] else
                      f" (missing {sorted(set(want[trace]) - set(got))}, "
                      f"extra {sorted(set(got) - set(want[trace]))})"))
            expect(all(isinstance(v["value"], (int, float))
                       for v in res["metrics"].values()),
                   f"{w} trace={trace}: every value is a number")
            if trace:
                problems = span_problems(w)
                expect(not problems, f"{w}: the span tree covers the run"
                       + "".join(f"\n     {p}" for p in problems[:10]))

    notes, res = run("curate", 0, "--drop-record")
    expect(not res["correct"] and res["failed"] >= 1 and
           any("1 lost" in n for n in notes),
           "a record dropped by the sink fails the exactly-once check")
    problems = tie_problems()
    expect(not problems, "only rows tied on the ORDER BY key may move"
           + "".join(f"\n     {p}" for p in problems))
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
