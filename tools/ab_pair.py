#!/usr/bin/env python3
"""Paired adjacent-run A/B bench for optimization adjudication.

The r14 lesson: this sandbox's host drift is heterogeneous (0.84x-5x per
query) and time-varying, so single before/after readings are meaningless.
The protocol that survived r14's verdict audit is the paired adjacent-run
A/B: alternate BEFORE and AFTER class snapshots in back-to-back JVMs so
both sides of every pair see (nearly) the same host window, then judge by
the per-pair ratio vector and its median, never by one reading.

Usage:
  python3 tools/ab_pair.py --a <classesA> --b <classesB> \
      --q q1[,q2...] --pairs 3 [--sf /root/testdata/sf0.1] [--xmx 8g]

A = before snapshot, B = after snapshot (each a compiled classes dir,
e.g. cp -r target/scala-2.13/classes ../classes_before). Each query is
timed alone: every pair runs `graft.Bench <query>` once per side, each in
its own JVM (untimed warm-up + min-of-two, the identical in-JVM protocol
the suite uses), so no query's figure depends on the query timed before it
in the same JVM. Pair order alternates (A,B / B,A / A,B ...) so a monotone
host trend cannot masquerade as a win. Prints per-pair B/A ratios per
query and the median ratio.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESOURCES = os.path.join(REPO, "src", "main", "resources")
SPARK_JARS = "/opt/spark/jars/*"

JVM_FLAGS = [
    "--add-exports=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
]


def run_once(classes, queries, sf_dir, xmx):
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    cmd = (["java", f"-Xmx{xmx}"] + JVM_FLAGS +
           ["-cp", f"{classes}:{RESOURCES}:{SPARK_JARS}",
            "graft.Bench", queries])
    # Bench writes its JSON to $SPARK_GRAFT_BENCH_OUT, else to
    # bench_out.json in its working directory: keep it out of the checkout
    with tempfile.TemporaryDirectory() as tmp:
        env["SPARK_GRAFT_BENCH_OUT"] = os.path.join(tmp, "bench_out.json")
        out = subprocess.run(cmd, env=env, capture_output=True, text=True,
                             cwd=REPO)
    return bench_times(out.stdout, out.returncode, queries.split(","),
                       out.stderr)


def bench_times(stdout, returncode, names, stderr=""):
    """Per-query seconds of one bench run, refusing a run that erred.

    A query that throws still gets a time (its time to fail), so an erring
    run would feed that time into the B/A ratios. A run is refused when it
    exited non-zero, reports n_errors > 0, or lists a wanted query under
    errors."""
    bench = None
    for line in stdout.splitlines():
        line = line.strip()
        if line.startswith("{") and '"metric"' in line:
            bench = json.loads(line)
    if bench is None:
        raise RuntimeError(f"no bench JSON (rc={returncode})\n"
                           f"stderr tail: {stderr[-2000:]}")
    errors = bench.get("errors", {})
    if (returncode != 0 or bench.get("n_errors", 0) > 0
            or any(q in errors for q in names)):
        raise RuntimeError(f"bench run erred (rc={returncode}, "
                           f"n_errors={bench.get('n_errors')}): {errors}\n"
                           f"stderr tail: {stderr[-2000:]}")
    return bench["queries"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="BEFORE classes dir")
    ap.add_argument("--b", required=True, help="AFTER classes dir")
    ap.add_argument("--q", required=True, help="comma-separated queries")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--xmx", default=os.environ.get("SPARK_DRIVER_MEM", "8g"))
    args = ap.parse_args()

    names = args.q.split(",")
    ratios = {q: [] for q in names}
    times = {q: {"a": [], "b": []} for q in names}
    print(f"each query timed alone: one JVM per query and side, "
          f"{args.pairs} pairs, A/B order alternating per pair", flush=True)
    for p in range(args.pairs):
        order = [("a", args.a), ("b", args.b)]
        if p % 2 == 1:
            order.reverse()
        for q in names:
            got = {tag: run_once(classes, q, args.sf, args.xmx)
                   for tag, classes in order}
            ta, tb = got["a"].get(q), got["b"].get(q)
            if ta is None or tb is None:
                print(f"pair {p}: {q} missing (a={ta}, b={tb})")
                continue
            times[q]["a"].append(ta)
            times[q]["b"].append(tb)
            ratios[q].append(tb / ta)
            print(f"pair {p} [{'-'.join(t for t, _ in order)}] {q}: "
                  f"A={ta:.3f}s B={tb:.3f}s  B/A={tb / ta:.3f}", flush=True)
    print("\n== medians (B/A < 1 means AFTER is faster) ==")
    for q in names:
        if ratios[q]:
            med = statistics.median(ratios[q])
            mina = min(times[q]["a"])
            minb = min(times[q]["b"])
            print(f"{q}: median_ratio={med:.3f} "
                  f"ratios={[round(r, 3) for r in ratios[q]]} "
                  f"minA={mina:.3f}s minB={minb:.3f}s min_ratio={minb/mina:.3f}")


if __name__ == "__main__":
    sys.exit(main())
