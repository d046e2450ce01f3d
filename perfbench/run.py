#!/usr/bin/env python3
"""Benchmark command for the syscolspark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) and caches the runtime classpath in
the build directory (``$CARGO_TARGET_DIR``, default ``.bench_build``); later
runs rebuild only when a source or build file changed. Each run is one JVM
(``perfbench.Main``, local[4]) that prints its metrics one per line; the
last line of standard output is the JSON result. ``--trace 0`` reports the
end-to-end metrics and ``--trace 1`` the per-layer metrics that
BENCHMARK.json lists for the workload. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"),
             os.path.join(BENCH_DIR, "src", "main"),
             os.path.join(ROOT, "project"),
             os.path.join(BENCH_DIR, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames
                                 if d not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        extra = ["-Dsbt.offline=true"]
        if os.path.exists(repos):
            extra += ["-Dsbt.override.build.repos=true",
                      f"-Dsbt.repository.config={repos}"]
        opts = " ".join([opts] + extra).strip()
    env["SBT_OPTS"] = opts
    return env


def build(build_dir):
    """Compile engine + harness if needed; return the runtime classpath and
    the JVM options the harness build defines."""
    stamp = os.path.join(build_dir, "fingerprint")
    cp_file = os.path.join(build_dir, "classpath")
    opts_file = os.path.join(build_dir, "java-options")
    fp = fingerprint()
    if all(os.path.exists(f) for f in (stamp, cp_file, opts_file)):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as fh, open(opts_file) as fo:
                    return fh.read().strip(), fo.read().strip().split("\t")
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath", "printJavaOptions"],
        cwd=BENCH_DIR, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln.strip() for ln in proc.stdout.splitlines()]
    cp = [ln for ln in lines if ln and not ln.startswith("[")
          and os.pathsep in ln]
    opts = [ln.split("\t")[1:] for ln in lines
            if ln.startswith("java-options\t")]
    if proc.returncode != 0 or not cp or not opts:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(opts_file, "w") as fh:
        fh.write("\t".join(opts[-1]))
    with open(stamp, "w") as fh:
        fh.write(fp)
    return cp[-1], opts[-1]


def run_harness(cp, java_opts, args, work_dir, sf_dir):
    # Spark's scratch space and the JVM's temporary files stay in the
    # checkout too.
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}"] + java_opts
    # A fixed-size heap and the parallel collector: measured on 4 vCPUs, the
    # default G1 collector with a growing heap made pass-to-pass times of the
    # same query vary about twice as much.
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-cp", cp,
            "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work-dir", work_dir,
            "--sf-dir", sf_dir]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if proc.returncode != 0:
        fail(f"harness exit {proc.returncode}")
    lines = out.strip().splitlines()
    if not lines:
        fail("harness printed nothing")
    for ln in lines[:-1]:
        print(ln)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources in {ROOT} (missing {need})")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                            os.path.expanduser("~/testdata/sf0.1"))

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp, java_opts = build(build_dir)
    res = run_harness(cp, java_opts, args, os.path.join(build_dir, "work"), sf_dir)

    got = res["per_layer" if args.trace else "end_to_end"]
    listed = {w["name"] for w in spec["workloads"]}
    if args.workload in listed:
        names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
        missing = [n for n in names if n not in got]
        if missing:
            fail(f"harness did not report {missing}")
        got = {n: got[n] for n in names}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": got}))


if __name__ == "__main__":
    main()
