#!/usr/bin/env python3
"""Guard tests for ab_pair.py: a bench run that erred (non-zero exit,
n_errors > 0, or a wanted query under errors) must be refused, so no
time-to-fail enters a B/A ratio; a clean run must load; a run must
write Bench's JSON outside the checkout; and each query must be timed in
its own JVM per side.
Run: python3 tools/test_ab_pair.py"""
import contextlib
import importlib.util
import io
import json
import os
import subprocess

spec = importlib.util.spec_from_file_location(
    "ab_pair", os.path.join(os.path.dirname(__file__), "ab_pair.py"))
ab = importlib.util.module_from_spec(spec)
spec.loader.exec_module(ab)


def run(rc=0, n_errors=0, errors=None):
    line = json.dumps({"metric": "total", "value": 1.5, "n_errors": n_errors,
                       "queries": {"q_x": 1.0, "q_y": 0.5},
                       "errors": errors or {}})
    try:
        return ab.bench_times("warming up\n" + line + "\n", rc, ["q_x"])
    except RuntimeError:
        return None


assert run() == {"q_x": 1.0, "q_y": 0.5}, "clean run must load"
assert run(rc=1) is None, "non-zero exit must refuse"
assert run(n_errors=1, errors={"q_y": "boom"}) is None, \
    "n_errors > 0 must refuse"
assert run(errors={"q_x": "boom"}) is None, \
    "a wanted query under errors must refuse"
print("ab_pair errored-run guard OK")


# run_once points Bench's output file at a temporary directory, so the
# tracked bench_out.json in the repository root is never overwritten
seen = {}


def fake_run(cmd, env=None, cwd=None, **kwargs):
    seen.update(env=env, cwd=cwd)
    line = json.dumps({"metric": "total", "value": 1.0, "n_errors": 0,
                       "queries": {"q_x": 1.0}, "errors": {}})
    return subprocess.CompletedProcess(cmd, 0, line + "\n", "")


real_run, ab.subprocess.run = ab.subprocess.run, fake_run
try:
    assert ab.run_once("classes", "q_x", "sf", "1g") == {"q_x": 1.0}
finally:
    ab.subprocess.run = real_run
out = seen["env"].get("SPARK_GRAFT_BENCH_OUT")
assert out, "run_once must set SPARK_GRAFT_BENCH_OUT"
repo = os.path.realpath(ab.REPO)
assert not os.path.realpath(out).startswith(repo + os.sep), out
assert not os.path.exists(os.path.dirname(out)), \
    "the temporary output directory must be removed"
print("ab_pair bench-out guard OK")


# main times each query alone: one Bench JVM per query and side, the
# query the only one that JVM runs, sides alternating per pair
calls = []


def fake_bench(cmd, env=None, cwd=None, **kwargs):
    classes = cmd[cmd.index("-cp") + 1].split(":")[0]
    query = cmd[-1]
    calls.append((classes, query))
    line = json.dumps({"metric": "total", "value": 1.0, "n_errors": 0,
                       "queries": {query: 2.0 if classes == "B" else 1.0},
                       "errors": {}})
    return subprocess.CompletedProcess(cmd, 0, line + "\n", "")


real_run, ab.subprocess.run = ab.subprocess.run, fake_bench
real_argv = ab.sys.argv
ab.sys.argv = ["ab_pair.py", "--a", "A", "--b", "B", "--q", "q_x,q_y",
               "--pairs", "2"]
printed = io.StringIO()
try:
    with contextlib.redirect_stdout(printed):
        ab.main()
finally:
    ab.subprocess.run, ab.sys.argv = real_run, real_argv
assert "each query timed alone" in printed.getvalue(), printed.getvalue()
assert calls == [("A", "q_x"), ("B", "q_x"), ("A", "q_y"), ("B", "q_y"),
                 ("B", "q_x"), ("A", "q_x"), ("B", "q_y"), ("A", "q_y")], calls
print("ab_pair one-JVM-per-query guard OK")
