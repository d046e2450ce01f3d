#!/usr/bin/env python3
"""Refresh src/main/resources/bench_baseline.json from full-suite bench runs.

Usage: python3 tools/refresh_ledger.py <note> <run1.json> [run2.json ...]

Each input is a file containing graft.Bench's JSON line (an sbt [info]
prefix is tolerated). The ledger records the PER-QUERY MIN across the
given runs (each run is itself a min of two same-JVM timed passes), the
same discipline the round-7 recording used. The ledger's `cpus` (the core
count graft.Bench computes host drift and gates regressions at) is kept as
it is: every run must have been made at that core count, so a refresh can
never move the recording condition. To record at another core count, edit
`cpus` in the ledger by hand first. Refuses runs with errors, runs at
another core count, and runs without a host drift.
"""
import json
import sys


MAX_LEDGER_DRIFT = 1.15
DEST = "src/main/resources/bench_baseline.json"


def ledger_cpus(dest=DEST):
    cpus = json.load(open(dest)).get("cpus")
    if cpus is None:
        raise SystemExit(f"{dest} has no `cpus`: record the core count the "
                         "ledger is measured at before refreshing it")
    return cpus


def load(path, cpus):
    s = open(path).read()
    d = json.loads(s[s.index('{'):])
    if d.get("errors"):
        raise SystemExit(f"{path} has erroring queries: {d['errors']}")
    if "sf0.1" not in d.get("sf", ""):
        raise SystemExit(f"{path} is not an sf0.1 run: {d.get('sf')}")
    if d.get("cpus") != cpus:
        raise SystemExit(f"{path} ran at {d.get('cpus')} cores, the ledger "
                         f"is recorded at {cpus}")
    # A loaded host inflates every timing; a ledger recorded from such a
    # run silently raises the baseline and hides real regressions behind
    # it (the round-7 incident). Refuse outright rather than warn. A run
    # without a drift (graft.Bench writes null off the ledger's core count)
    # has no load check at all, so it is refused too.
    drift = d.get("host_drift")
    if drift is None:
        raise SystemExit(f"{path}: host_drift is null — no host-load check "
                         "was made, re-run at the ledger's core count")
    if drift > MAX_LEDGER_DRIFT:
        raise SystemExit(
            f"{path}: host_drift {drift} exceeds {MAX_LEDGER_DRIFT} — "
            "re-measure on a quiet host before refreshing the ledger")
    return d


def main(argv, dest=DEST):
    note, paths = argv[0], argv[1:]
    cpus = ledger_cpus(dest)
    runs = [load(p, cpus)["queries"] for p in paths]
    names = set().union(*[set(r) for r in runs])
    merged = {q: min(r[q] for r in runs if q in r) for q in sorted(names)}
    out = {"queries": merged, "recorded": note, "sf": "/root/testdata/sf0.1"}
    out["cpus"] = cpus
    json.dump(out, open(dest, "w"), indent=1)
    print(f"wrote {dest}: {len(merged)} queries, "
          f"total {sum(merged.values()):.1f}s, from {len(paths)} run(s)")


if __name__ == "__main__":
    main(sys.argv[1:])
