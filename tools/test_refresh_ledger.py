#!/usr/bin/env python3
"""Guard test for refresh_ledger.py: a run whose host_drift exceeds
MAX_LEDGER_DRIFT must be refused (the round-7 loaded-host incident class),
as must a run with no drift or at another core count than the ledger's
`cpus`; a quiet run must load, and a refresh keeps the ledger's `cpus`.
Run: python3 tools/test_refresh_ledger.py"""
import importlib.util
import json
import os
import tempfile

spec = importlib.util.spec_from_file_location(
    "refresh_ledger", os.path.join(os.path.dirname(__file__),
                                   "refresh_ledger.py"))
rl = importlib.util.module_from_spec(spec)
spec.loader.exec_module(rl)


def write(d):
    with tempfile.NamedTemporaryFile("w", suffix=".json",
                                     delete=False) as f:
        json.dump(d, f)
    return f.name


def bench_run(drift, cpus=32, q=1.0):
    return write({"metric": "total", "value": q, "sf": "testdata/sf0.1",
                  "host_drift": drift, "cpus": cpus, "queries": {"q_x": q}})


def refreshes(ledger, runs):
    """The written ledger, or None when refresh_ledger refuses."""
    dest = write(ledger)
    try:
        rl.main(["note"] + runs, dest=dest)
        return json.load(open(dest))
    except SystemExit:
        return None
    finally:
        for p in [dest] + runs:
            os.unlink(p)


def run(drift, cpus=32):
    return refreshes({"queries": {}, "cpus": 32}, [bench_run(drift, cpus)]) \
        is not None


assert run(1.05) is True, "quiet run must load"
assert run(rl.MAX_LEDGER_DRIFT + 0.01) is False, "drifted run must refuse"
assert run(None) is False, "a run without a drift must refuse"
assert run(1.05, cpus=8) is False, "a run at another core count must refuse"
assert refreshes({"queries": {}, "cpus": 32},
                 [bench_run(1.0), bench_run(None, cpus=8)]) is None, \
    "mixed core counts must refuse"
assert refreshes({"queries": {}}, [bench_run(1.0)]) is None, \
    "a ledger without cpus must refuse"
out = refreshes({"queries": {}, "cpus": 32},
                [bench_run(1.0, q=2.0), bench_run(1.1, q=1.5)])
assert out["cpus"] == 32 and out["queries"] == {"q_x": 1.5}, out
print("refresh_ledger drift guard OK")
