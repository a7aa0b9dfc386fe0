#!/usr/bin/env python3
"""The benchmark's own test, in smoke mode (sf0.001 tables, one pass,
a small ingest). Run from the repository root:

  python3 perfbench/test_bench.py

It checks that
- every workload's last output line parses and carries every metric of
  BENCHMARK.json, untraced and traced, with no failed operation;
- a deliberately wrong expectation shows up as failed operations;
- one extra count() in one query shows up in the count diff as that
  query's exec.jobs.
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import counters  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
INJECTED = "q10_topk_lineitems"


def run(workload, trace, *extra):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke", *extra],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=ROOT)
    assert proc.returncode == 0, f"{workload} trace={trace} {extra}: exit {proc.returncode}"
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_output(res, names):
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["attempted"] >= 1 and res["correct"] is True, res
    assert set(res["metrics"]) == set(names), sorted(set(names) ^ set(res["metrics"]))
    for m in res["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["unit"], m


def main():
    e2e = [m["name"] for m in SPEC["end_to_end"]]
    layers = [m["name"] for m in SPEC["per_layer"]]
    ledgers = {}
    for w in [x["name"] for x in SPEC["workloads"]]:
        res = run(w, 0)
        check_output(res, e2e)
        assert res["failed"] == 0, (w, res)
        assert all(res["metrics"][m]["value"] > 0 for m in e2e), (w, res)
        res = run(w, 1)
        check_output(res, layers)
        assert res["failed"] == 0, (w, res)
        ledgers[w] = counters.counts_of(os.path.join(HERE, "out", w, "ledger.jsonl"))[1]
        wrong = run(w, 0, "--wrong-expectation")
        assert wrong["failed"] > 0, (w, wrong)
        print(f"ok {w}: {res['attempted']} ops traced; wrong expectation -> "
              f"{wrong['failed']}/{wrong['attempted']} failed")

    run("relational_small", 1, "--extra-count", INJECTED)
    _, injected = counters.counts_of(os.path.join(HERE, "out", "relational_small", "ledger.jsonl"))
    moved = counters.diff({"relational_small": ledgers["relational_small"]},
                          {"relational_small": injected})
    assert any(l.startswith(f"relational_small {INJECTED} exec.jobs ") for l in moved), moved
    print("ok count diff names the injected count():", "; ".join(moved))


if __name__ == "__main__":
    main()
