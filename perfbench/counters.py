#!/usr/bin/env python3
"""Per-layer counters of the traced pass, and the count baseline.

  python3 perfbench/counters.py baseline   # traced run of every workload,
                                           # writes perfbench/baseline.json
  python3 perfbench/counters.py diff [LEDGER ...]
      # prints every workload, operation and counter whose value moved
      # against perfbench/baseline.json; without LEDGER arguments it makes
      # a fresh traced run of every workload first. Exits 1 if any moved.

Only counters that repeat exactly from run to run are in the baseline
(EXACT below); times and codegen counts are not.
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASELINE = os.path.join(HERE, "baseline.json")
BASELINE_SEED = 1
WORKLOADS = ["relational_small", "iterative_ops", "ingest_commit"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    PER_LAYER = [(m["name"], m["unit"]) for m in json.load(_f)["per_layer"]]

EXACT = ["exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_bytes",
         "exec.shuffle_read_bytes", "ingest.fetch_calls", "ingest.asr_calls",
         "ingest.records", "ingest.rejected_urls", "txn.publish_attempts",
         "fs.read_ops", "fs.write_ops"]
# a per-pass sum of these means nothing: the run reports their maximum
# (for the log's file count, its size at the pass's last commit)
PEAKS = {"jvm.heap_peak_mb", "stream.state_rows", "txn.log_files"}


def load_ledger(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def pass_sums(ops):
    """Counters summed over each traced pass, then averaged over the
    run's traced passes (maxima for PEAKS)."""
    per_pass = defaultdict(lambda: defaultdict(float))
    for o in ops:
        for k, v in o["counters"].items():
            acc = per_pass[o["pass"]]
            acc[k] = max(acc[k], v) if k in PEAKS else acc[k] + v
    if not per_pass:
        return {}
    keys = {k for p in per_pass.values() for k in p}
    n = len(per_pass)
    out = {k: (max(p.get(k, 0.0) for p in per_pass.values()) if k in PEAKS
               else sum(p.get(k, 0.0) for p in per_pass.values()) / n) for k in keys}
    calls = out.get("ingest.fetch_calls", 0.0) + out.get("ingest.asr_calls", 0.0)
    out["ingest.useful_ratio"] = out.get("ingest.records", 0.0) / calls if calls else 0.0
    return out


def exact_counts(ops):
    """{operation: {counter: value}} from the first traced pass."""
    first = min(o["pass"] for o in ops)
    return {o["name"]: {k: o["counters"].get(k, 0.0) for k in EXACT}
            for o in ops if o["pass"] == first}


def traced_run(workload, extra=()):
    """Makes a traced run and returns its ledger path."""
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(BASELINE_SEED), "--seconds", "1", "--trace", "1", *extra],
                   check=True, stdout=subprocess.DEVNULL)
    return os.path.join(HERE, "out", workload, "ledger.jsonl")


def counts_of(ledger):
    recs = load_ledger(ledger)
    ops = [r for r in recs if r["type"] == "op"]
    return ops[0]["workload"], exact_counts(ops)


def diff(base, got):
    """Lines naming every (workload, operation, counter) that moved."""
    lines = []
    for w in sorted(got):
        for op in sorted(set(base.get(w, {})) | set(got[w])):
            b, g = base.get(w, {}).get(op), got[w].get(op)
            if b is None or g is None:
                lines.append(f"{w} {op} {'added' if b is None else 'removed'}")
                continue
            for k in EXACT:
                if b.get(k, 0.0) != g.get(k, 0.0):
                    lines.append(f"{w} {op} {k} {b.get(k, 0.0):g} -> {g.get(k, 0.0):g}")
    return lines


def main():
    cmd = sys.argv[1] if len(sys.argv) > 1 else ""
    if cmd == "baseline":
        base = dict(counts_of(traced_run(w)) for w in WORKLOADS)
        with open(BASELINE, "w") as f:
            json.dump(base, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {BASELINE}")
    elif cmd == "diff":
        ledgers = sys.argv[2:] or [traced_run(w) for w in WORKLOADS]
        with open(BASELINE) as f:
            base = json.load(f)
        moved = diff(base, dict(counts_of(l) for l in ledgers))
        print("\n".join(moved) if moved else "no counter moved")
        sys.exit(1 if moved else 0)
    else:
        print(__doc__)
        sys.exit(2)


if __name__ == "__main__":
    main()
