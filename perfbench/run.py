#!/usr/bin/env python3
"""Layer-traced benchmark of the graft engine.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                           [--smoke] [--sf-dir DIR]

Run from the repository root. It builds the benchmark (the engine's main
sources plus perfbench/src) with sbt when the sources changed, runs one
workload in a fresh JVM for whole passes (until S seconds have gone by,
and at least three), checks every output, and prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
measured with tracing off; with --trace 1 the per-layer ones, from the
traced passes, and the span/counter ledger is left in
perfbench/out/<workload>/ledger.jsonl.

DuckDB's oracle results are cached in perfbench/oracle/<sf>/ with the SQL
they came from; an entry is recomputed whenever the program's oracle SQL
for that query changes. Recompute every entry with
  python3 perfbench/run.py --workload W --seed 1 --seconds 1 --trace 0 --refresh-oracle
for W in relational_small and iterative_ops, with and without --smoke.

Test-only flags: --extra-count QUERY (one extra count() in that query),
--wrong-expectation (every check expects one row too many).
"""
import argparse
import gzip
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(HERE, "out")
ORACLE = os.path.join(HERE, "oracle")
BUILD = os.path.join(HERE, "target", "bench-build.json")
WORKLOADS = ["relational_small", "iterative_ops", "ingest_commit"]
JVM_TIMEOUT_S = 165
# the test tables of TESTDATA.md
DEFAULT_SF = {False: "~/testdata/sf0.1", True: "~/testdata/sf0.001"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs if f.endswith(".scala"))
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def classpath():
    """Builds when the sources changed since the last build; returns the
    runtime classpath."""
    digest = source_hash()
    if os.path.exists(BUILD):
        with open(BUILD) as f:
            b = json.load(f)
        if b.get("hash") == digest:
            return b["classpath"]
    print("[perfbench] building ...", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "-J-Xss64m", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(BUILD), exist_ok=True)
    with open(BUILD, "w") as f:
        json.dump({"hash": digest, "classpath": cp}, f)
    return cp


def run_jvm(args, out_dir, cp, extra):
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.join(out_dir, "tmp"))
    # A fixed heap: when G1 sizes the heap itself, its concurrent marking
    # runs more or less often from run to run, and its CPU time moved a
    # pass's CPU time by up to half (README). A fixed set of JIT compiler
    # threads: BenchMain leaves their CPU time out of its figures, and
    # reads it from the threads that are alive.
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss64m", "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={out_dir}/tmp"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "perfbench.BenchMain",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--sf-dir", args.sf_dir, "--out", out_dir] + extra)
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env, cwd=ROOT)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"benchmark JVM ran past {JVM_TIMEOUT_S} s")
    if rc != 0:
        fail(f"benchmark JVM exited with {rc}")
    with open(os.path.join(out_dir, "raw.json")) as f:
        return json.load(f)


def oracle_frame(con, sf_dir, query, sql, refresh):
    """DuckDB's result for one query's oracle SQL. Results are cached in
    perfbench/oracle/<sf>/ together with the SQL they came from; an
    entry whose SQL differs from the program's current SQL, or any entry
    under --refresh-oracle, is recomputed from DuckDB and rewritten."""
    path = os.path.join(ORACLE, os.path.basename(os.path.normpath(sf_dir)), query + ".pkl.gz")
    if not refresh and os.path.exists(path):
        with gzip.open(path, "rb") as f:
            cached = pickle.load(f)
        if cached["sql"] == sql:
            return cached["frame"]
    frame = con.sql(sql).df()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with gzip.GzipFile(path, "wb", mtime=0) as f:
        pickle.dump({"sql": sql, "frame": frame}, f)
    return frame


def oracle_check(raw, sf_dir, out_dir, wrong, refresh):
    """Compares each query's full result (its first execution) with DuckDB
    running the query's oracle SQL over the same tables, by the rules of
    tools/check.py, and every execution's row count with the oracle's.
    Returns {query: problem} for the queries that do not match."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import compare
    sql = raw["oracle_sql"]
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad, want_rows = {}, {}
    for q in raw["queries"]:
        if q not in sql:
            bad[q] = "no oracle SQL"
            continue
        want = oracle_frame(con, sf_dir, q, sql[q], refresh)
        want_rows[q] = len(want) + (1 if wrong else 0)
        got = con.sql(f"SELECT * FROM '{out_dir}/results/{q}/*.parquet'").df()
        err = compare(q, got, want)
        if err:
            bad[q] = err
    for o in raw["ops"]:
        q = o["name"]
        if o["ok"] and q in want_rows and o["rows"] != want_rows[q]:
            bad.setdefault(q, f"{o['rows']} rows, oracle has {want_rows[q]}")
    return bad


def median(xs):
    # 0 when every operation failed: the output line must stay valid JSON
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--sf-dir")
    ap.add_argument("--extra-count")
    ap.add_argument("--wrong-expectation", action="store_true")
    ap.add_argument("--refresh-oracle", action="store_true")
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}: run from a checkout of the repository")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    args.sf_dir = os.path.expanduser(args.sf_dir or DEFAULT_SF[args.smoke])
    if not os.path.exists(os.path.join(args.sf_dir, "lineitem.parquet")):
        fail(f"no test tables in {args.sf_dir}")

    cp = classpath()
    out_dir = os.path.join(OUT, args.workload)
    extra = (["--smoke"] if args.smoke else []) \
        + (["--extra-count", args.extra_count] if args.extra_count else []) \
        + (["--wrong-expectation"] if args.wrong_expectation else [])
    raw = run_jvm(args, out_dir, cp, extra)

    ops = raw["ops"]
    if args.workload != "ingest_commit":
        bad = oracle_check(raw, args.sf_dir, out_dir, args.wrong_expectation,
                           args.refresh_oracle)
        for q, err in sorted(bad.items()):
            print(f"[perfbench] {args.workload} {q} FAILED its oracle check: {err}",
                  file=sys.stderr)
        for o in ops:
            if o["name"] in bad:
                o["ok"] = False
    failed = sum(1 for o in ops if not o["ok"])

    if args.trace == 0:
        metrics = end_to_end(raw, ops)
    else:
        metrics = per_layer(raw, out_dir)
    # failed operations are counted in `failed`; `correct` says that every
    # operation that did not fail was checked
    print(json.dumps({"correct": True,
                      "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def end_to_end(raw, ops):
    walls = [p["wall_s"] for p in raw["passes"]]
    good = [o for o in ops if o["ok"]]
    cpus = [sum(o["cpu_ms"] for o in good if o["pass"] == p["pass"]) / 1000
            for p in raw["passes"]]
    lat = sorted(o["ms"] for o in good)
    # the least over passes: a pass can only be made dearer, by the JIT
    # compiler not being done yet or by other load on the host (README)
    m = {
        "setup_s": (median(raw["setup_s"]), "s"),
        "cold_start_cpu_s": (raw["cold_start_cpu_s"], "s"),
        "cpu_s": (min(cpus), "s"),
        "op_cpu_p50_ms": (median([o["cpu_ms"] for o in good]), "ms"),
        "heap_retained_mb": (min(p["heap_retained_mb"] for p in raw["passes"]), "MB"),
    }
    # wall-clock figures and peak RSS go to stderr: on a shared host
    # they spread too widely from run to run to gate (README)
    records = sum(o["rows"] for o in good)
    notes = {"ops": len(lat), "passes": len(walls), "wall_s": median(walls),
             "setup_wall_s": median(raw["setup_wall_s"]),
             "cold_start_wall_s": raw["cold_start_wall_s"],
             "cold_start_jit_s": raw["cold_start_jit_s"],
             "jit_cpu_s": median([p["jit_cpu_s"] for p in raw["passes"]]),
             "op_p50_ms": median(lat), "records_per_s": records / sum(walls),
             "rss_peak_mb": raw["rss_peak_mb"]}
    if len(lat) >= 100:
        notes["op_p90_ms"] = statistics.quantiles(lat, n=10)[-1]
    if raw["snapshot_ms"]:
        notes["snapshot_p50_ms"] = median(raw["snapshot_ms"])
        notes["snapshots"] = len(raw["snapshot_ms"])
    print(f"[perfbench] {raw['workload']} {json.dumps(notes)}", file=sys.stderr)
    return m


def per_layer(raw, out_dir):
    from counters import PER_LAYER, load_ledger, pass_sums
    ops = [r for r in load_ledger(os.path.join(out_dir, "ledger.jsonl")) if r["type"] == "op"]
    sums = pass_sums(ops)
    sums["trace.wall_s"] = median([p["wall_s"] for p in raw["passes"]])
    return {name: (sums.get(name, 0.0), unit) for name, unit in PER_LAYER}


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
