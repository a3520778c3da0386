#!/usr/bin/env python3
"""Benchmark entry point: builds the harness, makes the inputs, runs one workload.

    python3 perfbench/run.py --workload {catalog,corpus} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the repository and the
harness with sbt (incremental afterwards); build outputs and run
directories live under .bench_build/. Human-readable lines go first; the
last stdout line is one JSON object with `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics of BENCHMARK.json, or with
`--trace 1` its per-layer metrics). See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb
import pyarrow.dataset as ds

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import fixture  # noqa: E402

WORKLOADS = ["catalog", "corpus"]
CATALOG_SF = 0.001
CORPUS_AMP = 4          # copies of the documents table in the corpus workload
CORPUS_BASE_SF = 0.04   # 2,000 documents per copy
RUN_LIMIT_S = 175       # one run, build excluded
# Untraced catalog runs compile with C1 only. catalog is driver-bound
# (planning, code generation, many short jobs): under C2 its passes kept
# getting faster for ~36 s and runs differed by up to 1.5x with the JIT's
# progress. corpus is data-bound and settles under C2 within its warm-up (C1
# would halve its speed). Traced runs use C2 for every workload: under C1
# the churn probe alone takes ~45 s and a traced run nears the time limit.
UNTRACED_JIT = {"catalog": ["-XX:TieredStopAtLevel=1"], "corpus": []}
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ----

def source_stamp():
    h = hashlib.sha256()
    for base in ["src/main", "build.sbt", "project/build.properties",
                 "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"]:
        path = os.path.join(ROOT, base)
        if not os.path.exists(path):
            die(f"{base} is missing: run from a full checkout of the repository")
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Compile the repository and the harness (sbt, incremental) when the
    sources changed since the last build; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=850)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and os.sep + "classes" in l]
    if p.returncode != 0 or not lines:
        die(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


# ---- inputs ----

def make_inputs(workload, seed, trace, work):
    # the catalog fixture's content is fixed; the seed rotates each table's
    # rows, which no declared query's result may depend on
    if workload == "catalog" or trace:
        fixture.write(os.path.join(work, "data"), CATALOG_SF, 42, layout_seed=seed)
    if workload == "corpus" or trace:
        fixture.write_corpus(os.path.join(work, "corpus_small"), 0.005, 2, seed)
    if workload == "corpus":
        fixture.write_corpus(os.path.join(work, "corpus"), CORPUS_BASE_SF, CORPUS_AMP, seed)


# ---- output checks run here (DuckDB) ----

def _norm(v):
    # the comparison rules of tools/selfcheck.py: NaN equals NaN, -0.0 is 0.0
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
    return v


def rows_digest(tbl):
    cols = sorted(tbl.column_names)
    rows = sorted(json.dumps([_norm(x) for x in r], default=str)
                  for r in zip(*[tbl.column(c).to_pylist() for c in cols]))
    return hashlib.sha256(("\n".join(cols + rows)).encode()).hexdigest()[:16]


def check_catalog(work, expected):
    """Per declared query, both the cold results (written before the timed
    passes) and the warm ones (written after them): the DuckDB oracle
    where one exists, else the committed result digest. Returns
    {query: problem} and the digests."""
    res = os.path.join(work, "results")
    data = os.path.join(work, "data")
    with open(os.path.join(res, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET default_null_order='nulls_first'")
    for t in fixture.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    problems, digests = {}, {}
    with open(os.path.join(res, "..", "result.json")) as f:
        executed = json.load(f)["diagnostics"]["executions"]
    for q in sorted(executed):
        for when in ["cold", "warm"]:
            problem, digest = check_result(con, os.path.join(res, when, q),
                                           oracles.get(q), expected.get("catalog_digests", {}).get(q))
            digests.setdefault(q, digest)
            if problem and q not in problems:
                problems[q] = f"{when}: {problem}"
    return problems, digests


def check_result(con, path, oracle, committed):
    """(problem or None, digest) of one written result."""
    try:
        got = ds.dataset(path).to_table()
    except Exception as e:  # noqa: BLE001
        return f"no output ({e})", None
    digest = rows_digest(got)
    if oracle is None:
        if committed is None:
            return f"no oracle and no committed digest (digest {digest})", digest
        if committed != digest:
            return f"digest {digest} != committed {committed}", digest
        return None, digest
    try:
        ref = con.execute(oracle).fetch_arrow_table()
    except Exception as e:  # noqa: BLE001
        return f"oracle error: {e}", digest
    cols = sorted(got.column_names)
    if cols != sorted(ref.column_names):
        return f"columns {cols} vs oracle {sorted(ref.column_names)}", digest
    if got.num_rows != ref.num_rows:
        return f"rows {got.num_rows} vs oracle {ref.num_rows}", digest
    a = zip(*[got.column(c).to_pylist() for c in cols])
    b = zip(*[ref.column(c).to_pylist() for c in cols])
    bad = sum(1 for x, y in zip(a, b) if tuple(map(_norm, x)) != tuple(map(_norm, y)))
    if bad:
        return f"{bad}/{got.num_rows} rows differ from the oracle", digest
    return None, digest


# ---- run ----

def run_jvm(args, cp, work, deadline):
    out = os.path.join(work, "result.json")
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ([] if args.trace else UNTRACED_JIT[args.workload]) + ["-Xms3g", "-Xmx3g", "-Xss16m", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
              f"-Dperfbench.expected={HERE}/expected.json",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cpus", str(os.cpu_count() or 1),
              "--modules", os.path.join(HERE, "query_modules.json"), "--out", out])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"harness exceeded the run limit; see {work}/jvm.log")
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(f"harness exited {p.returncode}; see {work}/jvm.log")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    cp = classpath()
    start = time.time()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    make_inputs(args.workload, args.seed, args.trace, work)
    res = run_jvm(args, cp, work, start + RUN_LIMIT_S)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    failures = list(res["failures"])
    failed = res["failed"]
    if args.workload == "catalog":
        problems, digests = check_catalog(work, expected)
        execs = res["diagnostics"]["executions"]
        failed = min(res["attempted"], failed + sum(execs[q] for q in problems))
        failures += [f"{q}: {p}" for q, p in sorted(problems.items())]
        res["diagnostics"]["result_digests"] = digests
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    missing = [m for m in wanted if res["metrics"].get(m, {}).get("value") is None]
    if missing:
        die(f"harness did not report {missing}")
    attempted = res["attempted"]
    # ---- human-readable report ----
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"(work dir {os.path.relpath(work, ROOT)})")
    for name, m in res["metrics"].items():
        print(f"  {name:44s} {m['value']:.6g} {m['unit']}")
    print(f"  {'failed_frac':44s} {failed / max(attempted, 1):.6g} ratio "
          f"({failed} of {attempted} operations)")
    for k, v in res["diagnostics"].items():
        print(f"  diag {k}: {json.dumps(v)[:300]}")
    for fl in failures[:20]:
        print(f"  FAIL {fl}")
    if args.trace:
        print(f"  spans: {os.path.relpath(os.path.join(work, 'spans.json'), ROOT)}")
    print(json.dumps({
        "correct": not failures and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: res["metrics"][m] for m in wanted}}))


if __name__ == "__main__":
    main()
