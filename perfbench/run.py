#!/usr/bin/env python3
"""Benchmark entry point. Run it from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the harness from source (sbt, offline) when the
sources changed, reads the seed-42 fixture tables in perfbench/fixtures
(never writing there), derives its other inputs under perfbench/.work
(seeded, so the same seed gives the same inputs), runs one workload in one
JVM, checks the outputs of the last untimed pass before the timed ones
(which runs with the state earlier passes left) and of the untimed check
work after them, and prints as its last line one JSON object
with the keys correct, attempted, failed and metrics. With --trace 0 the
metrics are BENCHMARK.json's end_to_end metrics, with --trace 1 its
per_layer metrics (a layer the workload does not exercise reads 0). The line before it is the full report (every metric
with its unit, per-pass steadiness readings, input checksums, correctness
details).

Workloads (see BENCHMARK.json for why each was chosen):
  registry-sf0.1   registry queries + Lab-1 MR apps, a seed-chosen check shard
  docdedup-epochs  DocDedup.ingestEpoch over a dup-heavy 50k-doc corpus

--sf picks the fixture tables (0.1, the default, or 0.001, which the
smoke test uses).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures")  # copies of the seed-42 test fixtures (FIXTURES.md)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(WORK, "data")
BUILD = os.path.join(WORK, "build")

WORKLOADS = ("registry-sf0.1", "docdedup-epochs")
MR_FILES = 8
SHARD_SF = "0.001"  # scale of the untimed registry check shard
JVM_HEAP = "4g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness when their sources changed; return the
    runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    fp = source_fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == fp and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building engine and harness (sbt compile)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(fp)
    return cp


# ------------------------------------------------------------------- data

def ensure(dst, make):
    """Create a data dir once: build it aside, then rename into place."""
    if os.path.isdir(dst):
        return dst
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp)
    os.rename(tmp, dst)
    return dst


def base_tables(sf):
    d = os.path.join(FIXTURES, f"sf{sf}")
    if not os.path.isdir(d):
        fail(f"no fixture tables for sf{sf} in {FIXTURES}")
    return d


def derived(sf, copies, dup_frac, tables):
    """tools/make_sf.py replica of the base tables (disjoint key spaces;
    with dup_frac, that share of copies are exact duplicates)."""
    src = base_tables(sf)
    name = f"sf{sf}x{copies}" + (f"dup{dup_frac}" if dup_frac else "")

    def make(tmp):
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "make_sf.py"), src, tmp,
                            str(copies), str(dup_frac), "--tables=" + ",".join(tables)],
                           stdout=subprocess.DEVNULL)
        if r.returncode != 0:
            fail("make_sf failed")
    return ensure(os.path.join(DATA, name), make)


def export_lab1_files(tables, dst, seed):
    """The Lab-1 inputs: every document's text as one line of one of
    MR_FILES text files; the seed fixes which file each line lands in."""
    import pyarrow.parquet as pq
    texts = pq.read_table(os.path.join(tables, "documents.parquet"), columns=["text"])
    rng = random.Random(seed)
    files = [[] for _ in range(MR_FILES)]
    for text in texts.column("text").to_pylist():
        files[rng.randrange(MR_FILES)].append(text)
    os.makedirs(dst, exist_ok=True)
    for i, lines in enumerate(files):
        with open(os.path.join(dst, f"pg-{i}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")


def checksums(*dirs):
    out = {}
    for d in dirs:
        for name in sorted(os.listdir(d)):
            p = os.path.join(d, name)
            if os.path.isfile(p):
                with open(p, "rb") as f:
                    out[os.path.relpath(p, HERE)] = hashlib.sha256(f.read()).hexdigest()[:16]
    return out


# ------------------------------------------------------------ correctness

def oracle_check(tables, run_dir, names):
    """DuckDB oracle over the same tables, compared with the dumped Spark
    outputs using tools/oracle_check.py's normalization; the rows-only
    queries are compared with their recorded row counts."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from oracle_check import norm

    oracle = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    expected_rows = json.load(open(os.path.join(HERE, "expected_rows.json")))
    sf_key = os.path.basename(tables)
    wrong = []
    con = duckdb.connect()
    con.sql(f"SET temp_directory='{os.path.join(run_dir, 'duckdb-tmp')}'")
    con.sql("SET threads=2")
    con.sql("SET memory_limit='2GB'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables, t)}.parquet'")
    for name in names:
        got = os.path.join(run_dir, "results", f"{name}.parquet", "*.parquet")
        try:
            s = con.sql(f"SELECT * FROM read_parquet('{got}')")
            s_rows, s_cols = s.fetchall(), s.columns
            if name in oracle:
                o = con.sql(oracle[name])
                o_rows, o_cols = o.fetchall(), o.columns
                if sorted(o_cols) != sorted(s_cols) or norm(o_rows, o_cols) != norm(s_rows, s_cols):
                    wrong.append(name)
            elif expected_rows.get(sf_key, {}).get(name) != len(s_rows):
                wrong.append(f"{name} ({len(s_rows)} rows)")
        except Exception as e:  # a missing or unreadable output is wrong
            wrong.append(f"{name} ({type(e).__name__})")
    con.close()
    return wrong


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.1", choices=("0.1", SHARD_SF))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"engine sources not found next to {HERE}; run from a full checkout")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    t_start = time.time()
    classpath = build()

    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    tables = base_tables(a.sf)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(os.path.join(WORK, "runs"), ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    args = [f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
            f"trace={a.trace}", f"out={run_dir}", f"cpus={cpus}"]
    if a.workload == "registry-sf0.1":
        mr_in = os.path.join(run_dir, "mr-in")
        export_lab1_files(tables, mr_in, a.seed)
        kernels = derived(a.sf, 10, 0, ["documents", "embeddings"])
        shard_tables = base_tables(SHARD_SF)
        args += [f"tables={tables}", f"mrIn={mr_in}", f"kernels={kernels}",
                 f"shardTables={shard_tables}"]
        inputs = [tables, mr_in, kernels, shard_tables]
    else:
        tables = derived(a.sf, 10, 0.6, ["documents"])
        args += [f"tables={tables}"]
        inputs = [tables]

    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-cp", classpath, "perfbench.PerfBench", *args]
    t_jvm = time.time()
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=run_dir, stdin=subprocess.DEVNULL, stdout=lf,
                               stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"JVM exceeded {JVM_TIMEOUT_S}s (log: {jvm_log})")
    report_path = os.path.join(run_dir, "report.json")
    if r.returncode != 0 or not os.path.exists(report_path):
        sys.stderr.write(open(jvm_log).read()[-4000:])
        fail(f"JVM exited with {r.returncode}")
    report = json.load(open(report_path))

    t_check = time.time()
    wrong = list(report["wrong"])
    if a.workload != "docdedup-epochs":
        shard = set(report["shard"])
        wrong += oracle_check(tables, run_dir, [n for n in report["checked"] if n not in shard])
        wrong += oracle_check(shard_tables, run_dir, [n for n in report["checked"] if n in shard])
    attempted, failed = report["attempted"], len(report["failures"])

    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    e2e = report["e2e"]
    full = {n: {"value": e2e[n], "unit": u} for n, u in e2e_units.items()}
    if a.workload == "docdedup-epochs":
        full["epoch_s.p50"] = {"value": report["epoch_s.p50"], "unit": "s"}
        full["docs_per_s"] = {"value": report["docs_per_s"], "unit": "1/s"}
    full["failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
    full["wrong_results"] = {"value": len(wrong), "unit": "count"}
    walls = [p["wall_s"] for p in report["passes"] if not p["traced"]]
    detail = {
        "workload": a.workload, "seed": a.seed, "run_id": report["run_id"],
        "metrics": full,
        "query_ms.tail": f"p{report['tail_pct']} of {report['samples']} query x pass samples",
        "pass_spread": (max(walls) - min(walls)) / statistics.median(walls) if walls else None,
        "passes": report["passes"], "wrong": wrong, "failures": report["failures"],
        "input_checksums": checksums(*inputs),
        "per_query": report.get("per_query"), "parity": report.get("parity"),
        "spans": os.path.relpath(report["spans"], ROOT) if report.get("spans") else None,
        "wall_s": {"build_and_data": t_jvm - t_start, "jvm": t_check - t_jvm,
                   "oracle": time.time() - t_check}}
    if a.trace:
        layers = report["layers"]
        detail["layers"] = layers
        detail["estimates"] = {"codegen.compile_ms": "compiles x mean of CodegenMetrics' "
                               "decaying compile-time histogram"}
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in layer_units.items()}
    else:
        metrics = {n: full[n] for n in e2e_units}
    print(json.dumps(detail))
    print(json.dumps({"correct": not wrong, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
