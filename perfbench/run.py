#!/usr/bin/env python3
"""Benchmark of the graft engine: three workloads, each in its own JVM.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md):
  etl_pipeline   Etl1.run then Etl2.run (with SizedWrite) on seeded dirty RTA CSV
  dedup_search   12 similarity-search and dedup queries on seeded documents/embeddings
  short_queries  a fixed set of cheap registry queries, in a seed-shuffled order

Each run compiles the engine and the harness once per source change
(into .bench_build/), generates its inputs from the seed under
.bench_build/work/, runs a warm-up pass and then closed-loop passes for
--seconds, checks the outputs (DuckDB oracle for queries, expected
counts for the pipeline), deletes the inputs and outputs, and prints one
JSON line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_rta  # noqa: E402
import gen_tables  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
JVM_HEAP = "3g"
CHECK = os.path.join(ROOT, "tools", "check.py")
JVM_TIMEOUT_S = 130
CHECK_TIMEOUT_S = 30
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# The similarity-search and dedup operators whose runs and DuckDB oracles
# fit the per-run time budget at 500 documents and vectors.
DEDUP_QUERIES = [
    "q_dedup_minhash_lsh", "q_dedup_ngram_jaccard", "q_simjoin_prefix",
    "q_dedup_components", "q_ann_cosine_topk"]
# The cheapest queries of ten query objects at sf0.01 (the graph and star
# objects have none under a second), plus one stream parity for its
# off-job committer time.
SHORT_QUERIES = [
    "q_jsonl_scan", "q_csv_scan", "q_array_pos", "q_text_top_terms",
    "q_audio_frames", "q_cube_agg", "q_date_dim", "q_join_anti",
    "q_histogram", "q_unpivot", "q_text_normalize", "q_text_tokens",
    "q_vec_quantize", "q_snapshot_diff", "q_fuzzy_jaro", "q_stream_watermark_dedup"]

# Input sizes: registrations for the pipeline (about 1.2 raw rows
# each); scale factor, documents and vectors for the query tables.
ETL_REGISTRATIONS, ETL_MONTHS = 15_000, 12
TABLES_SF, DOCS, VECS = 0.01, 500, 500


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    files = []
    for root in SOURCES:
        if not os.path.isdir(root):
            die(f"missing source tree {os.path.relpath(root, ROOT)}")
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build(jars):
    """Compile engine + harness once per source hash; return the classpath."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    cp = f"{classes}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    res = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
         "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", f"{jars}/*"] + files,
        capture_output=True, text=True, timeout=600)
    if res.returncode != 0:
        sys.stderr.write(res.stdout + res.stderr)
        die("compilation failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def optimal_partitions(nbytes):
    """ops.SizedWrite.optimalPartitions."""
    target = 128 * 1024 * 1024
    if nbytes < target // 2:
        return 1
    return min(100, max(1, -(-nbytes // target)))


def check_etl(work, expected):
    """Gold-layer checks; returns a list of failure messages."""
    import duckdb
    gold = os.path.join(work, "gold")
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'duck')}'")

    def one(sql):
        return con.execute(sql).fetchone()[0]

    def pq(name):
        return f"read_parquet('{gold}/{name}/**/*.parquet', hive_partitioning=1)"

    bad = []
    fact = pq("fact_registrations")
    n_fact = one(f"SELECT count(*) FROM {fact}")
    n_stage = one(f"SELECT count(*) FROM read_parquet('{work}/stage/**/*.parquet', hive_partitioning=1)")
    if n_fact != expected["expected_valid"] or n_stage != expected["expected_valid"]:
        bad.append(f"fact rows {n_fact}, stage rows {n_stage}, expected {expected['expected_valid']}")
    dims = {"dim_vehicle": "VEHICLE_ID", "dim_manufacturer": "MANUFACTURER_ID", "dim_rta": "RTA_ID"}
    for dim, key in dims.items():
        n, k = con.execute(f"SELECT count(*), count(DISTINCT {key}) FROM {pq(dim)}").fetchone()
        if n != k or n == 0:
            bad.append(f"{dim}: {n} rows, {k} distinct keys")
        orphans = one(f"SELECT count(*) FROM {fact} f WHERE f.{key} IS NOT NULL AND NOT EXISTS"
                      f" (SELECT 1 FROM {pq(dim)} d WHERE d.{key} = f.{key})")
        if orphans:
            bad.append(f"{orphans} fact rows with {key} missing from {dim}")
    fuzzy = one(f"SELECT count(*) FROM {fact} WHERE IS_FUZZY_MATCH")
    if fuzzy:
        bad.append(f"{fuzzy} fuzzy matches on self-derived dimensions")
    files = glob.glob(f"{gold}/fact_registrations/**/*.parquet", recursive=True)
    limit = optimal_partitions(sum(os.path.getsize(f) for f in files))
    per_dir = {}
    for f in files:
        per_dir[os.path.dirname(f)] = per_dir.get(os.path.dirname(f), 0) + 1
    years = one(f"SELECT count(DISTINCT REGISTRATION_YEAR) FROM {fact}")
    if len(per_dir) != years or any(n > limit for n in per_dir.values()):
        bad.append(f"fact files per year {sorted(per_dir.values())} for {years} years, limit {limit}")
    con.close()
    return bad


def check_queries(data, verify, queries):
    """Compare each query's warm-up output with its DuckDB oracle answer by
    running tools/check.py on them; returns (failure messages, seconds)."""
    oracle = json.load(open(os.path.join(verify, "oracle_sql.json")))
    bad = [f"{q}: no oracle SQL" for q in queries if q not in oracle]
    t0 = time.perf_counter()
    res = subprocess.run([sys.executable, CHECK, data, verify], capture_output=True, text=True,
                         cwd=os.path.dirname(verify), timeout=CHECK_TIMEOUT_S)
    lines = res.stdout.splitlines()
    bad += [line for line in lines if line.startswith(("FAIL", "ERR"))]
    if res.returncode != 0 and not bad:
        bad.append(f"tools/check.py exited {res.returncode}: {res.stderr.strip()[-300:]}")
    return bad, time.perf_counter() - t0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["etl_pipeline", "dedup_search", "short_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if not os.path.isfile(CHECK):
        die("missing tools/check.py")

    t_build = time.perf_counter()
    cp = build(spark_jars())
    build_s = time.perf_counter() - t_build

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(work, "data")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t_gen = time.perf_counter()
        queries = []
        expected = None
        if args.workload == "etl_pipeline":
            expected = gen_rta.generate(os.path.join(data, "raw"), args.seed, ETL_REGISTRATIONS, ETL_MONTHS)
        else:
            gen_tables.generate(data, args.seed, TABLES_SF, DOCS, VECS)
            queries = list(DEDUP_QUERIES if args.workload == "dedup_search" else SHORT_QUERIES)
            if args.workload == "short_queries":
                random.Random(args.seed).shuffle(queries)
        gen_s = time.perf_counter() - t_gen

        result = os.path.join(work, "result.json")
        env = dict(os.environ,
                   GRAFT_STAGING_DIR=os.path.join(work, "staging"),
                   GRAFT_STREAM_SCRATCH=os.path.join(work, "stream"),
                   GRAFT_STAGING_NS=f"bench_{args.workload}_{args.seed}",
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   TMPDIR=os.path.join(work, "tmp"))
        cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
               ["-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-cp", cp, "perfbench.Main",
                "--workload", args.workload, "--data", data, "--work", work,
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--cpus", str(cpus), "--seed", str(args.seed),
                "--queries", ",".join(queries), "--result", result])
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            try:
                proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                      cwd=work, timeout=JVM_TIMEOUT_S)
                rc = proc.returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(result):
            sys.stderr.write("".join(open(log_path).readlines()[-40:]))
            die(f"workload JVM failed ({rc})")
        res = json.load(open(result))

        failures = [f"{n}: raised" for n in res["failed"]]
        attempted = res["attempted"]
        oracle_s = 0.0
        if expected is not None:
            failures += check_etl(work, expected)
            attempted += 1
        else:
            bad, oracle_s = check_queries(data, os.path.join(work, "verify"), queries)
            failures += bad
        for f in failures:
            print(f"FAILED {f}", file=sys.stderr)

        passes = res["passes"]
        op_s = [op[1] for p in passes for op in p["ops"] if op[2]]
        values = {
            "setup_s": build_s + gen_s + oracle_s + statistics.median(res["startup_s"]),
            "pass_s": statistics.median(p["wall_s"] for p in passes),
            "op_p50_s": statistics.median(op_s) if op_s else 0.0,
            "peak_rss_mb": res["peak_rss_mb"],
        }
        if args.trace:
            values = res["layers"]
            trace_dir = os.path.join(BUILD, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copy(os.path.join(work, "trace", "spans.jsonl"),
                        os.path.join(trace_dir, f"{args.workload}-{args.seed}.spans.jsonl"))
        wanted = spec["per_layer" if args.trace else "end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            die(f"metrics not measured: {missing}")
        print(f"passes={len(passes)} warmup_s={res['warmup_s']:.3f} build_s={build_s:.3f} "
              f"gen_s={gen_s:.3f} oracle_s={oracle_s:.3f} startup_s={res['startup_s']}",
              file=sys.stderr)
        print(json.dumps({
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
