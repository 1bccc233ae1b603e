#!/usr/bin/env python3
"""graft benchmark: builds the program, makes the seeded inputs, runs one
workload in its own JVM, checks every output, prints the metrics.

  python3 perfbench/run.py --workload mart_build --seed 1 --seconds 10 --trace 0

Run from the repository root. Build outputs, inputs, oracle digests and
per-run records go under $CARGO_TARGET_DIR (default .bench_build). The
last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end_to_end metrics of BENCHMARK.json, with --trace 1 its
per_layer metrics. See perfbench/README.md.
"""
import argparse
import fcntl
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing in the checkout
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("mart_build", "corpus_dedup")
CORPUS_ORACLES = {
    "operators.minhash_lsh": "dedup_minhash_lsh",
    "operators.simhash": "dedup_simhash",
    "operators.ngram_jaccard": "ngram_jaccard",
    "operators.gopher_gate": "gopher_gate",
    "operators.text_normalize": "doc_normalize",
    "operators.knn_graph": "knn_graph",
    "operators.semantic_dedup": "semdedup",
}
JVM_TIMEOUT_S = 165
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(xs):
    s = sorted(xs)
    n = len(s)
    return 0.0 if n == 0 else (s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2)


def sh(*cmd):
    try:
        return subprocess.run(cmd, capture_output=True, text=True, timeout=30).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def environment(out, heap, cores):
    rev = sh("git", "rev-parse", "HEAD") or "none"
    dirty = bool(sh("git", "status", "--porcelain", "--untracked-files=no")) if rev != "none" else None
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {"git_rev": rev, "dirty": dirty,
            "src_sha256": open(f"{out}/classes.stamp").read().strip(),
            "nproc": cores, "heap": heap,
            "jvm": java.splitlines()[0] if java else "unknown"}


def java_cmd(out, heap, *args):
    cp = ":".join([f"{out}/harness", f"{out}/classes",
                   f"{os.environ.get('SPARK_HOME', '/opt/spark')}/jars/*"])
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] +
            # the heap-sampling full GCs must not shrink the heap under the next call
            [f"-Xmx{heap}", "-XX:MaxHeapFreeRatio=100",
             f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
             "-cp", cp, "org.apache.spark.perfbench.Main"] + list(args))


def prepare(out, seed, heap):
    """Build (if sources changed), generate the seed's inputs and resolve
    the oracles (if not cached), under one lock so that concurrent runs
    share the work. Returns (inputs dir, oracle SQL map)."""
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        r = subprocess.run(["bash", f"{HERE}/build.sh", out])
        if r.returncode != 0:
            raise SystemExit(f"perfbench: build failed ({r.returncode})")
        inputs = f"{out}/inputs/v{gen.VERSION}-seed-{seed}"
        if not os.path.isdir(inputs):
            t0 = time.time()
            gen.generate(seed, inputs)
            log(f"generated inputs for seed {seed} in {time.time() - t0:.1f}s")
        stamp = open(f"{out}/classes.stamp").read().strip()
        sql_path = f"{out}/oracle/sql-{stamp[:16]}.json"
        if not os.path.exists(sql_path):
            os.makedirs(f"{out}/oracle", exist_ok=True)
            r = subprocess.run(java_cmd(out, heap, "oracle-sql", f"{inputs}/data",
                                        sql_path + ".tmp"), capture_output=True, text=True)
            if r.returncode != 0:
                raise SystemExit(f"perfbench: oracle SQL dump failed:\n{r.stdout[-2000:]}")
            os.replace(sql_path + ".tmp", sql_path)
        sql = oracle.load_json(sql_path)
        if not os.path.exists(f"{inputs}/feed.parquet"):
            fact = oracle.oracle_table(f"{out}/oracle", f"{inputs}/data", "fact_build",
                                       sql["fact_build"])
            gen.feed(seed, fact, f"{inputs}/feed.parquet")
    return inputs, sql


def run_jvm(out, inputs, work, workload, seconds, trace, cores, heap):
    res = f"{work}/result.json"
    cmd = java_cmd(out, heap, workload, inputs, work, res, str(seconds), str(trace), str(cores))
    cmd.insert(1, f"-Djava.io.tmpdir={work}/tmp")
    os.makedirs(f"{work}/tmp")
    with open(f"{work}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(res):
        tail = open(f"{work}/jvm.log").read()[-3000:]
        raise RuntimeError(f"harness exited with {rc}:\n{tail}")
    return oracle.load_json(res), res


def check(workload, r, sql, inputs, out, seed):
    """Output checks beyond the harness's own; returns (attempted, failures)."""
    fails = []
    cache = f"{out}/oracle"
    data = f"{inputs}/data"
    named = ({"etl.validate": "validate_fact"} if workload == "mart_build"
             else CORPUS_ORACLES)
    for op, oname in named.items():
        got = r["digests"].get(op)
        want = oracle.oracle_digest(cache, data, oname, sql[oname])
        if got != want:
            fails.append(f"{op}: digest {got} != oracle {oname} {want}")
    attempted = len(named)
    if workload == "mart_build":
        attempted += 1
        fails += oracle.check_mart(r["mart_dir"], data, cache, f"{inputs}/feed.parquet", sql)
    if r["batches"]:
        # curation micro-batches (traced corpus_dedup runs): a non-vacuous
        # funnel, and the funnel and sink digest this seed recorded first
        ref_path = f"{out}/ref/curation-v{gen.VERSION}-seed-{seed}.json"
        ref = oracle.load_json(ref_path) if os.path.exists(ref_path) else {}
        for b in r["batches"]:
            attempted += 1
            n_in, n_gated, n_exact, n_near, n_out, _ = b["funnel"]
            if not (n_gated > 0 and n_exact - n_near > 0 and n_out > 0):
                fails.append(f"batch {b['batch']}: vacuous funnel {b['funnel']}")
            rec = {"funnel": b["funnel"], "sink": b["sink"]}
            key = str(b["batch"])
            if key in ref and ref[key] != rec:
                fails.append(f"batch {key}: {rec} != recorded {ref[key]}")
            ref.setdefault(key, rec)
        os.makedirs(os.path.dirname(ref_path), exist_ok=True)
        with open(ref_path + ".tmp", "w") as f:
            json.dump(ref, f, indent=1, sort_keys=True)
        os.replace(ref_path + ".tmp", ref_path)
    return attempted, fails


def metrics(bench, r, trace):
    if trace:
        layer = dict(r["layer"])
        layer["trace.overhead_s"] = r["traced_pass_s"] - r["untraced_pass_s"]
        return {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in bench["per_layer"]}
    pass_s = median(r["pass_s"])
    values = {
        "setup_s": r["setup_s"],
        "pass_s": pass_s,
        "cpu_s": median(r["cpu_s"]),
        "peak_heap_mb": r["peak_heap_mb"],
    }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in bench["end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isdir("src/main/scala") and os.path.isfile("BENCHMARK.json")):
        log("run from the root of a graft checkout (src/main/scala, BENCHMARK.json)")
        return 2
    gen.check_testdata()
    bench = oracle.load_json("BENCHMARK.json")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cores = len(os.sched_getaffinity(0))
    heap = os.environ.get("SPARK_DRIVER_MEM", "7g")
    t0 = time.time()
    inputs, sql = prepare(out, a.seed, heap)
    log(f"prepared in {time.time() - t0:.1f}s")

    work = f"{out}/work/{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    failures = []
    try:
        t0 = time.time()
        r, res_path = run_jvm(out, inputs, work, a.workload, a.seconds, a.trace, cores, heap)
        log(f"harness ran in {time.time() - t0:.1f}s")
        t0 = time.time()
        attempted = r["attempted"]
        failed = r["failed"]
        failures += r["errors"]
        n, fails = check(a.workload, r, sql, inputs, out, a.seed)
        attempted += n
        failed += len(fails)
        failures += fails
        log(f"checked in {time.time() - t0:.1f}s")
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics(bench, r, a.trace)}
        record = dict(result, workload=a.workload, seed=a.seed, trace=a.trace,
                      env=dict(environment(out, heap, cores),
                               spark=r.get("spark_version")),
                      raw=r, failures=failures)
        os.makedirs(f"{out}/results", exist_ok=True)
        stem = f"{out}/results/{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}"
        with open(stem + ".json", "w") as f:
            json.dump(record, f, indent=1)
        if a.trace and os.path.exists(res_path + ".spans.jsonl"):
            shutil.copy(res_path + ".spans.jsonl", stem + ".spans.jsonl")
        shutil.copy(f"{work}/jvm.log", stem + ".log")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        log(f"FAILED {f}")
    print("# env " + json.dumps(record["env"]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
