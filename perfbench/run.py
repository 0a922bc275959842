#!/usr/bin/env python3
"""graft benchmark: pages -> triples, KG increment and near-dup, end to end
and per layer, on one local[4] Spark JVM.

Usage (from the root of a graft checkout):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: docred_dense, kg_increment (see README.md).
The first run in a checkout builds graft and the harness from source with sbt
and computes the oracle outputs of the text pools, all under .bench_build/.
Each run generates its input from --seed, sets up, measures a closed loop of
the workload's entry point for --seconds, checks every output against DuckDB,
and prints one JSON line: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1 (which also writes the spans to
.bench_build/trace/). Exits non-zero if any output is wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import expected
import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CDS_ARCHIVE = os.path.join(BUILD, "graft.jsa")

WORKLOADS = ["docred_dense", "kg_increment"]
JVM_HEAP = "2g"
RUN_DEADLINE_S = 175
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# Text pool and oracle query of each workload that relabels pool rows.
POOL_OF = {"docred_dense": ("dense", "q_scored_triples", ["subj", "pred", "obj"]),
           "kg_increment": ("kg", "q_injected_triples", ["subj", "pred", "obj", "score_milli"])}
SPOT_CHECK_DOCS = {"docred_dense": 100, "kg_increment": 30}

def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def java_cmd(classpath, main, args, dump_cds=False):
    """The JVM command line. It starts from the class-data sharing archive
    the build wrote, or with `dump_cds` writes that archive on exit."""
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark's scratch space stays in the checkout too
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    cds = []
    if dump_cds:
        cds = [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"]
    elif os.path.exists(CDS_ARCHIVE):
        cds = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"]
    return (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.sql.session.timeZone=UTC"] + cds + opens + ["-cp", classpath, main] + args)


def build():
    """Compiles graft and the harness into jars (sbt, offline), writes the
    frozen oracle SQL, computes the pool oracles and writes the JVM's
    class-data sharing archive. Cached by a hash of every source file."""
    sources = [os.path.join(ROOT, p) for p in
               ("src/main", "build.sbt", "project/build.properties")] + \
              [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]
    for s in sources:
        if not os.path.exists(s):
            fail(f"{os.path.relpath(s, ROOT)} not found: run from the root of a graft checkout")
    stamp = os.path.join(BUILD, "build.json")
    key = tree_hash(sources)
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("key") == key:
            return b
    log("building graft and the harness with sbt")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(BUILD, "build.log"), "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspathAsJars"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        with open(os.path.join(BUILD, "build.log"), "a") as lf:
            lf.write(p.stdout)
        fail(f"sbt build failed (see {os.path.relpath(BUILD, ROOT)}/build.log)")
    classpath = lines[-1].strip()
    # pools are relabelled with the oracle of this build only
    for d in ("pools", "inputs", "cds-train"):
        shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    oracle = os.path.join(BUILD, "oracle_sql.json")
    with open(os.path.join(BUILD, "build.log"), "a") as lf:
        p = subprocess.run(java_cmd(classpath, "perfbench.OracleSql", [oracle]),
                           stdout=lf, stderr=lf, timeout=120)
    if p.returncode != 0 or not os.path.exists(oracle):
        fail("could not write the oracle SQL")
    with open(oracle) as f:
        oracle_sql = json.load(f)
    train = os.path.join(BUILD, "cds-train")
    args = [os.path.join(train, "work")]
    for w in WORKLOADS:
        name, query, _ = POOL_OF[w]
        d = os.path.join(train, w)
        os.makedirs(d)
        inputs.generate(w, 0, d, pool(name, query, oracle_sql))
        args += [w, d]
    log("writing the class-data sharing archive")
    with open(os.path.join(BUILD, "train.log"), "w") as lf:
        p = subprocess.run(java_cmd(classpath, "perfbench.Train", args, dump_cds=True),
                           stdout=lf, stderr=lf, timeout=400)
    if p.returncode != 0 or not os.path.exists(CDS_ARCHIVE):
        fail("could not write the class-data sharing archive (see .bench_build/train.log)")
    shutil.rmtree(train, ignore_errors=True)
    b = {"key": key, "classpath": classpath, "oracle_sql": oracle}
    with open(stamp, "w") as f:
        json.dump(b, f)
    return b


def pool(name, query, oracle_sql):
    """The pool's documents and its oracle rows, computed once per build."""
    d = os.path.join(BUILD, "pools", f"{name}-{inputs.pool_key(name)}")
    done = os.path.join(d, "oracle.parquet")
    if not os.path.exists(done):
        log(f"computing the {query} oracle over the {name} pool")
        shutil.rmtree(d, ignore_errors=True)
        inputs.write_pool(name, d)
        expected.pool_oracle(d, oracle_sql[query])
    return d


def prepare(workload, seed, oracle_sql):
    """Generated input + expected digests for (workload, seed, sizes), cached."""
    key = hashlib.sha256((json.dumps(inputs.SIZES[workload], sort_keys=True) + tree_hash(
        [os.path.join(HERE, f) for f in ("inputs.py", "expected.py")])).encode()).hexdigest()[:12]
    d = os.path.join(BUILD, "inputs", f"{workload}-s{seed}-{key}")
    meta_file = os.path.join(d, "meta.json")
    if os.path.exists(meta_file):
        with open(meta_file) as f:
            return d, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    name, query, cols = POOL_OF[workload]
    pool_dir = pool(name, query, oracle_sql)
    oracle = os.path.join(pool_dir, "oracle.parquet")
    props = inputs.generate(workload, seed, d, pool_dir)
    meta = {"props": props, "docs": props["docs"]}
    if workload == "docred_dense":
        mapping = os.path.join(d, "mapping.parquet")
        meta["tables"] = expected.runner_expected(mapping, oracle)
        meta["rows"] = meta["tables"]["triples"][0]
        checks = [(d, mapping)]
    else:
        crawls = [os.path.join(d, f"snap{s}") for s in (0, 1)]
        maps = [os.path.join(d, f"mapping{s}.parquet") for s in (0, 1)]
        meta["tables"], meta["rows"] = expected.kg_expected(
            crawls, maps, oracle, oracle_sql["q_dedup_clusters"], inputs.SAME_AS)
        # the injected oracle is slow: spot-check the second crawl only
        checks = [(crawls[1], maps[1])]
    for docs_dir, mapping in checks:
        ids = pq.read_table(mapping).column("doc_id").to_numpy()
        rng = np.random.default_rng([seed, 99])
        sample = rng.choice(ids, size=min(SPOT_CHECK_DOCS[workload], len(ids)), replace=False)
        err = expected.spot_check(docs_dir, mapping, oracle, oracle_sql[query], cols, sample)
        if err:
            fail(f"the pool relabelling does not hold for {workload} seed {seed}: {err}", 1)
    props["triples_per_doc"] = meta["rows"] / meta["docs"]
    with open(meta_file, "w") as f:
        json.dump(meta, f)
    return d, meta


def check(workload, out_dir, meta):
    """None if the committed output equals the expected one, else the diff."""
    tables = expected.KG_TABLES if workload == "kg_increment" else expected.RUNNER_TABLES
    try:
        got = expected.digest_output(out_dir, tables)
    except Exception as e:  # missing or unreadable output
        return f"{type(e).__name__}: {e}"
    bad = {k: (got[k], v) for k, v in meta["tables"].items() if got.get(k) != v}
    return f"output != expected: {bad}" if bad else None


def verify_ratio(in_dir, cand_dir):
    """Share of the distinct LSH candidates of both crawls that pass the exact
    600-permille 3-shingle Jaccard test, computed here from the crawl text."""

    def shingles(t):
        toks = " ".join(t.split()).split(" ")
        return {" ".join(toks[j:j + 3]) for j in range(len(toks) - 2)}

    n = ok = 0
    for s in (0, 1):
        docs = pq.read_table(os.path.join(in_dir, f"snap{s}", "documents.parquet")).to_pydict()
        sh = {i: shingles(t) for i, t in zip(docs["doc_id"], docs["text"])}
        cands = pq.read_table(os.path.join(cand_dir, f"snap={s}")).to_pydict()
        for a, b in zip(cands["doc_a"], cands["doc_b"]):
            nc = len(sh[a] & sh[b])
            n += 1
            ok += nc * 1000 // (len(sh[a]) + len(sh[b]) - nc) >= 600
    return ok / n if n else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    b = build()
    # a run ends within RUN_DEADLINE_S after the build, which only the
    # first run in a checkout pays
    started = time.time()
    with open(b["oracle_sql"]) as f:
        oracle_sql = json.load(f)
    in_dir, meta = prepare(a.workload, a.seed, oracle_sql)

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    args = ["--workload", a.workload, "--input", in_dir, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--result", result_file]
    budget = RUN_DEADLINE_S - (time.time() - started)
    with open(os.path.join(logs, f"{a.workload}-s{a.seed}-t{a.trace}.log"), "w") as lf:
        proc = subprocess.Popen(java_cmd(b["classpath"], "perfbench.Harness", args),
                                stdout=lf, stderr=lf)
        try:
            proc.wait(timeout=max(budget - 5, 10))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the harness JVM did not finish in time", 1)
    if proc.returncode != 0 or not os.path.exists(result_file):
        fail(f"the harness JVM failed (exit {proc.returncode}); see .bench_build/logs", 1)
    with open(result_file) as f:
        res = json.load(f)

    reps = res["reps"]
    log(f"set-up {res['setup_s']:.3f} s, runs {[round(r['wall_s'], 3) for r in reps]} s")
    failed = 0
    for r in reps:
        err = r["error"] or check(a.workload, r["dir"], meta)
        if err:
            failed += 1
            log(f"run in {os.path.relpath(r['dir'], ROOT)} failed: {err}")
        shutil.rmtree(r["dir"], ignore_errors=True)
    attempted = len(reps)

    if a.trace == 0:
        kind = "end_to_end"
        walls = [r["wall_s"] for r in reps]
        values = {
            "run_s": statistics.median(walls),
            "docs_per_s": statistics.median(meta["docs"] / w for w in walls),
            "rows_per_s": statistics.median(meta["rows"] / w for w in walls),
            "cpu_s": statistics.median(r["cpu_s"] for r in reps),
            "output_mb": statistics.median(r["out_bytes"] for r in reps) / 1e6,
            "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
            "setup_s": res["setup_s"],
        }
    else:
        kind = "per_layer"
        t = res["trace"]
        traced_err = check(a.workload, t["driver"]["dir"], meta)
        attempted += 1
        if traced_err:
            failed += 1
            log(f"traced run failed: {traced_err}")
        residual = "kg_write" if a.workload == "kg_increment" else "sink"
        t["layers"][residual]["rows_out"] = t["driver"]["rows_out"] = meta["rows"]
        t["layers"][residual]["write_mb"] = t["driver"]["out_bytes"] / 1e6
        # every declared <layer>.<name> the trace measured
        values = {f"{layer}.{k}": v for layer, vals in
                  list(t["layers"].items()) + [("driver", t["driver"])] for k, v in vals.items()}
        values.update(t["extra"])
        values["trace.overhead_s"] = t["overhead_s"]
        values["scaling.eff_1to4"] = t["eff_1to4"] or 0.0
        if a.workload == "kg_increment":
            values["candidates.verify_ratio"] = verify_ratio(
                in_dir, os.path.join(work, "trace-candidates"))
            values["verify_cc.recall"] = expected.planted_recall(
                [(os.path.join(t["driver"]["dir"], "clusters", f"snap={s}", "*.parquet"),
                  os.path.join(in_dir, f"planted{s}.parquet")) for s in (0, 1)])
        gap = abs(t["layer_sum_s"] - t["untraced_median_s"]) / t["untraced_median_s"]
        if gap > 0.10:
            log(f"layer self times sum to {t['layer_sum_s']:.3f} s, "
                f"{gap:.1%} off the untraced run_s {t['untraced_median_s']:.3f} s")
    # the metrics BENCHMARK.json declares; a layer the workload does not run reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)[kind]}
    metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()}
    if a.trace == 1:
        trace_dir = os.path.join(BUILD, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-s{a.seed}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "input": meta["props"],
                       "run_id": t["run_id"], "spans": t["spans"],
                       "reconcile": {"layer_sum_s": t["layer_sum_s"],
                                     "untraced_run_s": t["untraced_median_s"],
                                     "gap": gap, "within_10pct": gap <= 0.10},
                       "trace_overhead_s": t["overhead_s"],
                       "local1_s": t["local1_s"], "eff_1to4": t["eff_1to4"],
                       "metrics": {k: m["value"] for k, m in metrics.items()}}, f, indent=1)

    shutil.rmtree(work, ignore_errors=True)
    log(f"input {json.dumps(meta['props'])}")
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(out))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
