#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark program
(engine sources plus `perfbench/src`) with sbt into `.bench_build/` and
generates the workload's input tables there; later runs reuse both until a
source file changes. Every run:

1. stages the seed's inputs (query workloads: a pass order; nightly_ingest:
   the day-0 corpus and one input directory per night);
2. runs `perfbench.Main` in one JVM, which sets up three times, runs timed
   passes for `--seconds`, and writes a result file;
3. checks the outputs outside the timed passes: each query's result against
   its DuckDB oracle (canonicalised as in tools/check_oracle.py, expected
   hashes cached per input), and for nightly_ingest the email-map hashes
   against an independent SHA-256 (the JVM checks the index, the IVF index
   and the landed partitions);
4. writes the full record to `.bench_build/records/<workload>/` and prints
   `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics of
   BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

# Queries of the query workload: one or two per operator family, a fixed
# subset of SparkEntry.queries sized so that one pass takes a few seconds on
# four cores (see README.md).
WORKLOAD_OPS = {
    "query_mix": [
        "q25_star_join", "q41_sessionize", "q57_tfidf_keywords",
        "q87_incremental_clusters", "q60_knn_brute", "q70_media_features",
        "q59_stratified_sample", "q112_ngram_novelty",
    ],
    "nightly_ingest": [],
}
# Input tables per workload: (TPC-H scale factor, documents, vectors,
# share of planted near-duplicate documents).
PROFILES = {
    "query_mix": (0.002, 500, 500, 0.05),
    "nightly_ingest": (0.05, 5000, 2500, 0.2),
}
NIGHTS = 8           # staged nights after the warm night 0
TAKEDOWN_DOCS = 10   # ids taken down per night, from the day-0 corpus
TAKEDOWN_VECS = 5
EMAIL_SALT = "perfbench-salt"
HEAP = "3g"
RUN_LIMIT_S = 170    # a run ends within 180 s; the first one may also build
BUILD_LIMIT_S = 800


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sources():
    """The files a build reads: engine and benchmark sources, build files."""
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files]
    return out


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("Spark not found: set SPARK_HOME")
    return home


def build():
    """Compile the benchmark (and the engine sources) unless up to date."""
    jar = os.path.join(BUILD, "sbt-target", "scala-2.13", "perfbench_2.13-0.jar")
    stamp = os.path.join(BUILD, "build.stamp")
    fp = fingerprint(sources())
    if os.path.exists(stamp) and open(stamp).read() == fp and os.path.exists(jar):
        return jar, False
    log("building the benchmark program with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "Compile / packageBin"], cwd=HERE, env=env,
                           stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        sys.exit(f"build failed; see {os.path.join(BUILD, 'build.log')}")
    cds = jar[:-len(".jar")] + ".jsa"
    if os.path.exists(cds):
        os.remove(cds)  # archived for the previous jar
    with open(stamp, "w") as f:
        f.write(fp)
    return jar, True


def input_tables(workload):
    """The workload's generated tables (made once per checkout)."""
    import gen_data
    sf, docs, vecs, dup = PROFILES[workload]
    key = fingerprint([os.path.join(HERE, "gen_data.py")])[:12]
    out = os.path.join(BUILD, "data", f"{workload}-{sf}-{docs}-{vecs}-{dup}-{key}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        log(f"generating input tables for {workload}")
        shutil.rmtree(out, ignore_errors=True)
        gen_data.generate(out, sf, docs, vecs, dup)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def stage_nights(data, seed, input_dir):
    """Split the nightly corpus by the seed into day 0 and NIGHTS + 1 nights."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    shutil.rmtree(input_dir, ignore_errors=True)
    os.makedirs(input_dir)
    docs = pq.read_table(os.path.join(data, "documents.parquet"), columns=["doc_id", "text"])
    vecs = pq.read_table(os.path.join(data, "embeddings.parquet"))
    vecs = vecs.rename_columns(["vec_id", "emb", "label"])
    events = pq.read_table(os.path.join(data, "events.parquet"))
    cust = pq.read_table(os.path.join(data, "customer.parquet"), columns=["c_name"])
    n = NIGHTS + 1

    def split(t):
        perm = rng.permutation(t.num_rows)
        half = t.num_rows // 2
        return t.take(perm[:half]), [t.take(c) for c in np.array_split(perm[half:], n)]

    day0_docs, night_docs = split(docs)
    day0_vecs, night_vecs = split(vecs)
    os.makedirs(os.path.join(input_dir, "day0"))
    pq.write_table(day0_docs, os.path.join(input_dir, "day0", "docs.parquet"))
    pq.write_table(day0_vecs, os.path.join(input_dir, "day0", "vecs.parquet"))
    td_docs = rng.permutation(day0_docs.column("doc_id").to_numpy())
    td_vecs = rng.permutation(day0_vecs.column("vec_id").to_numpy())
    users = cust.take(rng.permutation(cust.num_rows))
    user_chunks = np.array_split(np.arange(users.num_rows), n)
    day = pc.day(events.column("ts"))
    for i in range(n):
        date = f"202401{i + 1:02d}"
        d = os.path.join(input_dir, f"night_{i:03d}_{date}")
        os.makedirs(d)
        names = users.column("c_name").take(user_chunks[i]).to_pylist()
        # every seventh address is non-ASCII, so the hash is checked on UTF-8
        emails = [f"{u.lower().replace('#', '.')}{'ü' if k % 7 == 0 else ''}@example.org"
                  for k, u in enumerate(names)]
        pq.write_table(night_docs[i], os.path.join(d, "docs.parquet"))
        pq.write_table(night_vecs[i], os.path.join(d, "vecs.parquet"))
        pq.write_table(events.filter(pc.equal(day, i + 1)), os.path.join(d, "events.parquet"))
        pq.write_table(pa.table({"username": names, "email": emails}),
                       os.path.join(d, "users.parquet"))
        pq.write_table(pa.table({"doc_id": td_docs[i * TAKEDOWN_DOCS:(i + 1) * TAKEDOWN_DOCS]}),
                       os.path.join(d, "takedown_docs.parquet"))
        pq.write_table(pa.table({"vec_id": td_vecs[i * TAKEDOWN_VECS:(i + 1) * TAKEDOWN_VECS]}),
                       os.path.join(d, "takedown_vecs.parquet"))


def run_jvm(jar, workload, seed, seconds, trace, data, work, result, timeout):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jars = sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar")))
    cp = os.pathsep.join([jar] + jars)
    # Class-data sharing: the first run of a build dumps the classes it
    # loaded into an archive, later runs map it instead of loading them.
    cds = jar[:-len(".jar")] + ".jsa"
    cds_flag = (f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
                else f"-XX:ArchiveClassesAtExit={cds}")
    # The JVM sees half the box's cores: Spark runs local[<that>], and GC and
    # JIT compiler threads are sized to it, so the other half absorbs the
    # JIT compiler and the rest of the machine instead of delaying tasks.
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    cmd = (["java"] + opens + [f"-XX:ActiveProcessorCount={cores}", cds_flag,
                               f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
                               "-cp", cp, "perfbench.Main",
                               workload, str(seed), str(seconds), str(trace), data, work,
                               result, ",".join(WORKLOAD_OPS[workload])])
    with open(os.path.join(work, "..", "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"benchmark JVM exceeded {timeout:.0f} s")
    if rc != 0 or not os.path.exists(result):
        sys.exit(f"benchmark JVM failed (exit {rc}); see {os.path.join(work, '..', 'jvm.log')}")
    with open(result) as f:
        return json.load(f)


def check_queries(data, check_dir, ops):
    """Compares each op's output with its DuckDB oracle. Returns {op: error}."""
    import duckdb
    import pandas as pd
    from oracle import canon_hash
    cache_file = os.path.join(data, "_oracle_hashes.json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = None
    bad = {}
    for op in ops:
        if op not in sqls:
            bad[op] = "no oracle SQL"
            continue
        key = hashlib.sha256(sqls[op].encode()).hexdigest()
        if cache.get(op, {}).get("sql") != key:
            if con is None:
                con = duckdb.connect()
                for t in glob.glob(os.path.join(data, "*.parquet")):
                    name = os.path.basename(t)[:-len(".parquet")]
                    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
            cache[op] = {"sql": key, "hash": canon_hash(con.execute(sqls[op]).fetchdf())}
        files = glob.glob(os.path.join(check_dir, op, "*.parquet"))
        if not files:
            bad[op] = "no output"
            continue
        got = canon_hash(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        if got != cache[op]["hash"]:
            bad[op] = "result differs from the DuckDB oracle"
    with open(cache_file, "w") as f:
        json.dump(cache, f)
    return bad


def check_emails(input_dir, work):
    """Email-map outputs of the last setup against an independent SHA-256."""
    import pyarrow.parquet as pq
    outs = sorted(glob.glob(os.path.join(work, "ws*", "email", "night=*")))
    if not outs:
        return False, "no email-map output"
    for out in outs:
        i = int(out.rsplit("=", 1)[1])
        users = pq.read_table(glob.glob(os.path.join(input_dir, f"night_{i:03d}_*", "users.parquet"))[0])
        want = {u: hashlib.sha256((EMAIL_SALT + e).encode()).hexdigest()
                for u, e in zip(users.column("username").to_pylist(), users.column("email").to_pylist())}
        got_t = pq.read_table(os.path.join(out, "perfbench_user_map"))
        got = dict(zip(got_t.column("username").to_pylist(), got_t.column("email").to_pylist()))
        if got != want or got_t.num_rows != len(want):
            return False, f"night {i}: email hashes differ"
    return True, f"{len(outs)} nights"


# The nightly steps each JVM check covers: a failed check fails their calls.
CHECKED_STEPS = {
    "index": {"admit", "index_remove", "index_compact"},
    "ivf": {"ivf_append", "ivf_search", "ivf_save", "ivf_remove"},
    "landed": {"land", "partition_compact"},
    "email": {"email_map"},
}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit("engine sources not found: run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    jar, built = build()
    data = input_tables(a.workload)
    run_dir = os.path.join(BUILD, "runs", a.workload)
    work = os.path.join(run_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm_data = data
    if a.workload == "nightly_ingest":
        jvm_data = os.path.join(run_dir, "input")
        stage_nights(data, a.seed, jvm_data)
    result_file = os.path.join(run_dir, "result.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t_start)
    rec = run_jvm(jar, a.workload, a.seed, a.seconds, a.trace, jvm_data, work,
                  result_file, limit)

    # output checks, then failures: an op fails when it threw, or on every
    # call when its checked output is wrong
    attempts = [o for p in rec["passes"] for o in p["ops"]]
    checks = {c["name"]: (c["ok"], c["detail"]) for c in rec["checks"]}
    if a.workload == "nightly_ingest":
        checks["email"] = check_emails(jvm_data, work)
        wrong = set().union(*[CHECKED_STEPS[n] for n, (ok, _) in checks.items() if not ok])
    else:
        bad = check_queries(data, os.path.join(work, "check"), WORKLOAD_OPS[a.workload])
        for op in WORKLOAD_OPS[a.workload]:
            checks[op] = (op not in bad, bad.get(op, "matches the DuckDB oracle"))
        wrong = set(bad)
    failed = sum(1 for o in attempts if o["error"] is not None or o["op"] in wrong)
    correct = failed == 0 and all(ok for ok, _ in checks.values())

    if a.trace:
        values = dict(rec["layers"], **{"run.fail_frac": failed / len(attempts)})
        declared = spec["per_layer"]
    else:
        values = rec["end_to_end"]
        declared = spec["end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        sys.exit(f"benchmark produced no value for {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    out = {"correct": correct, "attempted": len(attempts), "failed": failed, "metrics": metrics}

    rec_dir = os.path.join(BUILD, "records", a.workload)
    os.makedirs(rec_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(rec_dir, f"{stamp}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(dict(rec, result=out, output_checks={k: {"ok": ok, "detail": d}
                                                       for k, (ok, d) in checks.items()}), f)
    if a.trace:
        shutil.copy(os.path.join(work, "trace.jsonl"),
                    os.path.join(rec_dir, f"{stamp}-seed{a.seed}-trace.jsonl"))
    for k, (ok, d) in sorted(checks.items()):
        if not ok:
            log(f"check {k} FAILED: {d}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
