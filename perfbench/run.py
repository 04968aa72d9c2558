#!/usr/bin/env python3
"""graft benchmark: timed workloads of SparkEntry query keys, checked
against their DuckDB oracles.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and
the harness from source with sbt (perfbench/build.sbt) into
.bench_build/; later runs reuse the build while the sources are
unchanged.

A run makes the workload's corpus from --seed under .bench_build/,
starts the harness JVM (session start plus untimed warm-up passes: the
set-up), times passes over the workload's keys for --seconds, then
checks every key's output against its oracle. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports
the end-to-end metrics, --trace 1 the per-layer metrics of a traced run
and writes its spans to .bench_build/results/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# a read-only copy of the fixed sf0.01 test tables (TESTDATA.md): the
# benchmark reads nothing outside its checkout
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Each workload is a fixed, ordered list of SparkEntry.queries keys run
# back to back by one client (closed loop). "scale" is the documents
# corpus factor K: K seeded replicas of the base documents. "warmup" is
# the number of untimed passes before timing: the first pass in a fresh
# JVM runs 3-6x slower than a warm one, and a workload of short keys
# needs more passes before its pass time stops falling.
WORKLOADS = {
    "lambda_kinesis": dict(scale=1, warmup=3, keys=[
        "q_kinesis_decode", "q_topic_pagecount", "q1_pricing_summary", "q_top_events_per_user",
        "q_stream_problems"]),
    "near_dup_scaled": dict(scale=4, warmup=4, keys=[
        "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash", "text_quality"]),
}

HEAP = "2g"
CORES = max(1, min(4, os.cpu_count() or 1))
DEADLINE_S = 170    # a run must end within 180 s once built
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def quantile(xs, q):
    """Linear interpolation between closest ranks, as the harness does."""
    s = sorted(xs)
    if not s:
        return 0.0
    h = (len(s) - 1) * q
    lo = int(h)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (h - lo) * (s[hi] - s[lo])


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles engine + harness unless the sources are unchanged since
    the last build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("graft sources not found next to perfbench/ (expected src/main/scala/graft)")
        sys.exit(2)
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt compile) ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "classes" in l and ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        log("build failed")
        sys.exit(1)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


# --------------------------------------------------------------- corpus

def make_corpus(work, scale, seed):
    """Links the fixed sf0.01 tables into work/corpus. With scale K > 1,
    documents.parquet is generated instead: K replicas of the base
    documents, replica i shifting doc_id by i*(max id + 1) and prefixing
    every word with a replica-unique tag, so near-duplicate structure
    stays within a replica. The seed picks the tags and the row order."""
    import duckdb
    corpus = os.path.join(work, "corpus")
    os.makedirs(corpus)
    for t in TABLES:
        if t == "documents" and scale > 1:
            continue
        os.symlink(os.path.join(DATA, f"{t}.parquet"), os.path.join(corpus, f"{t}.parquet"))
    if scale > 1:
        rng = random.Random(seed)
        tags = [f"r{n:04d}x" for n in rng.sample(range(10000), scale)]
        con = duckdb.connect()
        src = os.path.join(DATA, "documents.parquet")
        span = con.execute(f"SELECT max(doc_id) + 1 FROM '{src}'").fetchone()[0]
        con.execute("CREATE TABLE tags (i BIGINT, tag VARCHAR)")
        con.executemany("INSERT INTO tags VALUES (?, ?)", list(enumerate(tags)))
        con.execute(f"""
            COPY (
              SELECT d.doc_id + t.i * {span} AS doc_id,
                     regexp_replace(d.text, '(^| )', '\\1' || t.tag, 'g') AS text,
                     d.lang, d.source, d.n_chars
              FROM '{src}' d, tags t
              ORDER BY hash(d.doc_id + t.i * {span}, {int(seed)})
            ) TO '{os.path.join(corpus, "documents.parquet")}' (FORMAT PARQUET)""")
        con.close()
    return corpus


# ------------------------------------------------------------------ jvm

def run_jvm(classpath, work, wl, corpus, seed, seconds, trace, deadline):
    """Runs the harness JVM; returns its result object."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Harness", "--keys", ",".join(wl["keys"]),
            "--warmup-passes", str(wl["warmup"]),
            "--corpus", corpus, "--work", work, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(CORES), "--out", out]
    with open(out + ".log", "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log("harness ran past the deadline; killed")
            sys.exit(1)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(out + ".log") as fh:
            log(fh.read()[-4000:])
        log(f"harness exited with code {code}")
        sys.exit(1)
    with open(out) as fh:
        res = json.load(fh)
    res["dir"] = work
    return res


# --------------------------------------------------------------- checks

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64[ns"):
            df[c] = df[c].astype(df[c].dtype.name.replace("[ns", "[us"))
    return df.sort_values(by=list(df.columns), ignore_index=True)


def check_outputs(res, corpus, keys):
    """Compares each key's warm-up output with its DuckDB oracle over
    the run's own corpus (the tools/verify_local.py compare: columns by
    name, rows sorted, dtypes and values exact). Keys without an oracle
    must be non-empty. Every timed pass must also have returned the
    same row count as the checked output. Returns the failing keys."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(corpus, t + '.parquet')}'")
    oracle = {}  # keys may share one oracle query
    rows = {}
    for s in res["samples"]:
        rows.setdefault(s["key"], set()).add(s["rows"])
    failed_warmup = {f["key"] for f in res["failures"] if f["pass"] == 0}
    bad = {}
    for key in keys:
        if key in failed_warmup:  # counted as a failure already
            continue
        files = sorted(glob.glob(os.path.join(res["dir"], "outputs", key, "*.parquet")))
        if not files:
            bad[key] = "no output written"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if rows.get(key, {len(got)}) != {len(got)}:
            bad[key] = f"timed passes returned {sorted(rows[key])} rows, checked output has {len(got)}"
            continue
        sql = res["oracle_sql"].get(key)
        if sql is None:
            if len(got) == 0:
                bad[key] = "empty output (no oracle)"
            continue
        if sql not in oracle:
            try:
                oracle[sql] = canon(con.execute(sql).fetchdf())
            except duckdb.Error as ex:
                oracle[sql] = f"oracle SQL error: {ex}"
        if isinstance(oracle[sql], str):
            bad[key] = oracle[sql]
            continue
        a, b = canon(got), oracle[sql]
        if list(a.columns) != list(b.columns):
            bad[key] = f"columns {list(a.columns)} vs oracle {list(b.columns)}"
        elif len(a) != len(b):
            bad[key] = f"rows {len(a)} vs oracle {len(b)}"
        elif [str(t) for t in a.dtypes] != [str(t) for t in b.dtypes]:
            bad[key] = f"dtypes {list(a.dtypes)} vs oracle {list(b.dtypes)}"
        else:
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=True, check_exact=True)
            except AssertionError as ex:
                bad[key] = "value mismatch: " + str(ex).replace("\n", " ")[:300]
    con.close()
    return bad


# ----------------------------------------------------------------- main

def metric_units(trace):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]

    classpath = build()
    start = time.time()
    deadline = start + DEADLINE_S
    work = os.path.join(BUILD, "work", f"{a.workload}-s{a.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        corpus = make_corpus(work, wl["scale"], a.seed)
        corpus_gen_s = time.perf_counter() - t0

        res = run_jvm(classpath, work, wl, corpus, a.seed, a.seconds, a.trace, deadline)
        failures = res["failures"]
        t0 = time.perf_counter()
        bad = check_outputs(res, corpus, wl["keys"])
        log(f"corpus {corpus_gen_s:.2f} s, session {res['session_s']:.2f} s, warm-up {res['warmup_s']:.2f} s, "
            f"oracle check {time.perf_counter() - t0:.2f} s, run so far {time.time() - start:.1f} s")
        timed = res["passes"]
        jobs = {p["jobs"] for p in timed}
        batches = {p["batches"] for p in timed}
        guard_ok = len(jobs) == 1 and len(batches) == 1
        attempted = (len(res["samples"]) + sum(1 for f in failures if f["pass"] > 0)
                     + len(wl["keys"]) * res["warmup_passes"])
        failed = len(failures) + len(bad)

        for f in failures:
            log(f"failure: pass {f['pass']} {f['key']}: {f['error']}: {f['message']}")
        for k, why in sorted(bad.items()):
            log(f"output check failed: {k}: {why}")
        if not guard_ok:
            log(f"work-count guard failed: jobs per pass {[p['jobs'] for p in timed]}, "
                f"micro-batches per pass {[p['batches'] for p in timed]}")

        untraced = [p for p in timed if not p["traced"]]
        walls = [p["wall_s"] for p in untraced]
        if a.trace:
            traced = [p["wall_s"] for p in timed if p["traced"]]
            metrics = dict(res["per_layer"])
            metrics["setup.session_s"] = res["session_s"]
            metrics["setup.warmup_s"] = res["warmup_s"]
            metrics["setup.corpus_gen_s"] = corpus_gen_s
            metrics["trace.overhead"] = statistics.median(traced) / statistics.median(walls)
        else:
            lat = [s["build_s"] + s["exec_s"] for s in res["samples"]]
            first_two = {p["pass"] for p in timed[:2]}
            metrics = {
                "wall_s": statistics.median(walls),
                "key_p50_s": quantile(lat, 0.5),
                "key_p90_s": quantile(lat, 0.9),
                "setup_s": res["session_s"] + res["warmup_s"],
                "heap_live_mb": max(v for p, v in res["heap_mb"].items() if int(p) in first_two),
            }
            log(f"{a.workload}: {len(timed)} timed passes, {len(lat)} key samples, "
                f"failed_frac {failed / attempted:.4f}")
            for key in wl["keys"]:
                ks = [(s["build_s"], s["exec_s"]) for s in res["samples"] if s["key"] == key]
                if ks:
                    log(f"  {key}: build {statistics.median(b for b, _ in ks):.3f} s, "
                        f"exec {statistics.median(e for _, e in ks):.3f} s")
        units = metric_units(a.trace)
        if set(metrics) != set(units):
            log(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
            sys.exit(1)
        for name in sorted(metrics):
            print(f"{name} {metrics[name]:.6g} {units[name]}")
        result = {
            "correct": failed == 0 and guard_ok,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in sorted(metrics)},
        }
        # keep the raw samples (and a traced run's spans) for inspection
        kept = os.path.join(BUILD, "results")
        os.makedirs(kept, exist_ok=True)
        name = f"{a.workload}-s{a.seed}-t{a.trace}"
        with open(os.path.join(kept, name + ".json"), "w") as fh:
            json.dump(res, fh)
        if a.trace and res["spans"]:
            shutil.copy(res["spans"], os.path.join(kept, name + ".spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
