#!/usr/bin/env python3
"""graft benchmark: one workload run, one JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload <etl_incremental|store_loops|corpus_batch>
      --seed <n> --seconds <s> --trace <0|1> [--smoke]

Builds the harness (perfbench/build.sbt, which compiles the program's
sources with it) when its sources changed, runs the workload in a fresh
JVM under a per-run scratch root inside perfbench/, checks the outputs,
removes the scratch root and prints one JSON object as the last line of
stdout. See perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
JVM_TIMEOUT_S = 165
# corpus_batch is not gated: a data-bound run may take longer than a gated one
JVM_TIMEOUT_S_UNGATED = 900
TUNING_VARS = ("SPARK_GRAFT_OP_PARTS", "SPARK_GRAFT_BATCH_PARTS", "SPARK_GRAFT_BATCH_AQE")
# ScaleUp-style copies of the base corpus (perfbench/data) per workload:
# store_loops runs on one renamed copy; corpus_batch on 10, the smallest
# factor tried (1, 4, 10) at which its engine.busy_frac is clearly above
# store_loops'.
CORPUS_COPIES = {"store_loops": 1, "corpus_batch": 10}
SMOKE_DOCS = 120
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "*.jar")):
            return home
    fail("no Spark installation: set SPARK_HOME")


def spark_jars():
    return sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar")))


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, fs in os.walk(root):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classes match the current sources."""
    digest = source_digest()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(os.path.join(BENCH, "target", "perfbench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(STAMP) and open(STAMP).read() == digest:
            return digest
        env = dict(os.environ, SPARK_HOME=spark_home())
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                               f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx4g")
        t0 = time.time()
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=840)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            fail("build failed", 3)
        with open(STAMP, "w") as f:
            f.write(digest)
        print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
        return digest


def heap():
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        gb = max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{gb}g"


def make_corpus(args, out):
    """Seeded copies of the base `documents` and `embeddings` tables.

    Copy i offsets the ids; every token of every copy gets a suffix made
    from the seed and i, so copies are disjoint and each keeps the base's
    near-duplicate structure; copies after the first shift each vector by
    a fixed per-coordinate offset, which keeps distances within a copy and
    moves copies apart. Returns the inputs' row counts and bytes."""
    import duckdb
    copies = 1 if args.smoke else CORPUS_COPIES[args.workload]
    tag = "".join(chr(97 + (abs(args.seed) // d) % 26) for d in (1, 26))
    limit = f"WHERE base_id < {SMOKE_DOCS}" if args.smoke else ""
    data = os.path.join(BENCH, "data")
    os.makedirs(out)
    con = duckdb.connect(config={"threads": 1})
    con.sql(f"""COPY (
        SELECT doc_id + i * 100000 AS doc_id, t AS text, lang, source,
               CAST(length(t) AS BIGINT) AS n_chars
        FROM (SELECT d.*, d.doc_id AS base_id, r.i,
                     array_to_string(list_transform(string_split(d.text, ' '),
                                                    w -> w || '_{tag}' || r.i), ' ') AS t
              FROM '{data}/documents.parquet' d, range({copies}) r(i)) {limit}
        ORDER BY doc_id) TO '{out}/documents.parquet' (FORMAT parquet)""")
    con.sql(f"""COPY (
        SELECT vec_id + i * 100000 AS vec_id,
               CASE WHEN i = 0 THEN embedding ELSE list_transform(embedding, (x, j) ->
                 CAST(x + sin((j - 1) * 13.0 + i * 37.0 + {args.seed % 1000} * 0.01) * 0.5
                      AS FLOAT)) END AS embedding,
               label
        FROM (SELECT e.*, e.vec_id AS base_id, r.i
              FROM '{data}/embeddings.parquet' e, range({copies}) r(i)) {limit}
        ORDER BY vec_id) TO '{out}/embeddings.parquet' (FORMAT parquet)""")
    rows = {t: con.sql(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0]
            for t in ("documents", "embeddings")}
    return {"copies": copies, "rows": rows,
            "bytes": sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out))}


def run_jvm(args, root, out_file, data, started, await_file=None):
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    cp = os.pathsep.join([CLASSES] + spark_jars())
    cmd = (["java", f"-Xms{heap()}", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in JDK17_OPENS]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--root", root, "--data", data, "--out", out_file,
              "--started", str(int(started * 1000))]
           + (["--await", await_file] if await_file else [])
           + (["--smoke"] if args.smoke else []))
    log = os.path.join(root, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=root)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S if args.workload != "corpus_batch"
                        else JVM_TIMEOUT_S_UNGATED)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out_file):
        with open(log, errors="replace") as lf:
            sys.stderr.write("".join(lf.readlines()[-60:]))
        fail(f"workload JVM ended with {rc}", 4)


# --- output checks against the DuckDB oracle ---------------------------
# Mirrors the repository's oracle comparison (tools/check_oracle.py):
# same column alignment, type discipline and value equality. The oracle
# answers are computed from the generated inputs while the JVM runs its
# warm-up pass, on one DuckDB thread; the JVM starts its timed window only
# once they are done. DuckDB's compressed-materialization optimizer is
# disabled: it changes only planning (which it makes ~8x slower on the
# crawl-curate oracle), not results.

class Oracle(threading.Thread):
    def __init__(self, root, done):
        super().__init__(daemon=True)
        self.root, self.done = root, done
        self.answers, self.errors = {}, {}

    def run(self):
        try:
            import duckdb
            results = os.path.join(self.root, "results")
            sql_file = os.path.join(results, "oracle_sql.json")
            deadline = time.time() + JVM_TIMEOUT_S_UNGATED
            while not os.path.exists(sql_file) and time.time() < deadline:
                time.sleep(0.1)
            with open(sql_file) as f:
                oracles = json.load(f)
            con = duckdb.connect(config={"threads": 1})
            con.sql("SET disabled_optimizers = 'compressed_materialization'")
            for t in ("documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.root}/input/{t}.parquet'")
            for op, sql in oracles.items():
                try:
                    rel = con.sql(sql)
                    bad = [f"{n}:{t}" for n, t in zip(rel.columns, map(str, rel.types))
                           if str(t).upper() in ("HUGEINT", "UHUGEINT", "INT128", "UINT128")]
                    if bad:
                        self.errors[op] = f"oracle emits non-portable integer type(s) {bad}"
                    else:
                        self.answers[op] = rel.fetchdf()
                except Exception as e:  # a broken oracle is a failed check
                    self.errors[op] = f"{type(e).__name__}: {e}"
        except Exception as e:
            self.errors["*"] = f"{type(e).__name__}: {e}"
        finally:
            open(self.done, "w").close()


def compare(spark_df, oracle_df):
    import pandas as pd
    spark_df = spark_df.reindex(sorted(spark_df.columns), axis=1)
    oracle_df = oracle_df.reindex(sorted(oracle_df.columns), axis=1)
    if list(spark_df.columns) != list(oracle_df.columns):
        return f"columns {list(spark_df.columns)} vs {list(oracle_df.columns)}"
    if spark_df.shape != oracle_df.shape:
        return f"shape {spark_df.shape} vs {oracle_df.shape}"
    for c in spark_df.columns:
        a, b = spark_df[c], oracle_df[c]
        if (pd.api.types.is_integer_dtype(a) != pd.api.types.is_integer_dtype(b)
                and (pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b))):
            return f"col {c} dtype mismatch: {a.dtype} vs {b.dtype}"
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            eq = (a.astype(float).fillna(-1e308) == b.astype(float).fillna(-1e308)).all()
        else:
            eq = (a.astype(str) == b.astype(str)).all()
        if not eq:
            idx = (a.astype(str) != b.astype(str)).idxmax()
            return f"col {c} first diff at row {idx}: {a[idx]!r} vs {b[idx]!r}"
    return None


def oracle_checks(root, oracle, res):
    import duckdb
    con = duckdb.connect()
    for op in res["info"]["ops"]:
        res["attempted"] += 1
        out = os.path.join(root, "results", op)
        if op in oracle.errors or "*" in oracle.errors:
            err = oracle.errors.get(op) or oracle.errors["*"]
        elif op not in oracle.answers:
            err = "no oracle SQL"
        elif not glob.glob(os.path.join(out, "*.parquet")):
            err = "no result parquet"
        else:
            err = compare(con.sql(f"SELECT * FROM '{out}/*.parquet'").fetchdf(),
                          oracle.answers[op])
        if err:
            res["failed"] += 1
            res["failures"].append(f"oracle {op}: {err}")


def repeat_record(args, res):
    """Store this traced run's per-op job/stage/task counts beside the
    earlier traced runs of the same workload, and count the ops whose
    counts were identical in every traced pass of every stored run."""
    counts = res["info"].get("op_counts")
    if not counts:
        return
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"counts-{args.workload}{'-smoke' if args.smoke else ''}.jsonl")
    with open(path, "a") as f:
        f.write(json.dumps({"seed": args.seed, "counts": counts}) + "\n")
    with open(path) as f:
        runs = [json.loads(l) for l in f if l.strip()]
    exact, varying, detail = [], [], {}
    for op in counts:
        seen = [c for r in runs for c in r["counts"].get(op, [])]
        (exact if len({tuple(c) for c in seen}) == 1 else varying).append(op)
        detail[op] = {kind: sorted({c[i] for c in seen})
                      for i, kind in enumerate(("jobs", "stages", "tasks"))}
    res["metrics"]["repeat.runs"] = {"value": len(runs), "unit": "count"}
    res["metrics"]["repeat.exact_ops"] = {"value": len(exact), "unit": "count"}
    res["metrics"]["repeat.varying_ops"] = {"value": len(varying), "unit": "count"}
    res["info"]["repeat"] = {"exact": sorted(exact), "varying": sorted(varying),
                             "values_seen": detail}


def declared(workload, trace):
    """The metrics BENCHMARK.json declares for a workload it lists, else None."""
    path = os.path.join(REPO, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    if workload not in {w["name"] for w in spec["workloads"]}:
        return None
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl_incremental", "store_loops", "corpus_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and one timed cycle or pass, to exercise the harness")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    tuned = [v for v in os.environ
             if v in TUNING_VARS or v.startswith("SPARK_GRAFT_BENCH_")]
    if tuned:
        fail(f"refusing to run with tuning variables set: {sorted(tuned)}")
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {REPO}/src/main/scala: run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    digest = build()
    root = os.path.join(BENCH, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        out_file = os.path.join(root, "result.json")
        data = os.path.join(root, "input")
        started = time.time()  # set-up starts here: inputs, JVM, session
        inputs, oracle = None, None
        if args.workload != "etl_incremental":
            inputs = make_corpus(args, data)
            oracle = Oracle(root, os.path.join(root, "oracle.done"))
            oracle.start()
        run_jvm(args, root, out_file, data, started, oracle and oracle.done)
        with open(out_file) as f:
            res = json.load(f)
        if inputs:
            res["info"]["inputs"] = inputs
        if oracle:
            oracle.join()
            oracle_checks(root, oracle, res)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    res["info"]["source_sha256"] = digest[:16]
    res["info"]["commit"] = None  # a checkout without git history has none
    if shutil.which("git"):
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True)
        if head.returncode == 0:
            res["info"]["commit"] = head.stdout.strip()
    res["info"]["fail_frac"] = res["failed"] / max(1, res["attempted"])
    if args.trace:
        repeat_record(args, res)

    names = declared(args.workload, args.trace)
    if names is None:
        metrics = res["metrics"]
    else:
        metrics = {}
        for m in names:
            got = res["metrics"].get(m["name"])
            if got is None and not args.trace:
                fail(f"end-to-end metric {m['name']} was not measured", 5)
            metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-smoke' if args.smoke else ''}"
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(res, f, indent=1)
    for failure in res["failures"]:
        print(f"perfbench: failed: {failure}", file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
