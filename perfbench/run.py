#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source (once per source state), generates the workload's fixture from the
seed, runs the harness JVM, checks the outputs (DuckDB oracle row counts for
the batch workloads, the final table state for pg_mixed), saves the full
record under .bench_build/perfbench/results/ and prints one JSON result line
last. See perfbench/NOTES.md for the workloads and metrics.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")

# fixture scale per workload; see NOTES.md for why each size
WORKLOADS = {
    "select_sf0.1": {"sf": 0.1},
    "pg_mixed": {"sf": 0.01, "csv": True},
}
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar", "java.base/jdk.internal.ref",
]


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to ROOT, sorted."""
    out = []
    for top in ("src/main", "perfbench/harness/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    for f in ("build.sbt", "project/build.properties",
              "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties"):
        if os.path.exists(os.path.join(ROOT, f)):
            out.append(f)
    return sorted(out)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode() + b"\0")
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile engine + harness with sbt unless the source state `stamp` is
    built; returns the runtime classpath."""
    for need in ("build.sbt", "src/main/scala", "perfbench/harness/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found under {ROOT}: not a checkout of the engine", 2)
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(HARNESS, "target", "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/writeClasspath"],
                            cwd=HARNESS, env=env, stdout=lf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-30:]))
        die(f"build failed (rc={rc}); log in {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


def nproc():
    return len(os.sched_getaffinity(0))


def run_harness(cp, args, data, work, out):
    cpus = nproc()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx4g", "-XX:+UseG1GC",
           *[x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Harness",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", work, "--out", out]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "harness.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=args.seconds + 130)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the JVM and anything it spawned
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        shutil.rmtree(work, ignore_errors=True)
        die(f"harness failed (rc={rc})", 4)
    with open(out) as f:
        return json.load(f)


def oracle_check(rec, data):
    """Row count of every timed sample vs its DuckDB oracle on the same
    fixture; returns the failures."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET preserve_insertion_order=false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = []
    for key, counts in rec["rowcounts"].items():
        sql = rec["oracles"].get(key)
        if sql is None:
            continue
        want = con.execute(f"SELECT count(*) FROM ({sql.strip().rstrip(';')}) AS oracle_rows").fetchone()[0]
        bad += [{"op": key, "error": f"{c} rows, oracle has {want}"} for c in counts if c != want]
    con.close()
    return bad


def git_head():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    t_build = time.time()
    stamp = source_hash()
    cp = build(stamp)
    t_build = time.time() - t_build

    w = WORKLOADS[args.workload]
    work = os.path.join(OUT, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    sys.path.insert(0, HERE)
    import gen
    gen.generate(data, w["sf"], args.seed, csv=w.get("csv", False))

    out = os.path.join(work, "result.json")
    rec = run_harness(cp, args, data, work, out)
    bad = oracle_check(rec, data) if rec["rowcounts"] else []
    failures = rec["failures"] + bad
    failed = len(failures)
    attempted = max(1, rec["attempted"])
    rec["metrics"]["failed_frac"] = failed / attempted
    correct = bool(rec["correct"]) and not bad

    # the full record, for perfbench/compare.py
    rec.update(failures=failures, failed=failed, correct=correct, build_s=t_build,
               head=git_head(), source_sha256=stamp, seconds=args.seconds)
    del rec["rowcounts"], rec["oracles"]
    spans = out + ".spans.jsonl"
    res_dir = os.path.join(OUT, "results", args.workload)
    os.makedirs(res_dir, exist_ok=True)
    stem = os.path.join(res_dir, f"{time.strftime('%Y%m%dT%H%M%S')}-s{args.seed}-t{args.trace}-{os.getpid()}")
    with open(stem + ".json", "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    if os.path.exists(spans):
        shutil.move(spans, stem + ".spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = rec["metrics"].get(m["name"])
        if v is None and args.trace:
            v = 0.0  # a layer this workload does not exercise
        if v is None:
            die(f"metric {m['name']} missing from the harness record {stem}.json", 5)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
