#!/usr/bin/env python3
"""graft benchmark: one command that builds graft from this checkout, runs
one workload for a fixed time and prints its metrics and correctness.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 8 --trace 0

The last line of standard output is one JSON object:
{"correct": bool, "attempted": int, "failed": int, "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See perfbench/README.md for every metric.

Everything the benchmark writes stays inside perfbench/: the build
classpath, the 16x scaled data and the oracle fingerprints under .cache/,
per-run scratch under .work/, and each run's full record under results/.
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

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")

BASE = "sf0.1"
SCALED = "sf0.1x16"
SCALE_FACTOR = 16
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# graft.ScaleData replicates these tables SCALE_FACTOR times; it copies
# the others through
REPLICATED = ["orders", "lineitem", "documents", "embeddings", "events"]

# Each run pays JVM start, set-up and an untimed warm-up pass before it
# times anything, and the benchmark makes many runs per workload, so
# every workload is a small, fixed set of queries: the heaviest of the
# full workload by measured time, plus cheap ones for layers the heaviest
# leave uncovered (see README.md). BENCHMARK.json lists relational_x16 and
# curation; relational is the same queries at sf0.1, kept for traced
# comparisons with relational_x16. Then come the untimed warm passes on the
# sf0.1 tables that precede the correctness pass, and the fewest timed
# passes a run makes; suite_s is their median. A query's first executions
# in a JVM are still JIT-compiling and run up to a third slower:
# relational_x16 warms up on the small input, which runs the same code in
# a fraction of the time, so that its two timed passes agree. curation's
# passes keep getting faster for five or six executions, which warm
# passes would not pay for; it times three and reports the middle one.
RELATIONAL = ["q08", "q06"]
WORKLOADS = {
    "relational": (BASE, RELATIONAL, 3, 1),
    "relational_x16": (SCALED, RELATIONAL, 3, 2),
    "curation": (BASE, ["d24", "t08", "q49"], 0, 3),
}

# Spark 4 on JDK 17 outside spark-submit needs these module opens (the
# list org.apache.spark.launcher.JavaModuleOptions gives).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
HEAP = "2g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, log_file=None):
    """Exit 2, with the tail of the step's log on stderr when there is one,
    so that the cause shows where only stderr is kept."""
    if log_file and os.path.exists(log_file):
        with open(log_file, errors="replace") as f:
            for line in f.read().splitlines()[-30:]:
                log("| " + line)
    log(msg)
    sys.exit(2)


# --- build -----------------------------------------------------------------

def source_stamp():
    """Hash of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep)
            for f in files)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the driver; return the runtime classpath."""
    for p in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"graft sources not found: {os.path.join(ROOT, p)} is missing")
    stamp_file = os.path.join(CACHE, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    log("building graft and the benchmark driver with sbt")
    tmp = os.path.join(CACHE, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(CACHE, "build.log"), "w") as logf:
        r = subprocess.run(
            # sbt binds a unix socket under java.io.tmpdir at boot; in a
            # checkout whose path is long the socket path exceeds the OS
            # limit, and forcestart lets sbt go on without that socket
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=true",
             f"-Djava.io.tmpdir={tmp}",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=logf, text=True,
            stdin=subprocess.DEVNULL, timeout=850,
            # every JVM the sbt launcher starts, its version probe too
            env=dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"))
        logf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "[" in lines[-1]:
        fail(f"build failed, see {os.path.join(CACHE, 'build.log')}",
             os.path.join(CACHE, "build.log"))
    classpath = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def java(classpath, main, args, cores, timeout, log_name):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_bin = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java_bin] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # the whole fixed heap is resident from the start, so the resident
        # set beyond it is the JVM's native memory
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classpath, main] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    for k in ("SPARK_GRAFT_MASTER", "SPARK_LOCAL_DIRS"):
        env.pop(k, None)
    with open(os.path.join(WORK, log_name), "w") as logf:
        try:
            r = subprocess.run(cmd, cwd=WORK, env=env, stdout=logf, stderr=logf,
                               stdin=subprocess.DEVNULL, timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"{main} timed out after {timeout} s, see {logf.name}", logf.name)
    if r.returncode != 0:
        fail(f"{main} exited with {r.returncode}, see {logf.name}", logf.name)


# --- inputs ----------------------------------------------------------------

def duckdb_connect():
    tmp = os.path.join(WORK, "duckdb")
    os.makedirs(tmp, exist_ok=True)
    return duckdb.connect(config={"memory_limit": "3GB", "threads": 4,
                                  "temp_directory": tmp})


def row_counts(d):
    con = duckdb_connect()
    out = {}
    for t in TABLES:
        p = os.path.join(d, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        try:
            out[t] = con.execute(
                f"select count(*) from read_parquet('{src}')").fetchone()[0]
        except duckdb.Error:
            out[t] = None
    return out


def scaled_ok(base_counts, d):
    if not os.path.isdir(d):
        return False
    got = row_counts(d)
    return all(got[t] == base_counts[t] * (SCALE_FACTOR if t in REPLICATED else 1)
               for t in TABLES)


def prepare_scaled(classpath, cores):
    """The 16x copy of sf0.1, built by graft.ScaleData and checked to hold
    exactly 16x the base rows of every replicated table."""
    base = os.path.join(HERE, "data", BASE)
    out = os.path.join(CACHE, "data", SCALED)
    base_counts = row_counts(base)
    if scaled_ok(base_counts, out):
        return
    log(f"building {SCALED} with graft.ScaleData")
    shutil.rmtree(out, ignore_errors=True)
    oracle_cache = os.path.join(CACHE, "oracle", f"{SCALED}.json")
    if os.path.exists(oracle_cache):
        os.remove(oracle_cache)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    java(classpath, "graft.ScaleData", [base, tmp, str(SCALE_FACTOR)], cores,
         600, "scaledata.log")
    if not scaled_ok(base_counts, tmp):
        fail(f"{SCALED} does not hold {SCALE_FACTOR}x the base rows")
    os.rename(tmp, out)


def data_dir(name):
    return os.path.join(HERE, "data", name) if name == BASE \
        else os.path.join(CACHE, "data", name)


# --- correctness -----------------------------------------------------------

NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
           "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT", "FLOAT", "DOUBLE",
           "DECIMAL", "BOOLEAN")


def canon(col, typ):
    """SQL for the canonical text of one value: numbers of every type as
    the text of their double value, so that 1, 1.0 and 1.000000 agree as
    they do in the row comparison of tools/verify_local.py; lists of
    numbers likewise; everything else as DuckDB renders it."""
    c = '"' + col.replace('"', '""') + '"'
    if typ.startswith(NUMERIC):
        text = f"CAST(CAST({c} AS DOUBLE) AS VARCHAR)"
    elif typ.endswith("[]") and typ[:-2].startswith(NUMERIC):
        text = f"CAST(list_transform({c}, x -> CAST(x AS DOUBLE)) AS VARCHAR)"
    else:
        text = f"CAST({c} AS VARCHAR)"
    return f"coalesce({text}, chr(0))"


def fingerprint(con, sql):
    """Row count plus an order-independent hash of the rows: the sum of the
    md5 of each row's canonical text, columns taken in name order."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW fp_src AS {sql.strip().rstrip(';')}")
    cols = sorted(con.execute("DESCRIBE fp_src").fetchall())
    row = ", ".join(canon(name, typ) for name, typ, *_ in cols)
    n, total = con.execute(
        f"SELECT count(*), coalesce(sum(md5_number_lower(concat_ws(chr(31), {row}))), 0) "
        "FROM fp_src").fetchone()
    return {"columns": [c[0] for c in cols], "rows": n,
            "hash": format(int(total) % (1 << 64), "016x")}


def connect(d):
    con = duckdb_connect()
    con.execute("SET max_expression_depth TO 10000")
    for t in TABLES:
        p = os.path.join(d, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"create view {t} as select * from read_parquet('{src}')")
    return con


def oracle_fingerprints(classpath, cores):
    """DuckDB fingerprints of every workload query that has oracle SQL, on
    each workload's input, computed once and cached. perfbench/oracle/
    holds those of the committed sf0.1 input, keyed like the cache, so
    that a fresh checkout need not rerun the slowest oracles; a changed
    oracle SQL misses both and is recomputed."""
    sql_file = os.path.join(CACHE, "oracle_sql.json")
    stamp = source_stamp()
    cached = json.load(open(sql_file)) if os.path.exists(sql_file) else {}
    if cached.get("stamp") != stamp:
        dump = os.path.join(WORK, "oracle_sql.json")
        java(classpath, "perfbench.Main", ["--dump-oracles", dump], cores, 120,
             "oracles.log")
        with open(dump) as f:
            cached = {"stamp": stamp, "sql": json.load(f)}
        with open(sql_file, "w") as f:
            json.dump(cached, f)
    sqls = cached["sql"]
    by_id = {name.split("_")[0]: name for name in sqls}
    result = {}
    for data in sorted({w[0] for w in WORKLOADS.values()}):
        path = os.path.join(CACHE, "oracle", f"{data}.json")
        cache = {}
        for p in (os.path.join(HERE, "oracle", f"{data}.json"), path):
            if os.path.exists(p):
                with open(p) as f:
                    cache.update(json.load(f))
        con = None
        for wd, ids, *_ in WORKLOADS.values():
            for qid in ids:
                name = by_id.get(qid)
                if wd != data or name is None:
                    continue
                sha = hashlib.sha256(sqls[name].encode()).hexdigest()
                if cache.get(name, {}).get("sql_sha256") != sha:
                    log(f"oracle fingerprint of {name} on {data}")
                    con = con or connect(data_dir(data))
                    cache[name] = {"sql_sha256": sha,
                                   "fingerprint": fingerprint(con, sqls[name])}
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        result[data] = cache
    return result


def output_fingerprint(name):
    d = os.path.join(WORK, "out", name)
    con = duckdb_connect()
    return fingerprint(con, f"select * from read_parquet('{d}/*.parquet')")


# --- metrics ---------------------------------------------------------------

def percentile(xs, q):
    """Linear-interpolated percentile (numpy's default method)."""
    v = sorted(xs)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def host_stamp(cores):
    head = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
        head = r.stdout.strip() or head
    return {"nproc": cores, "git_head": head,
            "loadavg_per_core": round(os.getloadavg()[0] / cores, 3)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--queries", default="",
                    help="comma-separated query ids: run only these (smoke runs)")
    a = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    host = host_stamp(cores)
    data, ids, warm_passes, min_passes = WORKLOADS[a.workload]
    if a.queries:
        ids = [q for q in a.queries.split(",") if q]

    # wall seconds of each step of this command
    steps = {}
    t = time.monotonic()

    def step(name):
        nonlocal t
        now = time.monotonic()
        steps[name] = now - t
        t = now

    classpath = build()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    prepare_scaled(classpath, cores)
    oracles = oracle_fingerprints(classpath, cores)[data]
    step("prepare")

    java(classpath, "perfbench.Main", [
        "--queries", ",".join(ids), "--data", data_dir(data), "--work", WORK,
        "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--min-passes", str(min_passes),
        "--warm-data", data_dir(BASE), "--warm-passes", str(warm_passes),
        "--cores", str(cores)],
        cores, a.seconds + 160, "run.log")
    with open(os.path.join(WORK, "result.json")) as f:
        res = json.load(f)
    step("jvm")

    # correctness: every warm-up result against its DuckDB oracle; a wrong
    # query fails every one of its timed executions
    checks = {}
    for w in res["warmup"]:
        name = w["query"]
        if w["error"]:
            checks[name] = "threw: " + w["error"]
        elif name not in oracles:
            checks[name] = "no oracle SQL"
        else:
            got, want = output_fingerprint(name), oracles[name]["fingerprint"]
            checks[name] = "ok" if got == want else f"got {got}, oracle {want}"
    for name, status in sorted(checks.items()):
        if status != "ok":
            log(f"{name}: {status}")
    step("check")

    samples = res["samples"]
    untraced = [s for s in samples if not s["traced"]]
    attempted = len(samples)
    failed = sum(1 for s in samples if s["error"] or checks.get(s["query"]) != "ok")
    passes = [p for p in res["passes"] if not p["traced"]]
    native_mb = res["peak_rss_mb"] - res["heap_committed_mb"]
    if a.trace:
        traced_walls = [p["wall_s"] for p in res["passes"] if p["traced"]]
        plain = statistics.median(p["wall_s"] for p in passes)
        metrics = dict(res["layers"])
        metrics["session.start_s"] = res["setup"]["start_s"]
        metrics["session.register_s"] = res["setup"]["register_s"]
        metrics["mem.heap_live_mb"] = res["heap_live_mb"]
        metrics["mem.native_mb"] = native_mb
        metrics["trace.overhead_frac"] = statistics.median(traced_walls) / plain - 1
    else:
        times = [s["total_s"] for s in untraced]
        metrics = {
            "setup_s": res["setup"]["total_s"],
            "suite_s": statistics.median(p["wall_s"] for p in passes),
            "query_p50_s": statistics.median(times),
            "query_p90_s": percentile(times, 0.9),
            "peak_mem_mb": res["heap_live_mb"] + native_mb,
        }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    unit_of = {m["name"]: m["unit"] for m in declared}
    if set(unit_of) != set(metrics):
        fail(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(unit_of)}")
    host.update(heap_mb=res["heap_mb"], calib_s=res["calib_s"])
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "data": data, "queries": ids, "host": host,
        "checks": checks, "steps": steps, "phases": res["phases"], "passes": res["passes"],
        "setup": res["setup"], "memory_mb": {
            k: res[k] for k in ("peak_rss_mb", "heap_committed_mb", "heap_live_mb")},
        "samples": samples, "query_samples": len(untraced), "metrics": metrics}
    os.makedirs(RESULTS, exist_ok=True)
    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    with open(os.path.join(RESULTS, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if a.trace:
        shutil.copy(os.path.join(WORK, "spans.json"),
                    os.path.join(RESULTS, tag + ".spans.json"))
    print(json.dumps({"host": host, "query_samples": len(untraced),
                      "failed_frac": failed / attempted}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
