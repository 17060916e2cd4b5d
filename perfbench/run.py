#!/usr/bin/env python3
"""Benchmark of the HTTP service and the query catalog.

    python3 perfbench/run.py --workload serve-csv|serve-stream|catalog \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run from the repository root. Builds the program and the benchmark from
source (perfbench/build.py), derives the trips lake from the test data,
runs one benchmark JVM, checks every op's answer, and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The run's evidence (machine, heap, load, steal, JIT, GC, per-type
samples) is printed on the line before and kept under
<target>/results/. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("serve-csv", "serve-stream", "catalog")
# The generated inputs come from the repository's fixed test corpus: the
# trips lake from its sf0.01 lineitem, the catalog from the sf0.001 tables.
LAKE_SF = "sf0.01"
CATALOG_SF = "sf0.001"
CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def corpus_dir(sf):
    """The corpus at scale `sf`: $PERFBENCH_TESTDATA/<sf>, else the
    directory TESTDATA.md lists for it."""
    root = os.environ.get("PERFBENCH_TESTDATA")
    if root:
        return os.path.join(root, sf)
    with open("TESTDATA.md") as f:
        m = re.search(r"`([^`]*/" + re.escape(sf) + r")/?`", f.read())
    if not m:
        raise SystemExit(f"TESTDATA.md lists no {sf} directory; set PERFBENCH_TESTDATA")
    return m.group(1)


def heap_mb():
    """A quarter of the machine's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 4096))


def loadavg_1m():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_s():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def prepare_lake(target, sf_dir):
    """trips.csv and its parquet twin trips_pq.parquet: 60k rows derived
    from lineitem. (departure_delay, arrival_delay) is unique per row, so
    the sorted routes have one right answer."""
    src = os.path.join(sf_dir, "lineitem.parquet")
    st = os.stat(src)
    tag = hashlib.sha256(f"v1 {src} {st.st_size} {st.st_mtime_ns}".encode()).hexdigest()[:16]
    lake = os.path.join(target, "lake-" + tag)
    if os.path.exists(os.path.join(lake, ".done")):
        return lake
    import duckdb
    shutil.rmtree(lake, ignore_errors=True)
    os.makedirs(lake)
    con = duckdb.connect()
    con.execute(f"""
        CREATE TABLE trips AS
        SELECT CAST(rn AS INTEGER) AS trip_id,
               l_returnflag || '-' || l_linestatus AS line,
               l_shipdate + to_hours(CAST(l_linenumber * 5 % 24 AS INTEGER))
                          + to_minutes(CAST(l_partkey % 4 * 15 AS INTEGER)) AS scheduled_departure,
               CASE WHEN l_partkey % 29 = 0 THEN NULL
                    ELSE CAST((l_suppkey * 7 + l_linenumber * 13) % 121 - 10 AS INTEGER)
               END AS departure_delay,
               CAST(rn * 7919 % 60013 - 3000 AS INTEGER) AS arrival_delay,
               round(l_quantity * 3.7 + l_discount * 100, 2) AS distance_km
        FROM (SELECT *, row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
              FROM read_parquet('{src}'))
        ORDER BY trip_id""")
    n = con.execute("SELECT count(*) FROM trips").fetchone()[0]
    if n >= 60013:
        raise SystemExit(f"{n} rows: arrival_delay would repeat")
    con.execute(f"""COPY (SELECT trip_id, line,
                          strftime(scheduled_departure, '%Y-%m-%d %H:%M:%S') AS scheduled_departure,
                          departure_delay, arrival_delay, distance_km
                   FROM trips ORDER BY trip_id)
                   TO '{lake}/trips.csv' (HEADER, DELIMITER ',')""")
    con.execute(f"COPY (SELECT * FROM trips ORDER BY trip_id) TO '{lake}/trips_pq.parquet' (FORMAT PARQUET)")
    con.close()
    open(os.path.join(lake, ".done"), "w").close()
    return lake


def java_cmd(classes, main, args, tmpdir=None):
    jars = os.path.join(build.spark_jars_dir(), "*")
    heap = heap_mb()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = [f"-Djava.io.tmpdir={tmpdir}"] if tmpdir else []
    return ["java", "-XX:-UsePerfData", *tmp, f"-Xms{heap}m", f"-Xmx{heap}m",
            "-XX:ReservedCodeCacheSize=1g", *opens,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, jars]), main, *args]


def target_dir():
    """Build and work directory: $CARGO_TARGET_DIR, default .bench_build."""
    target = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(target, exist_ok=True)
    return target


def repo_check():
    """The repository's oracle comparison, tools/check.py, as a module."""
    spec = importlib.util.spec_from_file_location("repo_check", os.path.join("tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    return check


def oracle_check(result, sf_dir):
    """Compares each catalog query's checked output with its oracle SQL in
    DuckDB, using tools/check.py's comparison. Returns the failing queries
    with their first issues."""
    import duckdb
    check = repo_check()
    cc = result["catalog_check"]
    con = duckdb.connect()
    for t in CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    bad = {}
    for q, sql in sorted(cc["oracle_sql"].items()):
        spark_df = check.load_spark(cc["out_dir"], q)
        if spark_df is None:
            bad[q] = ["no output"]
            continue
        issues = [i for i in check.compare(q, spark_df, con.execute(sql).df())
                  if not i.startswith("DTYPE")]
        if issues:
            bad[q] = issues[:3]
    con.close()
    return bad


def run(a):
    target = target_dir()
    classes, tree = build.build(os.getcwd(), target)
    lake = prepare_lake(target, corpus_dir(LAKE_SF))
    sf_dir = corpus_dir(CATALOG_SF)
    work = os.path.join(target, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "local"))
    env.pop("SPARK_GRAFT_CONF", None)
    cmd = java_cmd(classes, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--lake", lake, "--sf", sf_dir, "--work", work, "--out", out],
        tmpdir=os.path.join(work, "tmp"))
    load0, steal0, t0 = loadavg_1m(), steal_s(), time.time()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"benchmark JVM did not finish in {JVM_TIMEOUT_S}s")
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"benchmark JVM failed (exit {code})")
    with open(out) as f:
        result = json.load(f)
    attempted, failed = int(result["attempted"]), int(result["failed"])
    evidence = {k: v for k, v in result.items() if k not in ("metrics", "catalog_check")}
    if "catalog_check" in result:
        bad = oracle_check(result, sf_dir)
        ops = result["catalog_check"]["ops"]
        # Every op of a query whose checked output is wrong is wrong too.
        failed += sum(ops[q][0] - ops[q][1] for q in bad if q in ops)
        evidence["oracle_failures"] = bad
    evidence.update({
        "source_sha256": tree, "heap_mb": heap_mb(), "wall_s": round(time.time() - t0, 3),
        "loadavg_1m_before": load0, "loadavg_1m_after": loadavg_1m(),
        "steal_s": round(steal_s() - steal0, 2), "attempted": attempted, "failed": failed})
    results = os.path.join(target, "results")
    os.makedirs(results, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = os.path.join(results, f"{stamp}-{a.workload}-s{a.seed}-t{a.trace}")
    with open(name + ".json", "w") as f:
        json.dump({"evidence": evidence, "metrics": result["metrics"]}, f, indent=1)
    if os.path.exists(os.path.join(work, "spans.jsonl")):
        os.replace(os.path.join(work, "spans.jsonl"), name + "-spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    print("evidence " + json.dumps(evidence, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result["metrics"]}))


def self_test():
    """Statistics and answer checks (Scala), and the catalog comparison
    rejecting a corrupted answer (Python)."""
    classes, _ = build.build(os.getcwd(), target_dir())
    r = subprocess.run(java_cmd(classes, "perfbench.SelfTest", []))
    check = repo_check()
    import pandas as pd
    good = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, None]})
    bad = good.copy()
    bad.loc[1, "v"] = 1.2500000000000002
    ok = (not check.compare("t", good, good.iloc[::-1].reset_index(drop=True))
          and check.compare("t", bad, good) and check.compare("t", good.iloc[:2], good))
    print(("ok  " if ok else "FAIL") + " catalog comparison rejects a corrupted or missing value")
    sys.exit(0 if r.returncode == 0 and ok else 1)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    if a.self_test:
        self_test()
    elif not a.workload:
        p.error("--workload is required")
    else:
        run(a)


if __name__ == "__main__":
    main()
