#!/usr/bin/env python3
"""Local pre-flight for the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> \
    [--timeout-s N] [--resume <prior-log>]

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs
the matching oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over
the same sf tables, and compares: column names (sorted), dtypes, row count,
and exact values (rows sorted by all columns). Reports per-query PASS/FAIL
plus the first differing cell. This mirrors the driver's hash compare as
closely as we can without seeing its code — exact value equality is the
bar we aim for.

--timeout-s N interrupts any single oracle query after N seconds and
records it as ORACLE-TIMEOUT (a coverage gap, not a failure — some
pair-join oracles are fine at the gate's sf but cost core-hours in
DuckDB at x10+ corpora). --resume <log> skips queries already decided
(PASS/FAIL lines) in a previous check log, so a long sweep can continue
where it stopped instead of re-paying the slow prefix.
"""
import glob
import json
import math
import os
import re
import sys
import threading

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def load_spark(out_dir, name):
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def canon(df):
    df = df[sorted(df.columns)].copy()
    # normalize list/array cells to tuples so sorting works
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple)) or
                     str(type(v).__name__) == "ndarray").any():
            df[c] = df[c].map(lambda v: tuple(v) if v is not None else None)
    df = df.sort_values(by=list(df.columns), kind="mergesort",
                        na_position="first").reset_index(drop=True)
    return df


def cells_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if bool(pd.isna(a)) != bool(pd.isna(b)):
            return False
    except (TypeError, ValueError):
        pass
    return a == b


def compare(name, spark_df, oracle_df):
    issues = []
    sc, oc = sorted(spark_df.columns), sorted(oracle_df.columns)
    if sc != oc:
        return [f"COLUMNS differ: spark={sc} oracle={oc}"]
    if len(spark_df) != len(oracle_df):
        issues.append(f"ROWCOUNT differ: spark={len(spark_df)} oracle={len(oracle_df)}")
    s, o = canon(spark_df), canon(oracle_df)
    for c in s.columns:
        if str(s[c].dtype) != str(o[c].dtype):
            issues.append(f"DTYPE {c}: spark={s[c].dtype} oracle={o[c].dtype}")
    n = min(len(s), len(o))
    bad = 0
    for c in s.columns:
        sv, ov = s[c].tolist()[:n], o[c].tolist()[:n]
        for i in range(n):
            if not cells_equal(sv[i], ov[i]):
                issues.append(f"VALUE row {i} col {c}: spark={sv[i]!r} oracle={ov[i]!r}")
                bad += 1
                break
        if bad >= 3:
            break
    return issues


def oracle_with_timeout(con, sql, timeout_s):
    """Run sql; interrupt after timeout_s (None = no limit).

    duckdb's interrupt() aborts the running query from another thread;
    the victim raises InterruptException, reported as a timeout.
    """
    if not timeout_s:
        return con.execute(sql).df()
    timer = threading.Timer(timeout_s, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).df()
    finally:
        timer.cancel()


def decided_names(log_path):
    done = set()
    with open(log_path) as f:
        for line in f:
            m = re.match(r"(PASS|FAIL) (\S+)", line)
            if m:
                done.add(m.group(2))
    return done


USAGE = ("usage: python3 tools/check.py <sfDir> <verifyOutDir> "
         "[--timeout-s N] [--resume <prior-log>]")


def usage(problem):
    print(f"check.py: {problem}\n{USAGE}", file=sys.stderr)
    sys.exit(2)


def main():
    if len(sys.argv) < 3 or sys.argv[1].startswith("--") or sys.argv[2].startswith("--"):
        usage("expected <sfDir> and <verifyOutDir>")
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    timeout_s, resume_log = None, None
    rest = sys.argv[3:]
    while rest:
        if rest[0] not in ("--timeout-s", "--resume"):
            usage(f"unknown arg {rest[0]}")
        if len(rest) < 2:
            usage(f"{rest[0]} needs a value")
        if rest[0] == "--timeout-s":
            timeout_s = float(rest[1]); rest = rest[2:]
        else:
            resume_log = rest[1]; rest = rest[2:]
    skip = decided_names(resume_log) if resume_log else set()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # ScaleGen output: a directory of part files
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)

    n_pass = n_fail = n_timeout = n_skipped = 0
    for name in sorted(oracle_sql):
        if name in skip:
            n_skipped += 1
            continue
        spark_df = load_spark(out_dir, name)
        if spark_df is None:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            oracle_df = oracle_with_timeout(con, oracle_sql[name], timeout_s)
        except duckdb.InterruptException:
            print(f"ORACLE-TIMEOUT {name} (> {timeout_s:.0f}s in DuckDB)",
                  flush=True)
            n_timeout += 1
            continue
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        issues = compare(name, spark_df, oracle_df)
        # dtype-only mismatches are warnings (driver may normalize); value
        # mismatches are hard failures.
        hard = [i for i in issues if not i.startswith("DTYPE")]
        soft = [i for i in issues if i.startswith("DTYPE")]
        if hard:
            n_fail += 1
            print(f"FAIL {name} ({len(spark_df)} rows)", flush=True)
            for i in (hard + soft)[:6]:
                print(f"     {i}")
        else:
            n_pass += 1
            tag = " [dtype-warn: " + "; ".join(soft) + "]" if soft else ""
            print(f"PASS {name} ({len(spark_df)} rows){tag}", flush=True)
    missing = [n for n in os.listdir(out_dir)
               if os.path.isdir(os.path.join(out_dir, n)) and n not in oracle_sql]
    for name in sorted(missing):
        df = load_spark(out_dir, name)
        rows = len(df) if df is not None else 0
        status = "ROWS-ONLY-OK" if rows > 0 else "ROWS-ONLY-EMPTY"
        print(f"{status} {name} ({rows} rows, no oracle)")
    extra = ""
    if n_timeout or n_skipped:
        extra = f" / {n_timeout} oracle-timeout / {n_skipped} resumed-skip"
    print(f"\n{n_pass} pass / {n_fail} fail / {len(missing)} rows-only{extra}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
