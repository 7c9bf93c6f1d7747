#!/usr/bin/env python3
"""Re-record perfbench/expected.json, the outputs the registry workload checks.

    python3 perfbench/record.py

Runs every query pinned in queries.json once on the benchmark's fixtures
and stores its row count and content hash. A query with an oracle
(`SparkEntry.oracleSql`) is stored only if its output equals what DuckDB
computes from that SQL over the same fixtures (rows sorted, columns sorted
by name, the comparison tools/oracle_check.py makes); a query without one is
stored as recorded. Run it after a change to the registry's membership, the fixture generator or a
query's intended output, and review the diff.
"""
import json
import os
import shutil
import sys

import duckdb
import numpy as np
import pandas as pd

import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object or np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got, exp):
    """"duckdb" when equal; "duckdb-tie" when the only differences are one
    unit in the 4th decimal, where the two engines round a half-way value
    of the round(x, 4) convention differently; None otherwise."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns) or len(g) != len(e):
        return None
    verdict = "duckdb"
    for c in g.columns:
        if np.issubdtype(g[c].dtype, np.floating) or np.issubdtype(e[c].dtype, np.floating):
            gv, ev = g[c].astype(float), e[c].astype(float)
            if not np.allclose(gv, ev, rtol=0, atol=0, equal_nan=True):
                if not np.allclose(gv, ev, rtol=0, atol=1.5e-4, equal_nan=True):
                    return None
                verdict = "duckdb-tie"
        elif not g[c].astype(str).equals(e[c].astype(str)):
            return None
    return verdict


def main():
    classpath = run.build()
    fx = run.fixtures()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fx}/{t}.parquet'")
    out = os.path.join(run.TARGET, "record")
    work = os.path.join(run.TARGET, "runs", "record")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    try:
        code, _ = run.run_jvm(classpath, [
            "--fixtures", fx, "--record", out, "--queries", run.QUERIES], work,
            timeout=1800)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        run.fail("recording failed")
    with open(os.path.join(out, "digests.json")) as f:
        digests = json.load(f)
    expected, bad = {}, []
    for name, d in digests.items():
        check = "recorded"
        if d["oracle"] is not None:
            got = pd.read_parquet(os.path.join(out, name))
            check = compare(got, con.execute(d["oracle"]).df())
            if check is None:
                bad.append(name)
                continue
        elif d["rows"] == 0:
            bad.append(name)
            continue
        expected[name] = {"rows": d["rows"], "hash": d["hash"], "check": check}
    if bad:
        run.fail("output differs from the DuckDB oracle (or is empty): " + ", ".join(sorted(bad)))
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")
    counts = {c: sum(v["check"] == c for v in expected.values())
              for c in ("duckdb", "duckdb-tie", "recorded")}
    print(f"recorded {len(expected)} queries: {counts}", file=sys.stderr)


if __name__ == "__main__":
    main()
