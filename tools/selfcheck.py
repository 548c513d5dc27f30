#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB against the sf parquet tables and compare with the parquet that
graft.Verify dumped. Column order is normalized by sorting column names.

The comparison is dtype-strict, mirroring the driver's hash: an int64 Spark
column against a float64 oracle column (e.g. DuckDB HUGEINT sum widened to
float) FAILS even when every value is numerically equal — that is exactly
the q42/q43 round-3 miss the old tolerance-based compare let through.

`--same-as <otherVerifyOutDir>` compares every output of two graft.Verify
runs instead (a refactor's before/after, or one commit at two core counts):
each output hashes as sha256 over its schema (column names and types in
order; nullability flags are left out) plus its rows sorted, and any
output that differs or exists in only one run fails. Given an sfDir as well,
both checks run.
Usage:

    python3 tools/selfcheck.py <sfDir> <verifyOutDir>
    python3 tools/selfcheck.py [<sfDir>] <verifyOutDir> --same-as <otherVerifyOutDir>
"""
import argparse
import glob
import hashlib
import json
import math
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def cmp_frames(name, spark_df, duck_df):
    errs = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return [f"columns differ: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"]
    if len(spark_df) != len(duck_df):
        return [f"row count differs: spark={len(spark_df)} duck={len(duck_df)}"]
    a, b = norm(spark_df), norm(duck_df)
    for c in a.columns:
        ka, kb = a[c].dtype.kind, b[c].dtype.kind
        # Strict like the driver's hash: int-vs-float (or any numeric kind
        # mismatch) is a failure even when the values agree. 'O' (object,
        # e.g. decimal/str/None-holding) is compared value-wise below.
        if ka != kb and "O" not in (ka, kb):
            errs.append(
                f"col {c} dtype kind differs: spark={a[c].dtype} duck={b[c].dtype}")
    if errs:
        return errs
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if x is None and y is None:
                continue
            xf = isinstance(x, float) or isinstance(y, float)
            if xf:
                x = float("nan") if x is None else float(x)
                y = float("nan") if y is None else float(y)
                if math.isnan(x) and math.isnan(y):
                    continue
                if abs(x - y) > 1e-9 * max(1.0, abs(x), abs(y)):
                    errs.append(f"col {c} row {i}: spark={x} duck={y}")
                    break
            elif str(x) != str(y):
                errs.append(f"col {c} row {i}: spark={x!r} duck={y!r}")
                break
    return errs


def output_hashes(out_dir):
    """{query: sha256 over schema plus sorted rows} for one Verify run."""
    hashes = {}
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        files = sorted(glob.glob(f"{d}*.parquet"))
        if not files:
            continue
        tables = [pq.read_table(f) for f in files]
        schema = tables[0].schema
        h = hashlib.sha256()
        for field in schema:
            h.update(f"{field.name}:{field.type}\n".encode())
        rows = sorted(repr(tuple(r.values()))
                      for t in tables for r in t.to_pylist())
        for r in rows:
            h.update(r.encode() + b"\n")
        hashes[d.rstrip("/").split("/")[-1]] = h.hexdigest()
    return hashes


def same_as(out_dir, other_dir):
    """Print one line per output that differs or exists in only one run;
    return the number of such outputs."""
    mine, theirs = output_hashes(out_dir), output_hashes(other_dir)
    n_same = n_bad = 0
    for name in sorted(set(mine) | set(theirs)):
        if name not in mine or name not in theirs:
            where = out_dir if name not in mine else other_dir
            print(f"MISSING {name}: no output in {where}")
            n_bad += 1
        elif mine[name] != theirs[name]:
            print(f"DIFFER {name}: {mine[name][:16]} vs {theirs[name][:16]}")
            n_bad += 1
        else:
            n_same += 1
    print(f"\n{n_same} identical, {n_bad} differing or missing")
    return n_bad


def oracle_check(sf_dir, out_dir):
    """Compare each Verify output with its DuckDB oracle; return the number
    of failures."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    produced = {p.rstrip("/").split("/")[-1]
                for p in glob.glob(f"{out_dir}/*/")}
    n_pass = n_fail = 0
    for name in sorted(produced):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no parquet output")
            n_fail += 1
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        if name not in oracle:
            print(f"ROWS {name}: no oracle, rows={len(spark_df)}")
            continue
        try:
            duck_df = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        errs = cmp_frames(name, spark_df, duck_df)
        if errs:
            print(f"FAIL {name}: " + "; ".join(errs[:3]))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(spark_df)} rows)")
            n_pass += 1
    missing = set(oracle) - produced
    for m in sorted(missing):
        print(f"FAIL {m}: oracle present but no spark output")
        n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, "
          f"{len(produced - set(oracle))} rows-only")
    return n_fail


def main():
    ap = argparse.ArgumentParser(
        usage="%(prog)s [sfDir] verifyOutDir [--same-as otherVerifyOutDir]")
    ap.add_argument("dirs", nargs="+", help=argparse.SUPPRESS)
    ap.add_argument("--same-as", metavar="otherVerifyOutDir")
    args = ap.parse_args()
    if len(args.dirs) > 2 or (len(args.dirs) == 1 and not args.same_as):
        ap.error("expected sfDir and verifyOutDir, or --same-as")
    n_bad = 0
    if len(args.dirs) == 2:
        n_bad += oracle_check(*args.dirs)
    if args.same_as:
        n_bad += same_as(args.dirs[-1], args.same_as)
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
