#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

For each query result in the graft.Verify dump: run its oracle SQL (from
oracle_sql.json) in DuckDB over the parquet tables in sfDir, load the
Spark result parquet, sort columns by name, and compare values (exact
string repr after normalization, order-insensitive). Prints one
PASS/FAIL line per oracled query and exits 1 if any failed.

It also writes <verifyOutDir>/correctness.json in the CORRECTNESS_r<N>.json
shape, one entry per query: {rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err}. Rows-only queries (no oracle SQL) carry
err "no_oracle" and their Spark row count.
"""
import glob
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_sig(df):
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in row)
            for row in df[cols].itertuples(index=False, name=None)]
    return cols, rows


def compare(con, res_dir, sql):
    """One query's correctness.json entry, plus why it failed (or None)."""
    entry = {"rows_match": None, "schema_match": None, "hash_match": None,
             "spark_rows": None, "oracle_rows": None, "err": None}
    files = glob.glob(os.path.join(res_dir, "*.parquet"))
    if not files:
        entry["err"] = "no_spark_result"
        return entry, "no spark result"
    try:
        spark_df = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    except Exception as e:  # noqa: BLE001 - recorded, not raised
        entry["err"] = f"spark_read: {e}"
        return entry, entry["err"]
    entry["spark_rows"] = len(spark_df)
    if not sql:
        entry["err"] = "no_oracle"
        return entry, None
    try:
        oracle_df = con.execute(sql).fetchdf()
    except Exception as e:  # noqa: BLE001
        entry["err"] = f"oracle: {e}"
        return entry, entry["err"]
    entry["oracle_rows"] = len(oracle_df)
    sc, sr = frame_sig(spark_df)
    oc, orows = frame_sig(oracle_df)
    entry["rows_match"] = len(sr) == len(orows)
    entry["schema_match"] = sc == oc
    entry["hash_match"] = (entry["rows_match"] and entry["schema_match"]
                           and sorted(sr) == sorted(orows))
    if not entry["schema_match"]:
        return entry, f"cols spark={sc} oracle={oc}"
    if not entry["rows_match"]:
        return entry, f"rows spark={len(sr)} oracle={len(orows)}"
    if not entry["hash_match"]:
        bad = [(a, b) for a, b in zip(sorted(sr), sorted(orows)) if a != b][:3]
        return entry, f"value mismatch, first diffs: {bad}"
    return entry, None


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    dumped = {d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d))}
    result = {}
    n_pass = n_fail = 0
    for name in sorted(dumped | set(oracles)):
        if only and name not in only:
            continue
        entry, why = compare(con, os.path.join(out_dir, name), oracles.get(name))
        result[name] = entry
        if why:
            print(f"FAIL {name}: {why}")
            n_fail += 1
        elif entry["err"] is None:
            print(f"PASS {name} ({entry['spark_rows']} rows)")
            n_pass += 1
    out_json = os.path.join(out_dir, "correctness.json")
    with open(out_json, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    rows_only = sum(1 for e in result.values() if e["err"] == "no_oracle")
    print(f"wrote {out_json}: {len(result)} queries, {rows_only} rows-only")
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
