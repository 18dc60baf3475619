#!/usr/bin/env python3
"""Dev-only oracle parity harness (mirrors the driver's t2 check).

Usage: python3 dev/compare.py <sfDir> <verifyOutDir> [name,name,...]

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs the
matching oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over the
testdata parquet tables, canonicalizes both sides (columns sorted by name,
rows sorted), and reports row/schema/value match per query. The optional
third argument (the comma list given to a targeted `graft.Verify`) compares
exactly those entries; a listed entry with no engine output still fails. Not
part of the shipped library — pre-validates the correctness gate during
development.
"""
import glob
import json
import math
import os
import sys

import duckdb

# The oracle dialect (graft.ops.Dialect and every oracleSql entry) is
# written against and dev-verified on THIS DuckDB version. A skew between
# the dev gate's duckdb and this pin must fail HERE, in dev, not surface
# as an unexplained red row in the driver's correctness report (the
# q207_kmeans_train r13 lesson). Bump the pin only after re-running the
# full battery compare on the new version.
PINNED_DUCKDB = "1.0.0"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = repr(v)
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out), [cols[i] for i in order]


def main(sf_dir, out_dir, names=None):
    if duckdb.__version__ != PINNED_DUCKDB:
        print(f"FATAL: duckdb {duckdb.__version__} != pinned "
              f"{PINNED_DUCKDB}; the oracle dialect is verified against "
              f"the pin — re-validate the full battery before bumping.")
        return 2
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata is one file per table; DevMakeSf1 output is a
        # Spark-style directory of part files — glob accordingly
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(names.split(",") if names else oracle):
        if name not in oracle:
            print(f"FAIL {name}: no oracle SQL")
            n_fail += 1
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no engine output")
            n_fail += 1
            continue
        rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        got_cols = list(rel.columns)
        # DBAPI description collapses all numerics to 'NUMBER'; the relation
        # API exposes real logical types (HUGEINT vs BIGINT etc.), matching
        # the driver's type-sensitive hash check.
        got_types = dict(zip(rel.columns, map(str, rel.types)))
        got = rel.fetchall()
        try:
            erel = con.sql(oracle[name])
            exp_cols = list(erel.columns)
            exp_types = dict(zip(erel.columns, map(str, erel.types)))
            exp = erel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        g_rows, g_cols = canon(got, got_cols)
        e_rows, e_cols = canon(exp, exp_cols)
        if g_cols != e_cols:
            print(f"FAIL {name}: cols {g_cols} != {e_cols}")
            n_fail += 1
        elif got_types != exp_types:
            # The driver's hash check is type-sensitive (e.g. DuckDB SUM over
            # BIGINT yields HUGEINT != Spark BIGINT even when values match).
            bad = {c: (got_types[c], exp_types[c]) for c in got_types
                   if got_types[c] != exp_types[c]}
            print(f"FAIL {name}: column types differ (engine, oracle): {bad}")
            n_fail += 1
        elif g_rows != e_rows:
            diff = [(a, b) for a, b in zip(g_rows, e_rows) if a != b][:3]
            print(f"FAIL {name}: rows {len(g_rows)} vs {len(e_rows)};"
                  f" first diffs: {diff}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g_rows)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
