#!/usr/bin/env python3
"""Local pre-flight of the driver's correctness gate.

Usage: python3 tools/check_correctness.py <sfDir> <verifyOutDir>

Assumes graft.Verify has already been run:
  sbt "runMain graft.Verify <sfDir> <verifyOutDir>"
Then for each oracle_sql.json entry, runs the SQL in DuckDB over views of
the sfDir parquet tables and compares against our parquet dump (rows sorted
by all columns, exact value equality).

Dev tool only — the engine itself has no Python dependency.
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        # distinguish -0.0/0.0 identical; NaNs equal to themselves
        if v != v:
            return "NaN"
        return v
    return v


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    # same filter semantics as graft.Verify: only check queries
    # whose name starts with SPARK_GRAFT_ONLY (comma-separable)
    only = [p for p in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if p]
    if only:
        oracles = {k: v for k, v in oracles.items()
                   if any(k.startswith(p) for p in only)}
    n_pass = n_fail = 0
    for name in sorted(oracles):
        sql = oracles[name]
        try:
            exp = con.execute(sql).fetch_arrow_table()
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetch_arrow_table()
            ecols = sorted(exp.column_names)
            gcols = sorted(got.column_names)
            if ecols != gcols:
                print(f"FAIL {name}: columns exp={ecols} got={gcols}")
                n_fail += 1
                continue
            # Type-level compare: the driver's hash is type-sensitive
            # (DuckDB HUGEINT -> arrow decimal128 hash-mismatches a Spark
            # int64 even when every value is equal — the exact r3 q183/
            # q223/q224 failure). Python == hides that, so check schemas.
            tdiff = {c: (str(exp.schema.field(c).type),
                         str(got.schema.field(c).type))
                     for c in ecols
                     if exp.schema.field(c).type != got.schema.field(c).type}
            if tdiff:
                print(f"FAIL {name}: arrow types differ {tdiff}")
                n_fail += 1
                continue
            def rows(tbl, cols):
                return sorted(
                    (tuple(norm(d[c]) for c in cols) for d in tbl.to_pylist()),
                    key=repr)
            erows = rows(exp, ecols)
            grows = rows(got, gcols)
            if len(erows) != len(grows):
                print(f"FAIL {name}: rowcount exp={len(erows)} got={len(grows)}")
                n_fail += 1
                continue
            bad = [(i, a, b) for i, (a, b) in enumerate(zip(erows, grows))
                   if a != b]
            if bad:
                i, a, b = bad[0]
                print(f"FAIL {name}: {len(bad)}/{len(erows)} rows differ; "
                      f"first at {i}:\n  exp={a}\n  got={b}")
                n_fail += 1
            else:
                print(f"PASS {name} ({len(erows)} rows)")
                n_pass += 1
        except Exception as e:
            print(f"ERROR {name}: {e}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
