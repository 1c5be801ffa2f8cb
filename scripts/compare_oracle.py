#!/usr/bin/env python3
"""Local dev mimic of the driver's DuckDB-oracle compare.

Usage: python3 scripts/compare_oracle.py <sfDir> <verifyOutDir>

For each query in <verifyOutDir>/oracle_sql.json:
  - read the Spark result parquet at <verifyOutDir>/<name>/
  - run the oracle SQL in DuckDB with one view per corpus table
  - sort columns by name, sort rows, compare row count / schema / values

After the summary it prints the 10 queries whose DuckDB work (reads,
oracle SQL, type checks) took longest, one `SLOW <name> <seconds>` line
each.
"""
import json
import math
import os
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append(f"{v!r}")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # Names that THREW in the producing Verify run: hard-fail them even
    # when a stale dump from an earlier full run still sits in out_dir —
    # comparing the stale parquet would green a query that no longer runs.
    verify_failed = set()
    marker = f"{out_dir}/_verify_failed.json"
    if os.path.isfile(marker):
        verify_failed = set(json.load(open(marker)))
    n_pass = n_fail = n_skip = 0
    seconds = {}
    for name, sql in sorted(oracle.items()):
        if name in verify_failed:
            print(f"FAIL {name}: query FAILED in the producing Verify run "
                  "(see its stderr); any dump present is stale")
            n_fail += 1
            continue
        # A partial Verify run (SPARK_GRAFT_VERIFY_ONLY=...) dumps only
        # the selected queries; compare what was dumped, skip the rest.
        if not os.path.isdir(f"{out_dir}/{name}"):
            n_skip += 1
            continue
        started = time.perf_counter()
        try:
            spark_rel = con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            spark_cols = sorted(spark_rel.columns)
            spark_rows = canon(con.sql(
                "SELECT " + ", ".join(f'"{c}"' for c in spark_cols) +
                f" FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchall())
            duck_rel = con.sql(sql)
            duck_cols = sorted(duck_rel.columns)
            duck_rows = canon(con.sql(
                "SELECT " + ", ".join(f'"{c}"' for c in duck_cols) +
                f" FROM ({sql})").fetchall())
        except Exception as e:
            print(f"FAIL {name}: exception {e}")
            n_fail += 1
            seconds[name] = time.perf_counter() - started
            continue
        ok = True
        # Reset per query: the boundary-policy gate below reads duck_types,
        # and without this a DESCRIBE failure would either NameError the
        # whole run (first query) or silently gate THIS query against the
        # PREVIOUS query's schema (loop-scope leakage).
        duck_types = {}
        type_check_ok = False
        # The driver's hash compare is TYPE-sensitive: DuckDB SUM(int) ->
        # HUGEINT vs Spark BIGINT fails it even when values stringify the
        # same. Compare dtypes per column and fail on numeric-width diffs.
        try:
            spark_types = dict(zip(
                con.sql(f"DESCRIBE SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()["column_name"],
                con.sql(f"DESCRIBE SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()["column_type"]))
            duck_types = dict(zip(
                con.sql(f"DESCRIBE ({sql})").fetchdf()["column_name"],
                con.sql(f"DESCRIBE ({sql})").fetchdf()["column_type"]))
            numeric = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                       "FLOAT", "DOUBLE"}
            for c in spark_cols:
                st, dt = spark_types.get(c), duck_types.get(c)
                if st != dt and (st in numeric or dt in numeric
                                 or (st or "").startswith("DECIMAL")
                                 or (dt or "").startswith("DECIMAL")):
                    print(f"FAIL {name}: type mismatch on '{c}': spark={st} duck={dt}")
                    ok = False
                elif st != dt:
                    print(f"WARN {name}: type diff on '{c}': spark={st} duck={dt}")
            type_check_ok = True
        except Exception as e:
            # r12 advisor: a DESCRIBE failure used to leave duck_types={}
            # and the decimal-boundary gate below silently no-oped — the
            # exact class of miss the gate exists to catch. An unverifiable
            # boundary is a FAIL, not a WARN.
            print(f"FAIL {name}: type check errored (boundary policy "
                  f"unverifiable): {e}")
        seconds[name] = time.perf_counter() - started
        if spark_cols != duck_cols:
            print(f"FAIL {name}: columns spark={spark_cols} duck={duck_cols}")
            ok = False
        elif len(spark_rows) != len(duck_rows):
            print(f"FAIL {name}: rows spark={len(spark_rows)} duck={len(duck_rows)}")
            ok = False
        elif spark_rows != duck_rows:
            bad = [(a, b) for a, b in zip(spark_rows, duck_rows) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {bad}")
            ok = False
        # Boundary-type policy gate (round-11 verdict): the driver's hash
        # red-flagged EVERY decimal probe (h01-h04, all four precisions;
        # only the DOUBLE+BIGINT control h05 greened), so the repo policy
        # is NO DECIMAL at any result boundary — BIGINT e-units,
        # string-crossed DOUBLE, or STRING; DECIMAL stays a compute-only
        # type. Enforce the policy HERE so a future decimal boundary
        # fails the local gate immediately instead of surfacing as an
        # unexplained driver hash-red a round later. This also replaces
        # the round-11 per-value hazard re-query (one full extra oracle
        # execution per decimal-bounded query): with zero decimal
        # boundaries allowed, there is nothing left to value-scan.
        # h* probes are EXEMPT: they exist to carry decimal values into
        # the driver's compare on purpose.
        if ok and not name.startswith("h0"):
            if not type_check_ok:
                ok = False  # FAIL already printed by the except above
            dec_cols = [c for c in duck_cols
                        if (duck_types.get(c) or "").startswith("DECIMAL")]
            if dec_cols:
                print(f"FAIL {name}: DECIMAL at result boundary "
                      f"({', '.join(dec_cols)}) — policy since r11: no "
                      "DECIMAL leaves any result boundary (driver hash "
                      "red-flagged all four decimal probes); emit BIGINT "
                      "e-units, a string-crossed DOUBLE, or STRING")
                ok = False
        if ok:
            print(f"PASS {name} ({len(spark_rows)} rows)")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail" + (f", {n_skip} skipped (not dumped)" if n_skip else ""))
    for name, s in sorted(seconds.items(), key=lambda kv: -kv[1])[:10]:
        print(f"SLOW {name} {s:.2f}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
