#!/usr/bin/env python3
"""DEV-ONLY local replica of the driver's DuckDB correctness gate.

Not part of the shipped library (the engine is pure Scala/Spark). Runs each
oracle SQL from Verify's oracle_sql.json in DuckDB over the same parquet
tables, loads the corresponding Spark parquet output, sorts columns by name
and rows by all values, and compares cell-by-cell.

DTYPE-STRICT, calibrated to the driver's observed behavior. The driver
reads the Spark side with pandas/pyarrow and the oracle through DuckDB's
pandas converter, then hashes — so this replica uses the SAME two
converters (pd.read_parquet vs .df()) instead of reading both sides
through DuckDB, and compares per-column dtype CLASSES (int / float / bool
/ datetime / object) before any value comparison:

- integer WIDTH does not matter: 20+ round-5 queries hash-matched with
  Spark int32 against oracle int64 — a width-strict check would flag
  queries the driver provably passes;
- int vs float DOES matter: round 5's ext_sessionize (Spark int64 vs
  oracle HUGEINT -> float64) hash-failed on value-identical cells;
- decimal DOES matter: pyarrow surfaces Spark decimal columns as Python
  Decimal objects while DuckDB's converter gives float64 — round 5's
  ext_tfidf_topk hash-failed on value-identical cells. Verify.scala now
  canonicalizes gate outputs (decimal -> double, narrow ints -> bigint)
  so this class can't reach the driver at all.

The previous fetchall()-based compare normalized all numerics to Python
scalars where 3 == 3.0, and let exactly these classes of drift through
(they cost rounds 4 and 5 one red gate row each).

A gate Verify lists in errors.json (it threw) counts as a failure:
`FAIL <gate>: crashed: <Class: message>`.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>
"""
import json
import math
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Gates whose result is empty BY CONTRACT (everything else that compares
# empty-vs-empty is flagged as a vacuous pass).
EMPTY_OK = {"f5_zero_row_guard"}

DTYPE_CLASS = {"i": "int", "u": "int", "f": "float", "b": "bool",
               "M": "datetime", "m": "timedelta"}


def dclass(dtype):
    return DTYPE_CLASS.get(dtype.kind, "object")


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def key(row):
    return tuple((x is None, str(x)) for x in row)


def prep(df):
    """(rows, cols, dtype-classes) with columns reordered by sorted name."""
    cols = sorted(df.columns)
    df = df[cols]
    classes = [dclass(df[c].dtype) for c in cols]
    rows = [tuple(norm(x) for x in r)
            for r in df.itertuples(index=False, name=None)]
    return rows, cols, classes


def compare(name, spark, duck):
    spark_rows, spark_cols, spark_dt = spark
    duck_rows, duck_cols, duck_dt = duck
    if spark_cols != duck_cols:
        return f"SCHEMA: spark={spark_cols} duck={duck_cols}"
    dt_diffs = [f"{c}: spark={a} duck={b}"
                for c, a, b in zip(spark_cols, spark_dt, duck_dt) if a != b]
    if dt_diffs:
        return "DTYPE: " + "; ".join(dt_diffs)
    s = sorted(spark_rows, key=key)
    d = sorted(duck_rows, key=key)
    if len(s) != len(d):
        return f"ROWS: spark={len(s)} duck={len(d)}"
    for i, (a, b) in enumerate(zip(s, d)):
        if a != b:
            # report first few diffs with tolerance info for floats
            diffs = []
            for j, (x, y) in enumerate(zip(a, b)):
                if x != y:
                    tol = ""
                    if isinstance(x, float) and isinstance(y, float):
                        tol = f" (relerr={abs(x - y) / max(abs(x), abs(y), 1e-300):.2e})"
                    diffs.append(f"col {spark_cols[j]}: {x!r} vs {y!r}{tol}")
            return f"VALUE mismatch at sorted row {i}: " + "; ".join(diffs[:4])
    return None


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    failed = []
    import os
    crashed = {}
    if os.path.exists(f"{out_dir}/errors.json"):
        with open(f"{out_dir}/errors.json") as f:
            crashed = json.load(f)
    for name, err in sorted(crashed.items()):
        failed.append(name)
        print(f"FAIL {name}: crashed: {err}")
    declared = sorted(d for d in os.listdir(out_dir)
                      if os.path.isdir(f"{out_dir}/{d}") and d not in crashed)
    for name in declared:
        try:
            spark = prep(pd.read_parquet(f"{out_dir}/{name}"))
        except Exception as e:
            failed.append(name)
            print(f"FAIL {name}: cannot read spark output: {e}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle ({len(spark[0])} rows, rows-only check: "
                  f"{'ok' if spark[0] else 'EMPTY'})")
            if not spark[0]:
                failed.append(name)
            continue
        try:
            duck = prep(con.execute(oracles[name]).df())
        except Exception as e:
            failed.append(name)
            print(f"FAIL {name}: oracle error: {e}")
            continue
        err = compare(name, spark, duck)
        if err:
            failed.append(name)
            print(f"FAIL {name}: {err}")
        elif not spark[0] and name not in EMPTY_OK:
            # 0 == 0 is a VACUOUS pass: the gate compared nothing, so the
            # operators it claims to verify never ran on data (round 7's
            # ext_curation_e2e shipped green this way). Gates that are
            # empty BY CONTRACT must be allowlisted in EMPTY_OK.
            failed.append(name)
            print(f"FAIL {name}: vacuous (0 rows on both sides)")
        else:
            print(f"PASS {name} ({len(spark[0])} rows)")
    total = len(declared) + len(crashed)
    print(f"\n{total - len(failed)}/{total} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
