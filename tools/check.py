#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev feedback loop only —
the shipped Scala library does not depend on this).

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

Reads each <verifyOutDir>/<name> parquet (Spark result), runs the matching
oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over the sfDir
tables (a table whose parquet file is absent is skipped), sorts columns by
name and rows by all columns, and compares values exactly. Query names, if
given, restrict the check to those entries. Each entry's verdict is written
to <verifyOutDir>/correctness.json in the driver's CORRECTNESS shape
(rows_match / schema_match / hash_match / spark_rows / oracle_rows / err).
Exits non-zero if any checked entry fails.
"""
import json, math, os, platform, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "partsupp",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(rows, cols):
    # sort columns by name, then rows by stringified values
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(r[i] for i in order))
    return [cols[i] for i in order], sorted(out, key=lambda t: tuple(map(repr, t)))

def eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b

def describe_types(con, sql):
    """Column -> DuckDB type string for a query, via binder-only DESCRIBE."""
    return {r[0]: r[1] for r in con.execute("DESCRIBE " + sql).fetchall()}

def lint_types(con, out_dir, name, sql):
    """Oracle output-type lint (round-14, VERDICT r13 item 2): the round-13
    bitext reds were value-equal rows whose oracle column was HUGEINT —
    DuckDB 1.0.0 serializes HUGEINT as float64 (pandas) / decimal128
    (Arrow), so a typed harness sees a hash skew that this script's
    fetchall() compare (plain Python ints) structurally cannot. Fail any
    oracle emitting HUGEINT/UHUGEINT, and any DECIMAL output column whose
    Spark parquet column is not itself decimal (bare sum() over BIGINT and
    INTEGER-literal CASE branches are the two known widening paths)."""
    otypes = describe_types(con, sql)
    stypes = describe_types(
        con, f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
    errs = []
    for c, t in otypes.items():
        tu = t.upper()
        if "HUGEINT" in tu:
            errs.append(f"{c}: oracle {t}")
        elif tu.startswith("DECIMAL") and \
                not stypes.get(c, "").upper().startswith("DECIMAL"):
            errs.append(f"{c}: oracle {t} vs spark {stypes.get(c)}")
    return errs

def check(con, out_dir, name, sql):
    """One entry's verdict record."""
    r = {"rows_match": False, "schema_match": False, "hash_match": False,
         "err": None}
    if sql is None:
        r["err"] = "no oracle SQL"
        return r
    if not os.path.isdir(f"{out_dir}/{name}"):
        r["err"] = "no spark output"
        return r
    try:
        got = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        exp = con.execute(sql)
        ecols = [d[0] for d in exp.description]
        erows = exp.fetchall()
    except Exception as e:
        r["err"] = f"exec error: {type(e).__name__}: {e}"[:400]
        return r
    gc, gr = canon(grows, gcols)
    ec, er = canon(erows, ecols)
    r["spark_rows"], r["oracle_rows"] = len(gr), len(er)
    r["rows_match"] = len(gr) == len(er)
    r["schema_match"] = gc == ec
    if not r["schema_match"]:
        r["err"] = f"schema mismatch spark={gc} oracle={ec}"
        return r
    if not r["rows_match"]:
        r["err"] = f"rowcount spark={len(gr)} oracle={len(er)}"
        return r
    for i, (a, b) in enumerate(zip(gr, er)):
        if not all(eq(x, y) for x, y in zip(a, b)):
            r["err"] = f"row {i} spark={a} oracle={b}"
            return r
    # value-equal rows can still hash differently in a typed harness
    try:
        terrs = lint_types(con, out_dir, name, sql)
    except Exception as e:
        terrs = [f"lint error: {e}"]
    if terrs:
        r["err"] = f"oracle type lint: {terrs}"
        return r
    r["hash_match"] = True
    return r

def main(sf_dir, out_dir, only):
    print(f"oracle env: duckdb={duckdb.__version__} "
          f"python={platform.python_version()} {platform.platform()}")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name in sorted(only or oracle):
        r = results[name] = check(con, out_dir, name, oracle.get(name))
        if r["hash_match"]:
            print(f"PASS {name} ({r['spark_rows']} rows)")
        else:
            print(f"FAIL {name}: {r['err']}")
    with open(f"{out_dir}/correctness.json", "w") as f:
        json.dump(results, f, indent=1)
    npass = sum(r["hash_match"] for r in results.values())
    print(f"== {npass} pass / {len(results) - npass} fail")
    return 1 if npass < len(results) else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], set(sys.argv[3:])))
