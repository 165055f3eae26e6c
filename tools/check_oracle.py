#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [--json <artifact>]

--json writes the per-query result map as a committable artifact
({"passed": N, "failed": N, "queries": {name: "pass (R rows)" | "FAIL: why"}})
— the close-out ritual commits it as correctness_rN_final.json so a
driver-side artifact failure can never zero the round's correctness signal.

Reads each <verifyOutDir>/<query> parquet produced by graft.Verify, runs the
matching oracle SQL from oracle_sql.json in DuckDB over the sfDir tables, and
compares (columns sorted by name, rows sorted by all columns, values
stringified) AND result types: the DuckDB-visible type of every column must
be identical between the Spark parquet and the oracle relation. The driver's
hash is TYPE-sensitive — DECIMAL(22,2) vs DECIMAL(38,2), or BIGINT vs
HUGEINT, hash-mismatch even when every value is equal (exactly the failure
class a stringified compare masks). Exit code 1 if any query mismatches.
"""
import glob
import json
import sys
import time

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(rows, cols):
    """Sort columns by name, stringify every value, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_val(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def check(con, out_dir, name, sql):
    """(True, row count) when the Spark result matches the oracle, else (False, why)."""
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        return False, "no spark result written"
    try:
        spark_rel = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
        s_cols, s_rows = normalize(spark_rel.fetchall(), spark_rel.columns)
        s_types = [str(t) for _, t in sorted(zip(spark_rel.columns, spark_rel.types))]
        ora_rel = con.sql(sql)
        o_cols, o_rows = normalize(ora_rel.fetchall(), ora_rel.columns)
        o_types = [str(t) for _, t in sorted(zip(ora_rel.columns, ora_rel.types))]
    except Exception as e:
        return False, f"error: {e}"
    # Gate-output lint: the driver's hasher diverges on wide DECIMALs and
    # its pandas compare crashes on array/binary/struct columns. Fail any
    # gate query emitting them, even if values happen to match locally.
    bad = [f"{c}: {t}" for c, t in zip(s_cols, s_types)
           if t.startswith(("DECIMAL", "STRUCT", "MAP", "LIST", "UNION"))
           or t.endswith("[]") or t == "BLOB"]
    if bad:
        return False, ("LINT: non-scalar/decimal output column(s) "
                       "(driver cannot hash these): " + "; ".join(bad))
    if s_cols != o_cols:
        return False, f"column mismatch: spark={s_cols} oracle={o_cols}"
    if s_types != o_types:
        diffs = [f"{c}: spark={a} oracle={b}" for c, a, b in zip(s_cols, s_types, o_types) if a != b]
        return False, "TYPE mismatch (driver hash is type-sensitive): " + "; ".join(diffs)
    if len(s_rows) != len(o_rows):
        return False, f"row count: spark={len(s_rows)} oracle={len(o_rows)}"
    if s_rows != o_rows:
        diff = next(i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b)
        return False, f"value mismatch at sorted row {diff}:\n  spark : {s_rows[diff]}\n  oracle: {o_rows[diff]}"
    return True, len(s_rows)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures, passes = [], []
    for i, (name, sql) in enumerate(sorted(oracle.items()), 1):
        t0 = time.monotonic()
        ok, detail = check(con, out_dir, name, sql)
        (passes if ok else failures).append((name, detail))
        # Progress on stderr as each query finishes: stdout, the exit code
        # and the --json artifact stay exactly the summary below.
        print(f"[{i}/{len(oracle)}] {'PASS' if ok else 'FAIL'}  {name}  {time.monotonic() - t0:.2f}s",
              file=sys.stderr, flush=True)

    for name, n in passes:
        print(f"PASS  {name} ({n} rows)")
    for name, why in failures:
        print(f"FAIL  {name}: {why}")
    print(f"\n{len(passes)} passed, {len(failures)} failed")
    if "--json" in sys.argv:
        path = sys.argv[sys.argv.index("--json") + 1]
        artifact = {
            "passed": len(passes),
            "failed": len(failures),
            "queries": dict(
                [(n, f"pass ({r} rows)") for n, r in passes]
                + [(n, f"FAIL: {w.splitlines()[0]}") for n, w in failures]),
        }
        with open(path, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        print(f"wrote {path}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
