#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool, not product code).

Usage: after `sbt "runMain graft.Verify <sfdir> <outdir>"`, run
    python3 tools/oracle_check.py <sfdir> <outdir> [query ...]

For each query: loads <outdir>/<name> parquet (Spark result), runs the
oracle SQL from <outdir>/oracle_sql.json in DuckDB against views named
after every parquet table in <sfdir>, sorts columns by name, sorts rows,
and compares row count, schema, and a value hash.

Besides the PASS/FAIL stdout lines, writes a CORRECTNESS-shaped JSON
artifact (<outdir>/correctness.json): {"qNN": {"rows_match": bool,
"schema_match": bool, "hash_match": bool, "err": str|None}} — a
machine-readable record of the gate that survives even when the
driver's own artifact does not land.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def value_hash(df: pd.DataFrame) -> str:
    import hashlib
    h = hashlib.sha256()
    for col in df.columns:
        s = df[col]
        h.update(col.encode())
        for v in s:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                h.update(b"<null>")
            elif isinstance(v, float):
                h.update(repr(v).encode())
            else:
                h.update(str(v).encode())
    return h.hexdigest()

def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for p in glob.glob(f"{sfdir}/*.parquet"):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    # A selective Verify run writes a manifest of the queries it actually
    # produced; without an explicit CLI list, restrict to it so stale
    # parquet from earlier runs is never validated against current SQL.
    manifest_path = f"{outdir}/verify_manifest.json"
    if not only and os.path.exists(manifest_path):
        ran = set(json.load(open(manifest_path)))
        skipped = sorted(set(oracle) - ran)
        if skipped:
            print(f"NOTE: {len(skipped)} queries not in this run's manifest "
                  f"(stale/absent), skipping: {', '.join(skipped[:6])}"
                  + (" ..." if len(skipped) > 6 else ""))
        if not ran:
            # An empty manifest (selective run matching nothing) must not
            # fall through to "validate everything" — there is nothing
            # from this run to check.
            print("NOTE: manifest is empty; nothing to validate")
            sys.exit(0)
        only = ran
    failures = 0
    record = {}
    # A requested query with no oracle entry is an error, not a silent
    # skip: a mistyped gate name must not "pass".
    for name in sorted(only - set(oracle)):
        failures += 1
        record[name] = {"rows_match": False, "schema_match": False,
                        "hash_match": False, "err": "no oracle entry"}
        print(f"ERROR {name}: no oracle entry")
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            spark_df = con.execute(
                f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')").fetchdf()
            oracle_df = con.execute(sql).fetchdf()
            s, o = canon(spark_df), canon(oracle_df)
            rows = len(s) == len(o)
            schema = list(s.columns) == list(o.columns)
            h = value_hash(s) == value_hash(o) if rows and schema else False
            ok = rows and schema and h
            record[name] = {"rows_match": rows, "schema_match": schema,
                            "hash_match": h, "err": None}
            if not ok:
                failures += 1
                print(f"FAIL {name}: rows {len(s)} vs {len(o)}, "
                      f"schema {list(s.columns)} vs {list(o.columns)}, hash={h}")
                if rows and schema and not h:
                    for c in s.columns:
                        if not s[c].equals(o[c]):
                            diff = (s[c] != o[c])
                            print(f"  col {c}: {int(diff.sum())} differing rows; "
                                  f"first: spark={s[c][diff].iloc[0]!r} oracle={o[c][diff].iloc[0]!r}")
            else:
                print(f"PASS {name} ({len(s)} rows)")
        except Exception as e:
            failures += 1
            record[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "err": str(e)}
            print(f"ERROR {name}: {e}")
    with open(f"{outdir}/correctness.json", "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main()
