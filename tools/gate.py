#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/gate.py [sfDir] [outDir]

Runs graft.Verify via sbt (writes each query's result parquet +
oracle_sql.json), then executes each oracle in DuckDB over the same
parquet tables and compares row count, column names and values
(column-name-sorted, like the driver's hash compare).
"""
import sys, os, json, subprocess, glob, struct
import duckdb
import pandas as pd
import pyarrow.parquet as pq

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
SKIP_RUN = os.environ.get("SKIP_RUN") == "1"
# QUERIES=a,b,c gates only the named queries: graft.Verify's optional
# name list runs just those (seconds instead of the ~10-minute full run)
ONLY = [q for q in os.environ.get("QUERIES", "").split(",") if q]

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

if not SKIP_RUN:
    r = subprocess.run(
        ["sbt", "-batch",
         f'runMain graft.Verify {SF} {OUT} {",".join(ONLY)}'.rstrip()],
        capture_output=True, text=True, cwd="/root/repo")
    sys.stdout.write("\n".join(l for l in r.stdout.splitlines()
                               if "error" in l.lower() or "failed" in l.lower()) + "\n")
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-2000:]); sys.exit(1)

con = duckdb.connect()
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
# events.ts arrives in whatever flavor the generator build emits
# (Tables.normalizeEventTs handles them all Spark-side). The oracles
# call epoch_us(ts)/epoch(ts), which ERROR on a raw BIGINT column —
# so mirror the Spark normalization here: int64 nanos -> timestamp.
ts_type = str(pq.read_schema(f"{SF}/events.parquet").field("ts").type)
if ts_type == "int64":
    con.sql(f"""CREATE OR REPLACE VIEW events AS
        SELECT * REPLACE (make_timestamp(ts // 1000) AS ts)
        FROM read_parquet('{SF}/events.parquet')""")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
if ONLY:
    oracle = {k: v for k, v in oracle.items() if k in ONLY}


def canon_type(t):
    """Canonical type label for the typed compare. The driver hashes
    TYPED results, so DuckDB sum(BIGINT)->HUGEINT (arrow decimal128)
    vs Spark BIGINT (arrow int64) must FAIL here even though the
    untyped Python values compare equal (the r9 split_train_val
    incident). Only cosmetic encodings are collapsed."""
    import pyarrow as pa
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_timestamp(t):
        return "timestamp"  # tz/unit flavors are writer artifacts
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    return str(t)


results = {}
for name, sql in sorted(oracle.items()):
    entry = {"match": False}
    try:
        dtb = con.sql(sql).arrow()
        expcols = dtb.column_names
        exp = [tuple(row[c] for c in expcols) for row in dtb.to_pylist()]
    except Exception as e:
        results[name] = {"match": False, "error": f"oracle: {e}"}
        continue
    pdir = f"{OUT}/{name}"
    files = glob.glob(f"{pdir}/*.parquet")
    if not files:
        results[name] = {"match": False, "error": "no spark output"}
        continue
    tb = pq.read_table(pdir)
    gotcols = tb.column_names
    got = [tuple(row[c] for c in gotcols) for row in tb.to_pylist()]
    gtypes = {c: canon_type(tb.schema.field(c).type) for c in gotcols}
    etypes = {c: canon_type(dtb.schema.field(c).type) for c in expcols}
    badtypes = [f"{c}: spark={gtypes[c]} duck={etypes[c]}"
                for c in sorted(set(gotcols) & set(expcols))
                if gtypes[c] != etypes[c]]
    if sorted(gotcols) != sorted(expcols):
        entry["error"] = f"cols: spark={gotcols} duck={expcols}"
    elif badtypes:
        entry["error"] = f"types: {'; '.join(badtypes)}"
    elif len(got) != len(exp):
        entry["error"] = f"rows: spark={len(got)} duck={len(exp)}"
    else:
        # driver-faithful compare, two channels the old gate missed
        # (the r9/r10 local-green/driver-red incidents):
        #  1. the driver ROW-SORTS with pandas (lexsort over
        #     name-sorted columns) before hashing — replicate it, so
        #     an array/map cell crashes HERE exactly where the
        #     driver's lexsort_indexer crashes (unhashable ndarray);
        #  2. floats are hashed TYPED, so -0.0 != +0.0 — compare
        #     IEEE bytes (struct.pack), not Python == (which treats
        #     signed zeros as equal).
        cols = sorted(gotcols)
        try:
            pd.DataFrame(
                {c: pd.Series(tb.column(c).to_pylist()) for c in cols}
            ).sort_values(by=cols, kind="mergesort")
        except Exception as e:
            results[name] = {"match": False,
                "error": f"driver-sort: {type(e).__name__}: {e}"}
            continue

        def canon_cell(v):
            if isinstance(v, float):
                return (1, struct.pack(">d", v))
            if v is None:
                return (0, b"")
            return (1, v)

        gidx = [gotcols.index(c) for c in cols]
        eidx = [expcols.index(c) for c in cols]
        try:
            gs = sorted(tuple(canon_cell(g[j]) for j in gidx) for g in got)
            es = sorted(tuple(canon_cell(e[j]) for j in eidx) for e in exp)
        except TypeError as e:
            results[name] = {"match": False,
                "error": f"driver-sort: unsortable cells: {e}"}
            continue
        bad = next(((i, a, b) for i, (a, b) in enumerate(zip(gs, es))
                    if a != b), None)
        if bad:
            entry["error"] = f"row {bad[0]}: spark={bad[1]} duck={bad[2]}"
        else:
            entry["match"] = True
            entry["rows"] = len(got)
    results[name] = entry

declared = set()
ok = sum(1 for v in results.values() if v["match"])
print(f"\n=== gate: {ok}/{len(results)} match ===")
for name, v in sorted(results.items()):
    mark = "OK " if v["match"] else "FAIL"
    extra = f" rows={v.get('rows','')}" if v["match"] else f" {v.get('error','')[:300]}"
    print(f"  {mark} {name}{extra}")
sys.exit(0 if ok == len(results) else 2)
