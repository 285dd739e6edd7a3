"""DuckDB oracle check of the registry queries a run saved: each
`<out>/oracle/<name>.parquet` (graft's result) is compared with
`<name>.sql` (SparkEntry.oracleSql) run by DuckDB over the same
generated tables. Rows are compared as sorted tuples; floats to 6
significant decimals.
"""
import glob
import math
import os

import duckdb
import pyarrow.parquet as pq


def canon(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def rows(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, sorted((tuple(canon(x) for x in r) for r in zip(*data)), key=repr)


def check(out, data):
    """Returns (matched, mismatched, notes)."""
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    ok, bad, notes = 0, 0, []
    for sql_file in sorted(glob.glob(os.path.join(out, "oracle", "*.sql"))):
        name = os.path.basename(sql_file)[:-len(".sql")]
        with open(sql_file) as f:
            sql = f.read()
        try:
            want = rows(con.sql(sql).arrow())
            got = rows(pq.read_table(os.path.join(out, "oracle", f"{name}.parquet")))
            same = want == got
        except Exception as e:  # an oracle that cannot run is a failed check
            same, notes = False, notes + [f"{name}: {e}"]
        if same:
            ok += 1
        else:
            bad += 1
            notes.append(f"{name}: result differs from its DuckDB oracle")
    return ok, bad, notes
