"""Correctness against the DuckDB oracle SQL each graded query carries.

Both sides are reduced to a digest under scripts/crosscheck.py's rules:
columns sorted by name, values normalized by `crosscheck.norm`, column
types canonicalized by `canon_duck`/`canon_arrow`, rows in result order.
Equal digests mean the crosscheck would pass. The oracle side is computed
once per fixture checksum and cached.
"""
import glob
import hashlib
import json
import os
import sys


def _crosscheck(root):
    sys.path.insert(0, os.path.join(root, "scripts"))
    import crosscheck
    return crosscheck


def _canon(v):
    """A repr-stable form of a normalized value (-0.0 equals 0.0)."""
    if isinstance(v, tuple):
        return [_canon(x) for x in v]
    if isinstance(v, float) and v == 0.0:
        return 0.0
    return v


def digest(cols, types, rows):
    """Digest of a result: sorted column names, their canonical types and
    the normalized rows (crosscheck.rows_of output)."""
    h = hashlib.sha256()
    h.update(repr((cols, [types[c] for c in cols])).encode())
    for r in rows:
        h.update(repr(_canon(r)).encode())
    return h.hexdigest()


def spark_side(cc, result_dir):
    """(cols, types, rows) of a result parquet directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    tbl = pa.concat_tables([pq.read_table(f) for f in files])
    rows, cols = cc.rows_of([tbl.column(i).to_pylist()
                             for i in range(tbl.num_columns)],
                            list(tbl.schema.names))
    types = {f.name: repr(cc.canon_arrow(f.type)) for f in tbl.schema}
    return cols, types, rows


def duck_side(cc, con, sql):
    res = con.execute(sql)
    names = [d[0] for d in res.description]
    data = res.fetchall()
    rows, cols = cc.rows_of([[r[i] for r in data] for i in range(len(names))],
                            names)
    types = {r[0]: repr(cc.canon_duck(r[1]))
             for r in con.execute(f"DESCRIBE {sql}").fetchall()}
    return cols, types, rows


def check(root, fixture_dir, checksum, cache_dir, results_dir, oracle_sql):
    """Compare each query's result in `results_dir` with its oracle SQL
    (`oracle_sql`: query -> SQL, for every query the workload runs). A
    query without a result or without oracle SQL is a mismatch, as in
    scripts/crosscheck.py. Returns a list of (query, ok, detail)."""
    import duckdb
    cc = _crosscheck(root)
    cache = os.path.join(cache_dir, checksum)
    os.makedirs(cache, exist_ok=True)
    con = None
    out = []
    for name, sql in sorted(oracle_sql.items()):
        if not sql:
            out.append((name, False, "no oracle SQL"))
            continue
        if not glob.glob(os.path.join(results_dir, name, "*.parquet")):
            out.append((name, False, "no result: the query failed on every pass"))
            continue
        path = os.path.join(cache, name + ".json")
        key = hashlib.sha256(sql.encode()).hexdigest()
        want = None
        if os.path.exists(path):
            with open(path) as f:
                want = json.load(f)
            if want.get("sql") != key:
                want = None
        if want is None:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads = 2")
                for t in cc.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{fixture_dir}/{t}.parquet')")
            cols, types, rows = duck_side(cc, con, sql)
            want = {"sql": key, "cols": cols, "types": types,
                    "rows": len(rows), "digest": digest(cols, types, rows)}
            with open(path + ".tmp", "w") as f:
                json.dump(want, f)
            os.replace(path + ".tmp", path)
        cols, types, rows = spark_side(cc, os.path.join(results_dir, name))
        got = digest(cols, types, rows)
        if got == want["digest"]:
            out.append((name, True, ""))
        elif cols != want["cols"]:
            out.append((name, False, f"columns spark={cols} duckdb={want['cols']}"))
        elif types != want["types"]:
            out.append((name, False, f"types spark={types} duckdb={want['types']}"))
        elif len(rows) != want["rows"]:
            out.append((name, False, f"rows spark={len(rows)} duckdb={want['rows']}"))
        else:
            out.append((name, False, "values differ from the oracle"))
    if con is not None:
        con.close()
    return out
