#!/usr/bin/env python3
"""Dev-loop cross-engine oracle diff (SURVEY.md §5 "cross-engine pre-commit").

Usage: python3 scripts/crosscheck.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json (written by graft.Verify), runs each
oracle SQL in DuckDB over views named after the fixture tables, and compares
against the Spark result parquet in <verifyOutDir>/<name>/. Mimics the
driver's compare: columns sorted by name, row-by-row value equality.

Every PASS/FAIL line ends in `sha=<12 hex>`, a SHA-256 of the normalized,
name-sorted Spark rows, so `diff` of two logs shows any result change
between two builds even where both pass.
"""
import sys, json, glob, math, datetime, decimal, hashlib

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, decimal.Decimal):
        # compare by value, not string: 1.5 vs 1.50 must be equal; floats and
        # Decimals unify so a DuckDB DECIMAL result can match a Spark DOUBLE,
        # but ints stay ints (an int/double type drift should FAIL here
        # because the driver's schema check would fail on it too)
        return ("num", float(v))
    if isinstance(v, float):
        return ("num", v)
    if isinstance(v, datetime.datetime):
        # tz-aware and naive timestamps are tagged DISTINCTLY: in round 18 a
        # writer-conf change flipped 13 outputs to timestamp[us, tz=UTC] and
        # this function's old tzinfo-strip hid it from the local gate while
        # the driver's tz-aware compare failed all 13 (VERDICT r18 #2). Same
        # strictness rationale as int-vs-float and date-vs-timestamp above.
        if v.tzinfo is not None:
            return ("ts_tz", v.astimezone(datetime.timezone.utc)
                    .replace(tzinfo=None).isoformat())
        return ("ts", v.isoformat())
    if isinstance(v, datetime.date):
        # tagged distinctly from timestamps: a DATE-vs-TIMESTAMP drift
        # between engines must FAIL here (the driver's schema check would
        # reject it), same reasoning as keeping ints distinct from floats
        return ("date", v.isoformat())
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def canon_duck(t):
    """Canonicalize a DuckDB DESCRIBE type to a comparable tag."""
    t = t.upper()
    if t.endswith("[]"):
        return ("list", canon_duck(t[:-2]))
    if t.startswith("DECIMAL"):
        return "decimal"
    if t.startswith("TIMESTAMP WITH TIME ZONE") or t == "TIMESTAMPTZ":
        return "timestamp_tz"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    return {"TINYINT": "int8", "SMALLINT": "int16", "INTEGER": "int32",
            "BIGINT": "int64", "HUGEINT": "int128", "UBIGINT": "uint64",
            "UINTEGER": "uint32", "FLOAT": "float32", "REAL": "float32",
            "DOUBLE": "float64", "VARCHAR": "string", "DATE": "date",
            "BOOLEAN": "bool"}.get(t, t.lower())


def canon_arrow(t):
    """Canonicalize a pyarrow DataType to the same tag space."""
    import pyarrow as pa
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return ("list", canon_arrow(t.value_type))
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_timestamp(t):
        # naive vs tz-annotated must NOT fold together (r18 regression class:
        # the driver's schema check is tz-strict, so this gate must be too)
        return "timestamp_tz" if t.tz is not None else "timestamp"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_date(t):
        return "date"
    return {"int8": "int8", "int16": "int16", "int32": "int32",
            "int64": "int64", "uint32": "uint32", "uint64": "uint64",
            "float": "float32", "double": "float64",
            "bool": "bool"}.get(str(t), str(t))


def type_diff(con, sql, arrow_schema):
    """DESCRIBE the oracle and diff column types vs the Spark parquet
    schema. Catches the class crosscheck's value compare is blind to:
    integer-width drift (DuckDB SUM(BIGINT) -> HUGEINT vs Spark BIGINT)
    and decimal-vs-double drift — both arrive as identical Python values
    but fail the driver's type-aware hash."""
    desc = con.execute(f"DESCRIBE {sql}").fetchall()
    d_types = {r[0]: canon_duck(r[1]) for r in desc}
    s_types = {f.name: canon_arrow(f.type) for f in arrow_schema}
    bad = []
    for c in sorted(set(d_types) | set(s_types)):
        dt, st = d_types.get(c), s_types.get(c)
        if dt != st:
            bad.append(f"{c}: spark={st} duckdb={dt}")
    return bad


def rows_of(cols, names):
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = []
    for r in range(len(cols[0]) if cols else 0):
        out.append(tuple(norm(cols[i][r]) for i in order))
    return out, [names[i] for i in order]


def digest(cols, rows):
    """Short SHA-256 of the normalized Spark result (names, then rows)."""
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()[:12]


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output parquet sha=-")
            n_fail += 1
            continue
        # read ALL part files in sorted filename order (preserves global
        # sort order for range-partitioned output); reading only part 0
        # would silently drop rows of multi-part results
        import pyarrow as pa
        tbl = pa.concat_tables([pq.read_table(f) for f in files])
        s_rows, s_cols = rows_of([tbl.column(i).to_pylist()
                                  for i in range(tbl.num_columns)],
                                 list(tbl.schema.names))
        sha = f"sha={digest(s_cols, s_rows)}"
        try:
            res = con.execute(oracle[name])
            d_names = [d[0] for d in res.description]
            d_data = res.fetchall()
            d_cols = [[row[i] for row in d_data] for i in range(len(d_names))]
            d_rows, d_cols_sorted = rows_of(d_cols, d_names)
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e} {sha}")
            n_fail += 1
            continue
        if s_cols != d_cols_sorted:
            print(f"FAIL {name}: columns spark={s_cols} "
                  f"duckdb={d_cols_sorted} {sha}")
            n_fail += 1
            continue
        tbad = type_diff(con, oracle[name], tbl.schema)
        if tbad:
            print(f"FAIL {name}: type drift: " + "; ".join(tbad) + f" {sha}")
            n_fail += 1
            continue
        if len(s_rows) != len(d_rows):
            print(f"FAIL {name}: rowcount spark={len(s_rows)} "
                  f"duckdb={len(d_rows)} {sha}")
            n_fail += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)}/{len(s_rows)} rows differ; "
                  f"first at {i} cols={s_cols} {sha}\n  spark ={a}\n  duckdb={b}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s_rows)} rows) {sha}")
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
