"""DuckDB oracle for the `pipeline_gates` outputs.

Runs each gate's `SparkEntry.oracleSql` query in DuckDB over the same
committed parquet tables and compares it with the gate's Spark output the way
the repository's `tools/check.py` does: same column names, same canonical
column types, no decimal columns, same row count, and equal values with
columns sorted by name and rows sorted by every column. Floats must be equal,
or within 1e-9 relative unless GRAFT_EXACT is set.
"""
import math
import os
from pathlib import Path

import duckdb
import pyarrow.types as pt


def canon_type(t):
    if pt.is_decimal(t):
        return f"DECIMAL[{t}]"
    if pt.is_integer(t):
        return "int"
    if pt.is_floating(t):
        return "float"
    if pt.is_timestamp(t):
        return "timestamp"
    if pt.is_date(t):
        return "date"
    if pt.is_string(t) or pt.is_large_string(t):
        return "str"
    if pt.is_binary(t) or pt.is_large_binary(t) or pt.is_fixed_size_binary(t):
        return "bin"
    if pt.is_boolean(t):
        return "bool"
    if pt.is_list(t) or pt.is_large_list(t) or pt.is_fixed_size_list(t):
        return f"list<{canon_type(t.value_type)}>"
    if pt.is_struct(t):
        return "struct<" + ",".join(f"{t.field(i).name}:{canon_type(t.field(i).type)}"
                                    for i in range(t.num_fields)) + ">"
    return str(t)


def is_nan(x):
    return isinstance(x, float) and math.isnan(x)


def eq(a, b):
    if a is None or b is None or is_nan(a) or is_nan(b):
        return (a is None or is_nan(a)) and (b is None or is_nan(b))
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if fa == fb:
            return True
        if os.environ.get("GRAFT_EXACT"):
            return False
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    if hasattr(a, "__len__") and not isinstance(a, str):
        return len(a) == len(b) and all(eq(x, y) for x, y in zip(a, b))
    return a == b


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare_one(con, spark_dir, sql):
    """None when the gate output matches its oracle, else the first difference."""
    spark_tbl = con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'").arrow()
    duck_tbl = con.sql(sql).arrow()
    sp = {f.name: canon_type(f.type) for f in spark_tbl.schema}
    du = {f.name: canon_type(f.type) for f in duck_tbl.schema}
    if sorted(sp) != sorted(du):
        return f"columns spark={sorted(sp)} duck={sorted(du)}"
    bad = [n for n in sp if "DECIMAL" in sp[n] or "DECIMAL" in du[n] or sp[n] != du[n]]
    if bad:
        return "types " + "; ".join(f"{n}: spark={sp[n]} duck={du[n]}" for n in bad)
    s, d = canon(spark_tbl.to_pandas()), canon(duck_tbl.to_pandas())
    if len(s) != len(d):
        return f"rows spark={len(s)} duck={len(d)}"
    for c in s.columns:
        for i, (x, y) in enumerate(zip(s[c].tolist(), d[c].tolist())):
            if not eq(x, y):
                return f"value col={c} row={i} spark={x!r} duck={y!r}"
    return None


def check(data_dir, out_dir, oracle_sql, threads):
    """{gate: None | difference} for every gate in `oracle_sql`."""
    con = duckdb.connect()
    con.sql(f"SET threads = {int(threads)}")
    for f in sorted(Path(data_dir).glob("*.parquet")):
        con.sql(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
    result = {}
    for gate, sql in sorted(oracle_sql.items()):
        try:
            result[gate] = compare_one(con, Path(out_dir) / gate, sql)
        except Exception as e:  # an oracle that cannot run is a failed check
            result[gate] = f"error {str(e)[:200]}"
    con.close()
    return result
