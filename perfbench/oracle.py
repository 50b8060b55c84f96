"""DuckDB oracle check of the report_queries outputs.

Follows the engine's `tools/check_oracle.py`: each report table the run
wrote is compared with the query's `SparkEntry.oracleSql` run in DuckDB over
the same generated parquet tables — column names, arrow types (up to
string/list storage variants) and the sorted rows, value by value.
"""
import glob
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def type_key(t):
    import pyarrow as pa
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return f"list<{type_key(t.value_type)}>"
    return str(t)


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def compare(spark_tbl, duck_tbl):
    """None when the tables match, else a one-line reason."""
    s_cols = sorted(spark_tbl.column_names)
    if s_cols != sorted(duck_tbl.column_names):
        return f"columns differ: {s_cols} vs {sorted(duck_tbl.column_names)}"
    drift = [c for c in s_cols
             if type_key(spark_tbl.schema.field(c).type) != type_key(duck_tbl.schema.field(c).type)]
    if drift:
        return f"column types differ: {drift}"
    s_rows = sorted(tuple(norm(r[c]) for c in s_cols) for r in spark_tbl.to_pylist())
    d_rows = sorted(tuple(norm(r[c]) for c in s_cols) for r in duck_tbl.to_pylist())
    if len(s_rows) != len(d_rows):
        return f"row count {len(s_rows)} vs oracle {len(d_rows)}"
    bad = sum(1 for a, b in zip(s_rows, d_rows) if a != b)
    return f"{bad}/{len(s_rows)} rows differ" if bad else None


def check(data_dir, report_dir, oracle_sql):
    """{query: failure reason} for every report that does not match."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute("SET threads TO 1")  # one summation order, run to run
    for t in TABLES:
        if not os.path.isdir(f"{data_dir}/{t}.parquet"):
            continue  # setup generates only the tables the report set reads
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    failures = {}
    for name, sql in sorted(oracle_sql.items()):
        path = os.path.join(report_dir, name)
        if not glob.glob(os.path.join(path, "*.parquet")):
            failures[name] = "no report written"
            continue
        try:
            reason = compare(pq.read_table(path), con.execute(sql).fetch_arrow_table())
        except Exception as e:  # an oracle or read error is a failed check
            reason = f"{type(e).__name__}: {str(e)[:200]}"
        if reason:
            failures[name] = reason
    return failures
