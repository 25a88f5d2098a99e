"""Output checks for the benchmark, against DuckDB.

* Registry operations: the engine's own oracle SQL (`SparkEntry.oracleSql`,
  handed over by the JVM in result.json) replayed over the same parquet
  tables. The expected rows depend only on the tables and the SQL, so they
  are cached under `.bench_build/perfbench/expected`.
* The nightly job: the four written tables against an independent DuckDB
  computation over the landed CSVs, reusing the oracle's cleaning SQL
  (`Oracle.cleanSales`, `Oracle.cleanCustomers`) and the q1/q2 query bodies.
  The engine-assigned `line_id` is left out of the comparison.

Comparison: columns sorted by name, rows sorted, same type family per value,
doubles equal to a relative 1e-9 (the CSV path sums doubles, whose last bits
depend on summation order). The nightly job's large tables hold no doubles
and compare exactly inside DuckDB, as multisets, with the same column types.
"""
import datetime
import decimal
import hashlib
import math
import pickle
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

STAR = "region nation customer supplier part orders lineitem events".split()
SINK_TABLES = ["clean_sales", "clean_customers", "sales_summary", "product_ranking"]


def _family(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, datetime.datetime):
        return "timestamp"
    if isinstance(v, datetime.date):
        return "date"
    if isinstance(v, (list, tuple)):
        return "list"
    return type(v).__name__


def _norm(v):
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        v = tuple(_norm(x) for x in v)
    return v


def _sort_key(row):
    def k(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.9g}"
        return str(v)
    return tuple((v is None, _family(v), k(v)) for v in row)


def _rows(cols, columns):
    names = sorted(cols)
    n = len(columns[names[0]]) if names else 0
    rows = [tuple(_norm(columns[c][i]) for c in names) for i in range(n)]
    return names, sorted(rows, key=_sort_key)


def _same(a, b):
    if _family(a) != _family(b):
        return False
    if isinstance(a, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare(actual, expected):
    """None when equal, else a one-line reason."""
    (acols, arows), (ecols, erows) = actual, expected
    if acols != ecols:
        return f"columns {acols} != expected {ecols}"
    if len(arows) != len(erows):
        return f"{len(arows)} rows != expected {len(erows)}"
    for i, (x, y) in enumerate(zip(arows, erows)):
        if not all(_same(a, b) for a, b in zip(x, y)):
            return f"row {i}: {x} != expected {y}"
    return None


def read_parquet(path):
    t = pq.read_table(str(path))
    d = {c: t.column(c).to_pylist() for c in t.column_names}
    return _rows(list(d), d)


def run_sql(con, sql):
    rel = con.sql(sql)
    cols = rel.columns
    data = rel.fetchall()
    d = {c: [r[i] for r in data] for i, c in enumerate(cols)}
    return _rows(cols, d)


def compare_dir(path, expected):
    if expected is None:
        return "no oracle for this operation"
    try:
        return compare(read_parquet(path), expected)
    except Exception as e:  # unreadable output is a failed check
        return f"{type(e).__name__}: {e}"


def registry_expected(data, oracle, cache_dir):
    """Expected rows per operation, cached by (tables, SQL)."""
    data = Path(data)
    cache_dir.mkdir(parents=True, exist_ok=True)
    out = {}
    con = None
    for op, sql in sorted(oracle.items()):
        sql = sql.replace("{SFDIR}", str(data))
        key = hashlib.sha256((data.name + "\0" + sql).encode()).hexdigest()[:20]
        f = cache_dir / f"{op}-{key}.pkl"
        if f.exists():
            out[op] = pickle.loads(f.read_bytes())
            continue
        if con is None:
            con = duckdb.connect()
            con.execute("SET memory_limit='2GB'")
            for t in STAR:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        out[op] = run_sql(con, sql)
        tmp = f.with_suffix(".tmp")
        tmp.write_bytes(pickle.dumps(out[op]))
        tmp.rename(f)
    return out


def etl_check(batch_dir, oracle, sinks):
    """Check each sink dir against the four tables DuckDB computes from the
    landed batch. Returns {sink: None or a one-line reason}."""
    con = duckdb.connect()
    # one thread keeps row_number() OVER () in file order: keep-first dedup
    con.execute("SET threads=1")
    con.execute(f"""CREATE TABLE dirty_sales AS
        SELECT TRY_CAST(order_id AS BIGINT) AS order_id,
               CAST(row_number() OVER () AS BIGINT) AS line_id,
               product_id, TRY_CAST(quantity AS INTEGER) AS quantity,
               TRY_CAST(unit_price AS DOUBLE) AS unit_price,
               TRY_CAST(order_date AS DATE) AS order_date,
               customer_id, product_name, category, 0 AS src
        FROM read_csv('{batch_dir}/sales.csv', header=true, all_varchar=true)""")
    con.execute(f"""CREATE TABLE dirty_customers AS
        SELECT customer_id, customer_name, email,
               registration_date AS registration_raw, region
        FROM read_csv('{batch_dir}/customers.csv', header=true, all_varchar=true)""")
    prelude = f"WITH {oracle['clean_sales']},\n{oracle['clean_customers']}\n"
    queries = {
        "clean_sales": """SELECT CAST(order_id AS INTEGER) AS order_id, product_id,
               product_name, category, quantity,
               CAST(unit_price AS DECIMAL(10,2)) AS unit_price, order_date,
               customer_id, CAST(total_price AS DECIMAL(10,2)) AS total_price, month
               FROM clean_sales""",
        "clean_customers": "SELECT * FROM clean_customers",
        "sales_summary": oracle["q1_sales_summary"],
        "product_ranking": oracle["q2_product_ranking"],
    }
    for t, q in queries.items():
        con.execute(f"CREATE TABLE exp_{t} AS {prelude}{q}")
    return {sink: _sink_diff(con, sink) for sink in sinks}


def _sink_diff(con, sink):
    """Compare one sink's four tables with the exp_* tables. Tables without
    doubles compare exactly inside DuckDB (they are the large ones); the
    small aggregates with doubles compare in Python at a relative 1e-9."""
    for t in SINK_TABLES:
        try:
            con.execute(f"CREATE OR REPLACE VIEW act AS "
                        f"SELECT * FROM read_parquet('{sink}/{t}/*.parquet')")
        except duckdb.Error as e:
            return f"{t}: {e}"
        act = {r[0]: r[1] for r in con.execute("DESCRIBE act").fetchall()
               if r[0] != "line_id"}
        exp = {r[0]: r[1] for r in con.execute(f"DESCRIBE exp_{t}").fetchall()}
        if act != exp:
            return f"{t}: columns {sorted(act.items())} != expected {sorted(exp.items())}"
        sel = ", ".join(f'"{c}"' for c in sorted(exp))
        if any(ty in ("DOUBLE", "FLOAT") for ty in exp.values()):
            err = compare(run_sql(con, f"SELECT {sel} FROM act"),
                          run_sql(con, f"SELECT {sel} FROM exp_{t}"))
            if err:
                return f"{t}: {err}"
            continue
        for a, b in (("act", f"exp_{t}"), (f"exp_{t}", "act")):
            row = con.execute(f"SELECT {sel} FROM {a} EXCEPT ALL SELECT {sel} FROM {b} "
                              f"LIMIT 1").fetchone()
            if row is not None:
                n_a, n_b = (con.execute(f"SELECT count(*) FROM {x}").fetchone()[0]
                            for x in ("act", f"exp_{t}"))
                side = "written" if a == "act" else "expected"
                return f"{t}: {n_a} rows written vs {n_b} expected; {side} only: {row}"
    return None
