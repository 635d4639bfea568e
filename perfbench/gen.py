"""Seeded input generator for the benchmark (DuckDB, no files read).

Every table has the schema and value shapes of the sf0.1 test fixture
(TESTDATA.md, FIXTURES.md) at `scale` times its row counts; foreign keys
point into the scaled parent tables. Every value is a hash of (seed, table,
column, row key), so one seed always gives the same bytes and two seeds give
different data of the same shape.

Money and quantity columns are multiples of 0.25, so every SUM is exact in
any order and Spark and DuckDB agree to the bit.
"""
import os

import duckdb

# rows at sf0.1, as in the fixture
BASE = {"region": 5, "nation": 25, "customer": 15000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "embeddings": 2000}
# distinct parts, suppliers and users per sf0.1, as in the fixture
PARTS, SUPPLIERS, USERS = 20000, 1000, 1500


def h(args):
    """Non-negative BIGINT hash of the SQL argument list `args`."""
    return f"CAST(hash({args}) >> 1 AS BIGINT)"


def rows(table, scale):
    return BASE[table] if table in ("region", "nation") else max(1, round(BASE[table] * scale))


def _sql(table, seed, scale):
    """SELECT that generates `table`. The row key is `k`; u(col) is a
    per-row uniform non-negative hash."""
    n = {t: rows(t, scale) for t in BASE}

    def u(col, extra=""):
        return h(f"{seed}, '{table}.{col}', k{extra}")

    def sc(x):
        return max(1, round(x * scale))

    rng = f"range(0, {n[table]}) kk(k)"
    if table == "region":
        return ("SELECT CAST(k AS INTEGER) AS r_regionkey, "
                "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][k + 1] AS r_name "
                "FROM range(0, 5) kk(k)")
    if table == "nation":
        return ("SELECT CAST(k AS INTEGER) AS n_nationkey, 'NATION_' || k AS n_name, "
                "CAST(k % 5 AS INTEGER) AS n_regionkey FROM range(0, 25) kk(k)")
    if table == "customer":
        return (f"SELECT k AS c_custkey, "
                f"printf('Customer#%09d', k) AS c_name, "
                f"CAST({u('nation')} % 25 AS INTEGER) AS c_nationkey, "
                f"CAST({u('acctbal')} % 44000 AS DOUBLE) * 0.25 - 999.75 AS c_acctbal, "
                f"['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']"
                f"[{u('seg')} % 5 + 1] AS c_mktsegment FROM {rng}")
    if table == "orders":
        return (f"SELECT k AS o_orderkey, "
                f"{u('cust')} % {n['customer']} AS o_custkey, "
                f"['O','F','P'][{u('status')} % 3 + 1] AS o_orderstatus, "
                f"1000 + CAST({u('price')} % 1996000 AS DOUBLE) * 0.25 AS o_totalprice, "
                f"TIMESTAMP '1995-01-01' + to_days(CAST({u('date')} % 2404 AS INTEGER)) AS o_orderdate, "
                f"['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']"
                f"[{u('prio')} % 5 + 1] AS o_orderpriority FROM {rng}")
    if table == "lineitem":
        return (f"SELECT {u('order')} % {n['orders']} AS l_orderkey, "
                f"{u('part')} % {sc(PARTS)} AS l_partkey, "
                f"{u('supp')} % {sc(SUPPLIERS)} AS l_suppkey, "
                f"CAST({u('line')} % 7 + 1 AS INTEGER) AS l_linenumber, "
                f"CAST({u('qty')} % 50 + 1 AS DOUBLE) AS l_quantity, "
                f"900 + CAST({u('price')} % 396000 AS DOUBLE) * 0.25 AS l_extendedprice, "
                f"CAST({u('disc')} % 11 AS DOUBLE) / 100 AS l_discount, "
                f"CAST({u('tax')} % 9 AS DOUBLE) / 100 AS l_tax, "
                f"['N','A','R'][{u('flag')} % 3 + 1] AS l_returnflag, "
                f"['O','F'][{u('status')} % 2 + 1] AS l_linestatus, "
                f"TIMESTAMP '1995-01-02' + to_days(CAST({u('ship')} % 2498 AS INTEGER)) AS l_shipdate "
                f"FROM {rng}")
    if table == "events":
        return (f"SELECT k AS event_id, "
                f"TIMESTAMP '2024-01-01' + to_microseconds(CAST({u('ts')} % 2592000000000 AS BIGINT)) AS ts, "
                f"{u('user')} % {sc(USERS)} AS user_id, "
                f"['signup','click','error','view','purchase'][{u('type')} % 5 + 1] AS event_type, "
                f"CAST({u('value')} % 2241 AS DOUBLE) * 0.25 AS value, "
                f"'{{\"k\": ' || ({u('props')} % 100) || '}}' AS props FROM {rng}")
    if table == "embeddings":
        # 64-dim unit vectors: a sum of four uniforms per component
        # (approximately normal), then L2-normalized
        comp = " + ".join(f"({u(f'v{j}', extra=', i')} % 1000000) / 1e6" for j in range(4))
        return (f"WITH r AS (SELECT k, list_transform(range(0, 64), i -> {comp} - 2.0) AS v FROM {rng}) "
                f"SELECT k AS vec_id, "
                f"CAST(list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS FLOAT[]) AS embedding, "
                f"CAST({u('label')} % 10 AS INTEGER) AS label FROM r")
    raise ValueError(table)


def generate(out_dir, tables, seed, scale):
    """Writes <out_dir>/<table>.parquet for each table; returns
    {table: {"rows": n, "bytes": b}}."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar TO false")
    con.execute("SET preserve_insertion_order TO true")
    con.execute(f"SET temp_directory = '{os.path.join(out_dir, '.duckdb_tmp')}'")
    info = {}
    for t in tables:
        path = os.path.join(out_dir, f"{t}.parquet")
        con.execute(f"COPY ({_sql(t, int(seed), float(scale))}) TO '{path}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
        info[t] = {"rows": n, "bytes": os.path.getsize(path)}
    con.close()
    return info
