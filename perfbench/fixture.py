"""Seeded synthetic fixture: the ten parquet tables `graft.Tables` reads.

The tables follow the shape of the project's TPC-H-ish test data
(TESTDATA.md): the same table and column names, the same parquet
types, and similar value ranges and row counts per scale factor.
Every value is a hash of the seed, the row number and a per-column
salt, so one seed always gives the same values, and DuckDB (the
oracle) and Spark (the system under test) read the very same files.
"""
import os

import duckdb

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch", "dup"]


def counts(sf):
    """Row counts per table at scale factor `sf` (TESTDATA.md sizes)."""
    return {
        "customer": int(150000 * sf), "supplier": int(10000 * sf),
        "part": int(200000 * sf), "orders": int(1500000 * sf),
        "events": int(1000000 * sf), "documents": int(50000 * sf),
        "embeddings": 500 if sf <= 0.01 else 2000,
    }


def table_sql(seed, sf):
    n = counts(sf)
    # r(i, k): uniform in [0, 1) from (seed, row, column salt)
    u = lambda i, k: f"(hash({seed}, {i}, {k}) % 1000003)::DOUBLE / 1000003"
    # h(i, k, m): integer in [0, m)
    h = lambda i, k, m: f"(hash({seed}, {i}, {k}) % {m})::BIGINT"
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    return {
        "region": """
            SELECT r::INTEGER AS r_regionkey,
                   ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][r + 1]
                     AS r_name
            FROM range(5) t(r)""",
        "nation": """
            SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
                   (i % 5)::INTEGER AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i::BIGINT AS c_custkey,
                   'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                   {h('i', 101, 25)}::INTEGER AS c_nationkey,
                   round({u('i', 102)} * 10999.0 - 999.99, 2) AS c_acctbal,
                   ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
                    'MACHINERY'][{h('i', 103, 5)} + 1] AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""
            SELECT i::BIGINT AS s_suppkey,
                   'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                   {h('i', 201, 25)}::INTEGER AS s_nationkey,
                   round({u('i', 202)} * 10999.0 - 999.99, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""
            SELECT i::BIGINT AS p_partkey,
                   ['small', 'red', 'blue', 'hot', 'cold', 'new', 'old',
                    'large'][{h('i', 301, 8)} + 1] || ' ' ||
                   ['ring', 'widget', 'bolt', 'plate', 'gear', 'rod',
                    'anvil'][{h('i', 302, 7)} + 1] AS p_name,
                   'Brand#' || {h('i', 303, 25)} AS p_brand,
                   ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL',
                    'STANDARD'][{h('i', 304, 6)} + 1] AS p_type,
                   (1 + {h('i', 305, 50)})::INTEGER AS p_size,
                   round(900.0 + (i % 1000) / 10.0, 2) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""
            SELECT i::BIGINT AS o_orderkey,
                   {h('i', 401, n['customer'])} AS o_custkey,
                   ['F', 'O', 'P'][{h('i', 402, 3)} + 1] AS o_orderstatus,
                   round(1000.0 + {u('i', 403)} * 499000.0, 2) AS o_totalprice,
                   (TIMESTAMP '1995-01-01' +
                     to_days({h('i', 404, 2404)}::INTEGER)) AS o_orderdate,
                   ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                    '5-LOW'][{h('i', 405, 5)} + 1] AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""
            SELECT o AS l_orderkey,
                   {h('o * 8 + j', 501, n['part'])} AS l_partkey,
                   {h('o * 8 + j', 502, n['supplier'])} AS l_suppkey,
                   (j + 1)::INTEGER AS l_linenumber,
                   (1 + {h('o * 8 + j', 503, 50)})::DOUBLE AS l_quantity,
                   round(900.0 + {u('o * 8 + j', 504)} * 104099.0, 2)
                     AS l_extendedprice,
                   {h('o * 8 + j', 505, 11)} / 100.0 AS l_discount,
                   {h('o * 8 + j', 506, 9)} / 100.0 AS l_tax,
                   ['A', 'N', 'R'][{h('o * 8 + j', 507, 3)} + 1] AS l_returnflag,
                   ['F', 'O'][{h('o * 8 + j', 508, 2)} + 1] AS l_linestatus,
                   (TIMESTAMP '1995-01-02' +
                     to_days({h('o * 8 + j', 509, 2498)}::INTEGER)) AS l_shipdate
            FROM (SELECT o, {h('o', 500, 7)} + 1 AS n_lines
                  FROM range({n['orders']}) t(o)) q,
                 range(7) r(j)
            WHERE j < n_lines""",
        "events": f"""
            SELECT i::BIGINT AS event_id,
                   TIMESTAMP '2024-01-01' + to_microseconds(
                     (i * (2592000000000 // {n['events']}) +
                      {h('i', 601, 2592000000000 // n['events'])})::BIGINT) AS ts,
                   {h('i', 602, max(1, n['customer']))} AS user_id,
                   ['signup', 'click', 'error', 'view', 'purchase'][{h('i', 603, 5)} + 1]
                     AS event_type,
                   round({u('i', 604)} * {u('i', 605)} * 560.0, 2) AS value,
                   '{{"k": ' || {h('i', 606, 100)} || '}}' AS props
            FROM range({n['events']}) t(i)""",
        "documents": f"""
            SELECT i::BIGINT AS doc_id, text,
                   ['en', 'en', 'en', 'es', 'zh', 'de', 'fr'][{h('i', 701, 7)} + 1]
                     AS lang,
                   'src' || {h('i', 702, 20)} AS source,
                   length(text)::BIGINT AS n_chars
            FROM (SELECT i, array_to_string(list_transform(
                    range(8 + {h('i', 703, 83)}),
                    j -> {vocab}[1 + (hash({seed}, i, j, 704) % 31)::BIGINT]),
                    ' ') AS text
                  FROM range({n['documents']}) t(i)) q""",
        "embeddings": f"""
            SELECT i::BIGINT AS vec_id,
                   list_transform(raw, x -> (x / norm)::FLOAT) AS embedding,
                   label::INTEGER AS label
            FROM (SELECT i, label, raw,
                         sqrt(list_sum(list_transform(raw, x -> x * x))) AS norm
                  FROM (SELECT i, {h('i', 801, 10)} AS label,
                               list_transform(range(64), j ->
                                 ((hash({seed}, {h('i', 801, 10)}, j, 802) % 2001)
                                    ::DOUBLE / 1000 - 1.0) +
                                 ((hash({seed}, i, j, 803) % 2001)
                                    ::DOUBLE / 2000 - 0.5)) AS raw
                        FROM range({n['embeddings']}) t(i)) a) b""",
    }


def generate(out_dir, seed, sf):
    """Write the ten tables under `out_dir` unless a complete set is
    already there; returns the directory."""
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(out_dir, 'duckdb_tmp')}'")
    for name, sql in table_sql(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    con.close()
    open(done, "w").close()
    return out_dir
