#!/usr/bin/env python3
"""Seeded generator of the engine's ten input tables.

Usage: python3 perfbench/datagen.py <outDir> <seed> [sf]

Writes region, nation, customer, supplier, part, orders, lineitem,
events, documents and embeddings as parquet with the schemas and value
domains the query registry reads (TESTDATA.md). Every value is a
function of (seed, row, column), so one seed always yields the same
tables, and the whole set at sf 0.1 takes a few seconds.
"""
import os
import sys

import duckdb

WORDS = ["part", "column", "order", "scan", "a", "slow", "agg", "key", "window",
         "table", "merge", "vector", "join", "query", "row", "stream", "the",
         "batch", "sort", "value", "hash", "filter", "big", "data", "dup", "spark",
         "line", "small", "fast", "group", "customer"]


def sql_list(xs):
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


def generate(out, seed, sf=0.1):
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count() or 1}")
    con.execute("SET TimeZone='UTC'")
    # u(k, salt): uniform [0, 1) from the row key, the column salt and the seed
    con.execute(f"""CREATE MACRO u(k, salt) AS
        (hash(k::BIGINT * 7919 + salt::BIGINT * 104729 + {int(seed)}::BIGINT * 1000003) % 1000000000)::DOUBLE
        / 1e9""")
    con.execute("CREATE MACRO pick(xs, k, salt) AS xs[1 + floor(u(k, salt) * len(xs))::INT]")
    con.execute("CREATE MACRO gauss(k, salt) AS "
                "sqrt(-2 * ln(1 - u(k, salt))) * cos(2 * pi() * u(k, salt + 1))")
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), max(500, int(20000 * sf))

    def copy(name, query):
        con.execute(f"COPY ({query}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")

    copy("region", """SELECT r::INTEGER AS r_regionkey,
        ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][r + 1] AS r_name
        FROM range(5) t(r)""")
    copy("nation", """SELECT n::INTEGER AS n_nationkey, 'NATION_' || n AS n_name,
        (n % 5)::INTEGER AS n_regionkey FROM range(25) t(n)""")
    copy("customer", f"""SELECT k AS c_custkey, printf('Customer#%09d', k) AS c_name,
        floor(u(k, 1) * 25)::INTEGER AS c_nationkey,
        round(-999.99 + u(k, 2) * 10999.98, 2) AS c_acctbal,
        pick(['MACHINERY', 'AUTOMOBILE', 'HOUSEHOLD', 'BUILDING', 'FURNITURE'], k, 3) AS c_mktsegment
        FROM range({n_cust}) t(k)""")
    copy("supplier", f"""SELECT k AS s_suppkey, printf('Supplier#%09d', k) AS s_name,
        floor(u(k, 11) * 25)::INTEGER AS s_nationkey,
        round(-999.99 + u(k, 12) * 10999.98, 2) AS s_acctbal
        FROM range({n_supp}) t(k)""")
    copy("part", f"""SELECT k AS p_partkey,
        pick(['blue', 'old', 'large', 'hot', 'cold', 'red', 'small', 'new'], k, 21) || ' ' ||
        pick(['widget', 'gizmo', 'ring', 'gear', 'bolt', 'plate', 'rod', 'anvil'], k, 22) AS p_name,
        'Brand#' || (1 + floor(u(k, 23) * 25)::INTEGER) AS p_brand,
        pick(['LARGE', 'ECONOMY', 'STANDARD', 'SMALL', 'MEDIUM', 'PROMO'], k, 24) AS p_type,
        (1 + floor(u(k, 25) * 50))::INTEGER AS p_size,
        round(900 + (k % 1000) * 0.1, 1)::DOUBLE AS p_retailprice
        FROM range({n_part}) t(k)""")
    copy("orders", f"""SELECT k AS o_orderkey, floor(u(k, 31) * {n_cust})::BIGINT AS o_custkey,
        pick(['O', 'P', 'F'], k, 32) AS o_orderstatus,
        round(1000 + u(k, 33) * 499000, 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(floor(u(k, 34) * 2405)::INTEGER) AS o_orderdate,
        pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], k, 35) AS o_orderpriority
        FROM range({n_ord}) t(k)""")
    copy("lineitem", f"""SELECT floor(u(k, 41) * {n_ord})::BIGINT AS l_orderkey,
        floor(u(k, 42) * {n_part})::BIGINT AS l_partkey,
        floor(u(k, 43) * {n_supp})::BIGINT AS l_suppkey,
        (1 + floor(u(k, 44) * 7))::INTEGER AS l_linenumber,
        (1 + floor(u(k, 45) * 50))::DOUBLE AS l_quantity,
        round(900 + u(k, 46) * 104100, 2) AS l_extendedprice,
        floor(u(k, 47) * 11) / 100.0 AS l_discount,
        floor(u(k, 48) * 9) / 100.0 AS l_tax,
        pick(['R', 'N', 'A'], k, 49) AS l_returnflag,
        pick(['O', 'F'], k, 50) AS l_linestatus,
        TIMESTAMP '1995-01-02' + to_days(floor(u(k, 51) * 2498)::INTEGER) AS l_shipdate
        FROM range({n_line}) t(k)""")
    step = 30 * 86400 * 1_000_000 // n_ev
    copy("events", f"""SELECT k AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds((k * {step} + floor(u(k, 61) * {step}))::BIGINT) AS ts,
        floor(u(k, 62) * 1500)::BIGINT AS user_id,
        pick(['signup', 'click', 'error', 'view', 'purchase'], k, 63) AS event_type,
        round(-50 * ln(1 - u(k, 64) * 0.99999), 2) AS value,
        '{{"k": ' || floor(u(k, 65) * 100)::INTEGER || '}}' AS props
        FROM range({n_ev}) t(k)""")
    copy("documents", f"""WITH d AS (
          SELECT k, CASE WHEN k > 0 AND u(k, 71) < 0.0016 THEN k - 1 ELSE k END AS src
          FROM range({n_doc}) t(k)),
        w AS (
          SELECT k, src, unnest(range(8 + floor(u(src, 72) * 90)::INTEGER)) AS i FROM d),
        txt AS (
          SELECT k, string_agg(pick({sql_list(WORDS)}, src * 1000 + i, 73), ' ' ORDER BY i) AS text
          FROM w GROUP BY k)
        SELECT k AS doc_id, text,
          CASE WHEN u(k, 74) < 0.41 THEN 'en' ELSE pick(['zh', 'de', 'es', 'fr'], k, 75) END AS lang,
          'src' || floor(u(k, 76) * 20)::INTEGER AS source,
          length(text)::BIGINT AS n_chars
        FROM txt ORDER BY k""")
    copy("embeddings", f"""WITH g AS (
          SELECT k, list_transform(range(64), i -> gauss(k * 64 + i, 81)) AS v FROM range({n_emb}) t(k))
        SELECT k AS vec_id,
          list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT) AS embedding,
          floor(u(k, 83) * 10)::INTEGER AS label
        FROM g ORDER BY k""")


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.1)
