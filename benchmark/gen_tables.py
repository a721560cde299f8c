"""Seeded generator of the TPC-H-like tables the SQL gate keys read.

The schema, key ranges and value domains follow the engine's testdata
tables (region nation customer supplier part orders lineitem, plus the
events, documents and embeddings tables the catalog also registers), at
the row counts below. Every value is a hash of (row, seed, column), so a
seed always gives the same parquet files.
"""
import os

import duckdb

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}

WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
         "the a window data column join small line customer query order big "
         "vector group filter sort index").split()


def _pick(options, h):
    arr = ", ".join("'" + o + "'" for o in options)
    return f"[{arr}][(1 + ({h}) % {len(options)})::BIGINT]"


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 2")

    def h(col, i="i"):
        return f"hash({i}, {int(seed)}, '{col}')"

    def u(col, i="i"):
        return f"(({h(col, i)} % 1000000) / 1000000.0)"

    def day(col, start, days):
        return f"(TIMESTAMP '{start}' + INTERVAL (({h(col)}) % {days}) DAY)"

    tables = {
        "region": """SELECT r_regionkey::INTEGER AS r_regionkey, r_name FROM (VALUES
            (0, 'AFRICA'), (1, 'AMERICA'), (2, 'ASIA'), (3, 'EUROPE'), (4, 'MIDDLE EAST'))
            t(r_regionkey, r_name)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i::BIGINT AS c_custkey, printf('Customer#%09d', i) AS c_name,
            ({h('nk')} % 25)::INTEGER AS c_nationkey,
            round(-999.99 + {u('bal')} * 10999.98, 2)::DOUBLE AS c_acctbal,
            {_pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], h('seg'))}
              AS c_mktsegment
            FROM range({ROWS['customer']}) t(i)""",
        "supplier": f"""SELECT i::BIGINT AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
            ({h('nk')} % 25)::INTEGER AS s_nationkey,
            round(-999.99 + {u('bal')} * 10999.98, 2)::DOUBLE AS s_acctbal
            FROM range({ROWS['supplier']}) t(i)""",
        "part": f"""SELECT i::BIGINT AS p_partkey,
            {_pick(['small', 'red', 'blue', 'green', 'large', 'steel'], h('c'))} || ' ' ||
              {_pick(['ring', 'widget', 'bolt', 'gear', 'pipe', 'valve'], h('n'))} AS p_name,
            'Brand#' || (1 + {h('brand')} % 25) AS p_brand,
            {_pick(['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'], h('type'))}
              AS p_type,
            (1 + {h('size')} % 50)::INTEGER AS p_size,
            round(900 + (i % 1000) / 10.0, 1)::DOUBLE AS p_retailprice
            FROM range({ROWS['part']}) t(i)""",
        "orders": f"""SELECT i::BIGINT AS o_orderkey,
            ({h('cust')} % {ROWS['customer']})::BIGINT AS o_custkey,
            {_pick(['F', 'O', 'P'], h('st'))} AS o_orderstatus,
            round(1000 + {u('tp')} * 499000, 2)::DOUBLE AS o_totalprice,
            {day('od', '1995-01-01', 2404)} AS o_orderdate,
            {_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], h('pr'))}
              AS o_orderpriority
            FROM range({ROWS['orders']}) t(i)""",
        "lineitem": f"""SELECT ({h('ok')} % {ROWS['orders']})::BIGINT AS l_orderkey,
            ({h('pk')} % {ROWS['part']})::BIGINT AS l_partkey,
            ({h('sk')} % {ROWS['supplier']})::BIGINT AS l_suppkey,
            (1 + {h('ln')} % 7)::INTEGER AS l_linenumber,
            (1 + {h('q')} % 50)::DOUBLE AS l_quantity,
            round((1 + {h('q')} % 50) * (900 + {u('ep')} * 100), 2)::DOUBLE AS l_extendedprice,
            (({h('d')} % 11) / 100.0)::DOUBLE AS l_discount,
            (({h('tx')} % 9) / 100.0)::DOUBLE AS l_tax,
            {_pick(['A', 'N', 'R'], h('rf'))} AS l_returnflag,
            {_pick(['F', 'O'], h('ls'))} AS l_linestatus,
            {day('sd', '1995-01-02', 2498)} AS l_shipdate
            FROM range({ROWS['lineitem']}) t(i)""",
        "events": f"""SELECT i::BIGINT AS event_id,
            TIMESTAMP '2024-01-01' + INTERVAL (i * 259 + {h('j')} % 200) SECOND
              + INTERVAL ({h('us')} % 1000000) MICROSECOND AS ts,
            ({h('u')} % 150)::BIGINT AS user_id,
            {_pick(['click', 'view', 'purchase', 'signup', 'error'], h('et'))} AS event_type,
            round(0.01 + {u('v')} * 490, 2)::DOUBLE AS value,
            '{{"k": ' || ({h('k')} % 100) || '}}' AS props
            FROM range({ROWS['events']}) t(i)""",
        "documents": f"""SELECT i::BIGINT AS doc_id, text, 'en' AS lang,
            'src' || (i % 5) AS source, length(text)::BIGINT AS n_chars FROM (
              SELECT i, string_agg({_pick(WORDS, h('w', 'i * 1000 + j'))}, ' ' ORDER BY j) AS text
              FROM range({ROWS['documents']}) a(i), range(80) b(j)
              WHERE j < 20 + {h('len')} % 60 GROUP BY i)""",
        "embeddings": f"""SELECT i::BIGINT AS vec_id,
            list(((({h('e', 'i * 64 + j')} % 2000000) / 1000000.0) - 1.0)::FLOAT ORDER BY j)
              AS embedding,
            ({h('lab')} % 4)::INTEGER AS label
            FROM range({ROWS['embeddings']}) a(i), range(64) b(j) GROUP BY i""",
    }
    for name, sql in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql} ORDER BY 1) TO '{path}' (FORMAT PARQUET)")
    con.close()
