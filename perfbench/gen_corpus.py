"""Seeded registry corpus of the sf0.1 shape (a seeded copy of tools/gen_sf.py).

Same schemas, cardinality ratios, vocabulary text, clustered embeddings and
30-day event window as tools/gen_sf.py, with the value domains of the sf
corpora where gen_sf.py drifted from them: event types and two-decimal
event values, 1995-2001 order and ship dates, part names, brands and types.
Rows that filter on those values (q5, q9, the attribution rows) would
otherwise read empty or off-shape inputs. `mult` scales row counts against
sf0.1 (0.1 gives the sf0.01 size). Every random draw depends on `seed`, and
DuckDB runs single-threaded so the same seed writes the same tables.
"""
import os

import duckdb

VOCAB = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query a big key window row table stream merge "
         "data vector join plan page").split()
VOCAB_SQL = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"


def generate(out, seed, mult):
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute(f"SELECT setseed({(seed * 7919 % 20000) / 10000.0 - 1.0})")
    s = seed * 1000003  # salt of the hash-deterministic draws

    def save(name, sql):
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT parquet)")

    n_doc, n_emb, n_evt = int(5000 * mult), int(2000 * mult), int(100000 * mult)
    n_ord, n_line, n_cust = int(150000 * mult), int(600000 * mult), int(15000 * mult)
    n_part, n_supp = int(20000 * mult), max(25, int(1000 * mult))

    # documents: 10..100 vocab words; every 500th doc an exact dup of its predecessor
    save("documents", f"""
      WITH base AS (
        SELECT i AS doc_id,
          10 + (hash(i * 7919 + 1 + {s}) % 90)::INT AS n_words,
          CASE (hash(i * 104729 + 2 + {s}) % 20)
               WHEN 0 THEN 'zh' WHEN 1 THEN 'zh' WHEN 2 THEN 'zh'
               WHEN 3 THEN 'es' WHEN 4 THEN 'es' WHEN 5 THEN 'es'
               WHEN 6 THEN 'fr' WHEN 7 THEN 'fr' WHEN 8 THEN 'fr'
               WHEN 9 THEN 'de' WHEN 10 THEN 'de' WHEN 11 THEN 'de'
               ELSE 'en' END AS lang,
          'src' || (i % 20) AS source
        FROM range(0, {n_doc}) t(i)),
      txt AS (
        SELECT doc_id, lang, source,
          array_to_string(list_transform(range(1, n_words + 1),
            x -> ({VOCAB_SQL})[1 + (hash(doc_id * 1000003 + x + {s}) % {len(VOCAB)})::INT]), ' ') AS t0
        FROM base),
      dup AS (
        SELECT a.doc_id, a.lang, a.source,
          CASE WHEN a.doc_id % 500 = 499 THEN b.t0 ELSE a.t0 END AS text
        FROM txt a LEFT JOIN txt b ON b.doc_id = a.doc_id - 1)
      SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars
      FROM dup ORDER BY doc_id""")

    # embeddings: 64-dim, 10 label clusters (center +- noise)
    save("embeddings", f"""
      SELECT i AS vec_id,
        list_transform(range(0, 64), d ->
          (CASE WHEN (hash((i % 10) * 64 + d + {s}) % 1000) / 500.0 - 1.0 > 0 THEN 1.0 ELSE -1.0 END
           + ((hash(i * 64 + d + {s}) % 1000) / 1000.0 - 0.5))::FLOAT) AS embedding,
        (i % 10)::INT AS label
      FROM range(0, {n_emb}) t(i) ORDER BY i""")

    # events: 30-day window, zipf-ish users, the five event types of the sf
    # corpora, exponential values (mean 50) with two decimals
    save("events", f"""
      SELECT i AS event_id,
        TIMESTAMP '2024-01-01' + to_seconds(floor(random() * 2591999)::INT)
          + to_microseconds(floor(random() * 999999)::INT) AS ts,
        floor(power(random(), 2.0) * {max(1, int(1500 * mult))})::BIGINT AS user_id,
        (['click','signup','error','view','purchase'])[1 + floor(random()*5)::INT] AS event_type,
        round(-50 * ln(1 - random()), 2) AS value,
        '{{"k": ' || floor(random()*100)::INT || '}}' AS props
      FROM range(0, {n_evt}) t(i)""")

    # TPC-H tables with the sf corpora's value domains (1995-2001 dates,
    # Brand#1..25, one-word part types, "<adjective> <noun>" part names)
    save("orders", f"""
      SELECT i AS o_orderkey,
        floor(random() * {n_cust})::BIGINT AS o_custkey,
        (['O','F','P'])[1 + floor(random()*3)::INT] AS o_orderstatus,
        round(1000 + random() * 499000, 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(floor(random() * 2404)::INT) AS o_orderdate,
        (['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'])[1 + floor(random()*5)::INT] AS o_orderpriority
      FROM range(0, {n_ord}) t(i)""")

    save("lineitem", f"""
      SELECT floor(random() * {n_ord})::BIGINT AS l_orderkey,
        floor(random() * {n_part})::BIGINT AS l_partkey,
        floor(random() * {n_supp})::BIGINT AS l_suppkey,
        1 + (i % 7)::INT AS l_linenumber,
        (1 + floor(random() * 50)::INT)::DOUBLE AS l_quantity,
        round(900 + random() * 104000, 2) AS l_extendedprice,
        round(floor(random() * 11)::INT / 100.0, 2) AS l_discount,
        round(floor(random() * 9)::INT / 100.0, 2) AS l_tax,
        (['A','N','R'])[1 + floor(random()*3)::INT] AS l_returnflag,
        (['O','F'])[1 + floor(random()*2)::INT] AS l_linestatus,
        TIMESTAMP '1995-01-02' + to_days(floor(random() * 2498)::INT) AS l_shipdate
      FROM range(0, {n_line}) t(i)""")

    save("customer", f"""
      SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
        floor(random() * 25)::INT AS c_nationkey,
        round(-999.99 + random() * 10999.98, 2) AS c_acctbal,
        (['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'])[1 + floor(random()*5)::INT] AS c_mktsegment
      FROM range(0, {n_cust}) t(i)""")

    save("supplier", f"""
      SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
        floor(random() * 25)::INT AS s_nationkey,
        round(-999.99 + random() * 10999.98, 2) AS s_acctbal
      FROM range(0, {n_supp}) t(i)""")

    save("part", f"""
      SELECT i AS p_partkey,
        (['blue','old','small','new','large','hot','cold','red'])[1 + floor(random()*8)::INT] || ' ' ||
        (['widget','gizmo','ring','gear','bolt','plate','rod','anvil'])[1 + floor(random()*8)::INT] AS p_name,
        'Brand#' || (1 + floor(random()*25)::INT) AS p_brand,
        (['LARGE','ECONOMY','STANDARD','SMALL','MEDIUM','PROMO'])[1 + floor(random()*6)::INT] AS p_type,
        1 + floor(random() * 50)::INT AS p_size,
        round(900 + (i % 1000) / 10.0, 2) AS p_retailprice
      FROM range(0, {n_part}) t(i)""")

    # TPC-H's fixed 5 regions / 25 nations, as in the sf corpora
    save("region", """
      SELECT i::INT AS r_regionkey,
        (['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'])[i + 1] AS r_name
      FROM range(0, 5) t(i)""")
    save("nation", """
      SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name, (i % 5)::INT AS n_regionkey
      FROM range(0, 25) t(i)""")
    con.close()
