#!/usr/bin/env python3
"""Local sf-slice generator for scale soaks (e.g. sf1 = 10x sf0.1).

The driver's testdata is read-only and stops at sf0.1; this reproduces the
same SHAPE (schemas, cardinality ratios, vocab text, clustered embeddings,
30-day event window) at a larger scale factor so the dedup/ANN/graph
families get a 100x-vs-sf0.01 data point. Distributions are extrapolated
from /root/testdata/sf0.1 — close enough for ratio analysis, NOT a
replacement for the driver's correctness corpora. Seeded + deterministic.

Value domains follow the sf corpora (event types, two-decimal event
values, 1995-2001 order/ship dates, part names, brands and types): rows
that filter or group on those values (q5, q9, q_markov_attribution's fixed
channel list) return nothing, or cannot match their oracle, on any other
domain.

Usage: python3 tools/gen_sf.py <scale-vs-sf0.1> <out dir>   # e.g. 10 /tmp/sf1
"""
import sys, os
import duckdb

mult = float(sys.argv[1])
out = sys.argv[2]
os.makedirs(out, exist_ok=True)
con = duckdb.connect()
con.execute("SELECT setseed(0.42)")

def save(name, sql):
    con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT parquet)")
    n = con.execute(f"SELECT count(*) FROM read_parquet('{out}/{name}.parquet')").fetchone()[0]
    print(f"{name}: {n} rows")

N_DOC   = int(5000 * mult)
N_EMB   = int(2000 * mult)
N_EVT   = int(100000 * mult)
N_ORD   = int(150000 * mult)
N_LINE  = int(600000 * mult)
N_CUST  = int(15000 * mult)
N_PART  = int(20000 * mult)
N_SUPP  = int(1000 * mult)

VOCAB = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query a big key window row table stream merge "
         "data vector join plan page").split()  # 30 words + 'spark' dup ~ sf vocab of 31
VOCAB_SQL = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"

# documents: 10..100 vocab words; ~0.2% planted exact dups; lang/source mix as sf0.1
save("documents", f"""
  WITH base AS (
    -- per-doc draws are HASH-deterministic, not random(): DuckDB may
    -- re-evaluate a CTE per reference, and a random n_words would make the
    -- a-side and b-side of the dup-plant join disagree on the text, so no
    -- exact duplicates would ever land (caught in review of the v1 corpus:
    -- 49999/50000 distinct texts)
    SELECT i AS doc_id,
      10 + (hash(i * 7919 + 1) % 90)::INT AS n_words,
      CASE (hash(i * 104729 + 2) % 20)
           WHEN 0 THEN 'zh' WHEN 1 THEN 'zh' WHEN 2 THEN 'zh'
           WHEN 3 THEN 'es' WHEN 4 THEN 'es' WHEN 5 THEN 'es'
           WHEN 6 THEN 'fr' WHEN 7 THEN 'fr' WHEN 8 THEN 'fr'
           WHEN 9 THEN 'de' WHEN 10 THEN 'de' WHEN 11 THEN 'de'
           ELSE 'en' END AS lang,
      'src' || (i % 20) AS source
    FROM range(0, {N_DOC}) t(i)),
  txt AS (
    SELECT doc_id, lang, source,
      array_to_string(list_transform(range(1, n_words + 1),
        x -> ({VOCAB_SQL})[1 + (hash(doc_id * 1000003 + x) % {len(VOCAB)})::INT]), ' ') AS t0
    FROM base),
  dup AS (  -- plant exact dups: every 500th doc copies its predecessor's text
    SELECT a.doc_id, a.lang, a.source,
      CASE WHEN a.doc_id % 500 = 499 THEN b.t0 ELSE a.t0 END AS text
    FROM txt a LEFT JOIN txt b ON b.doc_id = a.doc_id - 1)
  SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars
  FROM dup ORDER BY doc_id
""")

# embeddings: 64-dim, 10 label clusters (center +- noise), like sf0.1
save("embeddings", f"""
  SELECT i AS vec_id,
    list_transform(range(0, 64), d ->
      (CASE WHEN (hash((i % 10) * 64 + d) % 1000) / 500.0 - 1.0 > 0 THEN 1.0 ELSE -1.0 END
       + ((hash(i * 64 + d) % 1000) / 1000.0 - 0.5))::FLOAT) AS embedding,
    (i % 10)::INT AS label
  FROM range(0, {N_EMB}) t(i)
""")

# events: 30-day window, zipf-ish users, the sf corpora's 5 event types,
# exponential values (mean 50) with two decimals
save("events", f"""
  SELECT i AS event_id,
    TIMESTAMP '2024-01-01' + to_seconds(floor(random() * 2591999)::INT)
      + to_microseconds(floor(random() * 999999)::INT) AS ts,
    floor(power(random(), 2.0) * {int(1500 * mult)})::BIGINT AS user_id,
    (['click','signup','error','view','purchase'])[1 + floor(random()*5)::INT] AS event_type,
    round(-50 * ln(1 - random()), 2) AS value,
    '{{"k":' || floor(random()*100)::INT || '}}' AS props
  FROM range(0, {N_EVT}) t(i)
""")

save("orders", f"""
  SELECT i AS o_orderkey,
    floor(random() * {N_CUST})::BIGINT AS o_custkey,
    (['O','F','P'])[1 + floor(random()*3)::INT] AS o_orderstatus,
    round(1000 + random() * 400000, 2) AS o_totalprice,
    TIMESTAMP '1995-01-01' + to_days(floor(random() * 2404)::INT) AS o_orderdate,
    (['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'])[1 + floor(random()*5)::INT] AS o_orderpriority
  FROM range(0, {N_ORD}) t(i)
""")

save("lineitem", f"""
  SELECT floor(random() * {N_ORD})::BIGINT AS l_orderkey,
    floor(random() * {N_PART})::BIGINT AS l_partkey,
    floor(random() * {N_SUPP})::BIGINT AS l_suppkey,
    1 + (i % 7)::INT AS l_linenumber,
    (1 + floor(random() * 49)::INT)::DOUBLE AS l_quantity,
    round(900 + random() * 100000, 2) AS l_extendedprice,
    round(floor(random() * 10)::INT / 100.0, 2) AS l_discount,
    round(floor(random() * 8)::INT / 100.0, 2) AS l_tax,
    (['A','N','R'])[1 + floor(random()*3)::INT] AS l_returnflag,
    (['O','F'])[1 + floor(random()*2)::INT] AS l_linestatus,
    TIMESTAMP '1995-01-02' + to_days(floor(random() * 2498)::INT) AS l_shipdate
  FROM range(0, {N_LINE}) t(i)
""")

save("customer", f"""
  SELECT i AS c_custkey, 'Customer#' || i AS c_name,
    floor(random() * 25)::INT AS c_nationkey,
    round(-999 + random() * 10000, 2) AS c_acctbal,
    (['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'])[1 + floor(random()*5)::INT] AS c_mktsegment
  FROM range(0, {N_CUST}) t(i)
""")

save("supplier", f"""
  SELECT i AS s_suppkey, 'Supplier#' || i AS s_name,
    floor(random() * 25)::INT AS s_nationkey,
    round(-999 + random() * 10000, 2) AS s_acctbal
  FROM range(0, {N_SUPP}) t(i)
""")

# sf corpora's part domains: "<adjective> <noun>" names, Brand#1..25,
# one-word types
save("part", f"""
  SELECT i AS p_partkey,
    (['blue','old','small','new','large','hot','cold','red'])[1 + floor(random()*8)::INT] || ' ' ||
    (['widget','gizmo','ring','gear','bolt','plate','rod','anvil'])[1 + floor(random()*8)::INT] AS p_name,
    'Brand#' || (1 + floor(random()*25)::INT) AS p_brand,
    (['LARGE','ECONOMY','STANDARD','SMALL','MEDIUM','PROMO'])[1 + floor(random()*6)::INT] AS p_type,
    1 + floor(random() * 50)::INT AS p_size,
    round(900 + (i % 200) * 10 + random() * 100, 2) AS p_retailprice
  FROM range(0, {N_PART}) t(i)
""")

con.execute(f"COPY (SELECT * FROM read_parquet('/root/testdata/sf0.1/region.parquet')) TO '{out}/region.parquet' (FORMAT parquet)")
con.execute(f"COPY (SELECT * FROM read_parquet('/root/testdata/sf0.1/nation.parquet')) TO '{out}/nation.parquet' (FORMAT parquet)")
print("region/nation: copied")

# Sanity: DuckDB casts double->int by ROUNDING, so a naive
# `1 + (random()*n)::INT` indexes past a list's end ~0.5/n of the time and
# yields NULLs (caught in review; all draws above use floor()). Assert the
# generated corpus carries no NULL categoricals and no out-of-range keys.
checks = [
    ("events", "event_type IS NULL OR user_id IS NULL"),
    ("orders", "o_orderstatus IS NULL OR o_orderpriority IS NULL OR o_custkey >= " + str(N_CUST)),
    ("lineitem", "l_returnflag IS NULL OR l_linestatus IS NULL OR l_orderkey >= " + str(N_ORD)),
    ("customer", "c_mktsegment IS NULL"),
    ("part", "p_type IS NULL OR p_name IS NULL"),
    ("documents", "text IS NULL OR lang IS NULL"),
]
for t, pred in checks:
    bad = con.execute(f"SELECT count(*) FROM read_parquet('{out}/{t}.parquet') WHERE {pred}").fetchone()[0]
    assert bad == 0, f"{t}: {bad} rows violate '{pred}'"
print("sanity: no NULL categoricals, keys in range")
