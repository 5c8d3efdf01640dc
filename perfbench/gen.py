"""Seeded input generator for the perfbench workloads.

Writes the engine's ten input tables (one parquet file each, the column
types of the star schema the engine reads) with DuckDB:

  base(sf)          fixed content, generated from a constant salt, cached
  replicate(10x)    sf1 from the sf0.1 base with injective key offsets
  permute(seed)     the base with every table's rows in a seeded order

A workload's inputs are permute(seed) of its base: the content, and so
every operator's result, is the same for every seed, while the physical
row order (and with it which rows share a parquet row group and a Spark
partition) changes with the seed.

run.py calls ensure_base() and permute(); the bases are cached under
perfbench/.work/base/.
"""
import hashlib
import os
import shutil

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Row counts per scale factor; sf1 is replicate(sf0.1) and has no entry.
SIZES = {
    "0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                lineitem=600000, events=100000, users=1500, documents=5000,
                embeddings=2000),
    "0.001": dict(customer=150, supplier=10, part=200, orders=1500,
                  lineitem=6000, events=1000, users=15, documents=500,
                  embeddings=500),
}

# Base content does not depend on the run's seed: expected outputs are
# stored per workload, so only the row order may vary between seeds.
SALT = 42

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def connect(threads=2):
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET preserve_insertion_order = true")
    # u(k, s): a uniform double in [0, 1) from a key and a stream name.
    con.execute(f"CREATE MACRO u(k, s) AS "
                f"(hash(k, s, {SALT}) >> 11)::DOUBLE / 9007199254740992.0")
    con.execute("CREATE MACRO pick(xs, k, s) AS xs[1 + floor(u(k, s) * len(xs))::INTEGER]")
    return con


def emit(con, dst, name, sql):
    con.execute(f"COPY ({sql}) TO '{dst}/{name}.parquet' (FORMAT PARQUET)")


def gen_base(dst, sf):
    n = SIZES[sf]
    os.makedirs(dst, exist_ok=True)
    con = connect()
    emit(con, dst, "region", """SELECT r::INTEGER AS r_regionkey,
        ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][r + 1] AS r_name
        FROM range(5) t(r)""")
    emit(con, dst, "nation", """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
        (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""")
    emit(con, dst, "customer", f"""SELECT i::BIGINT AS c_custkey,
        'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
        floor(u(i, 'c_nation') * 25)::INTEGER AS c_nationkey,
        round(-999.99 + u(i, 'c_acctbal') * 10999.98, 2) AS c_acctbal,
        pick(['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'], i, 'c_seg') AS c_mktsegment
        FROM range({n['customer']}) t(i)""")
    emit(con, dst, "supplier", f"""SELECT i::BIGINT AS s_suppkey,
        'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
        floor(u(i, 's_nation') * 25)::INTEGER AS s_nationkey,
        round(-999.99 + u(i, 's_acctbal') * 10999.98, 2) AS s_acctbal
        FROM range({n['supplier']}) t(i)""")
    emit(con, dst, "part", f"""SELECT i::BIGINT AS p_partkey,
        pick(['blue','old','large','hot','cold','small','new','red'], i, 'p_adj') || ' ' ||
        pick(['widget','gizmo','ring','gear','bolt','plate','rod','anvil'], i, 'p_noun') AS p_name,
        'Brand#' || (1 + floor(u(i, 'p_brand') * 25)::INTEGER) AS p_brand,
        pick(['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD'], i, 'p_type') AS p_type,
        (1 + floor(u(i, 'p_size') * 50))::INTEGER AS p_size,
        round(900 + (i % 1000) / 10.0, 1) AS p_retailprice
        FROM range({n['part']}) t(i)""")
    emit(con, dst, "orders", f"""SELECT i::BIGINT AS o_orderkey,
        floor(u(i, 'o_cust') * {n['customer']})::BIGINT AS o_custkey,
        pick(['F','O','P'], i, 'o_status') AS o_orderstatus,
        round(1000 + u(i, 'o_price') * 499000, 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(floor(u(i, 'o_date') * 2404)::INTEGER) AS o_orderdate,
        pick(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'], i, 'o_prio') AS o_orderpriority
        FROM range({n['orders']}) t(i)""")
    emit(con, dst, "lineitem", f"""SELECT
        floor(u(i, 'l_order') * {n['orders']})::BIGINT AS l_orderkey,
        floor(u(i, 'l_part') * {n['part']})::BIGINT AS l_partkey,
        floor(u(i, 'l_supp') * {n['supplier']})::BIGINT AS l_suppkey,
        (1 + floor(u(i, 'l_line') * 7))::INTEGER AS l_linenumber,
        (1 + floor(u(i, 'l_qty') * 50))::DOUBLE AS l_quantity,
        round(900 + u(i, 'l_price') * 104100, 2) AS l_extendedprice,
        floor(u(i, 'l_disc') * 11) / 100.0 AS l_discount,
        floor(u(i, 'l_tax') * 9) / 100.0 AS l_tax,
        pick(['A','N','R'], i, 'l_rflag') AS l_returnflag,
        pick(['F','O'], i, 'l_lstatus') AS l_linestatus,
        TIMESTAMP '1995-01-02' + to_days(floor(u(i, 'l_date') * 2498)::INTEGER) AS l_shipdate
        FROM range({n['lineitem']}) t(i)""")
    # Events arrive in event_id order over 30 days; values are exponential
    # with mean 50, props a one-key JSON object.
    emit(con, dst, "events", f"""SELECT i::BIGINT AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds(
          floor((i + u(i, 'e_ts')) * 2592000000000.0 / {n['events']})::BIGINT) AS ts,
        floor(u(i, 'e_user') * {n['users']})::BIGINT AS user_id,
        pick(['click','error','purchase','signup','view'], i, 'e_type') AS event_type,
        round(-ln(1 - u(i, 'e_value')) * 50, 2) AS value,
        '{{"k": ' || floor(u(i, 'e_k') * 100)::INTEGER || '}}' AS props
        FROM range({n['events']}) t(i)""")
    # Documents: 10-100 words from a 30-word vocabulary; 5% are a copy of
    # another document plus a ' dup' token (near duplicates) and 0.2% an
    # exact copy of another document.
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    nd = n["documents"]
    con.execute(f"""CREATE TEMP TABLE raw_docs AS
        SELECT d, string_agg(pick({vocab}, d * 1000 + w, 'd_word'), ' ' ORDER BY w) AS text
        FROM range({nd}) t(d), range(100) s(w)
        WHERE w < 10 + floor(u(d, 'd_len') * 91)
        GROUP BY d""")
    emit(con, dst, "documents", f"""WITH docs AS (
          SELECT r.d,
            CASE WHEN u(r.d, 'd_dup') < 0.05 THEN o.text || ' dup'
                 WHEN u(r.d, 'd_dup') < 0.052 THEN o.text
                 ELSE r.text END AS text
          FROM raw_docs r JOIN raw_docs o
            ON o.d = floor(u(r.d, 'd_src') * {nd})::BIGINT)
        SELECT d::BIGINT AS doc_id, text,
          CASE WHEN u(d, 'd_lang') < 0.41 THEN 'en'
               ELSE pick(['de','es','fr','zh'], d, 'd_lang2') END AS lang,
          'src' || (d % 20) AS source,
          length(text)::BIGINT AS n_chars
        FROM docs ORDER BY d""")
    # Embeddings: 64-d isotropic Gaussian (Box-Muller), unit-normalised.
    # The norm is a sequential list sum, so the floats do not depend on
    # how DuckDB splits the work between threads.
    emit(con, dst, "embeddings", f"""WITH g AS (
          SELECT v, list(sqrt(-2 * ln(1 - u(v * 64 + j, 'v_r'))) *
                         cos(2 * pi() * u(v * 64 + j, 'v_t')) ORDER BY j) AS xs
          FROM range({n['embeddings']}) t(v), range(64) s(j) GROUP BY v)
        SELECT v::BIGINT AS vec_id,
          list_transform(xs, x -> (x / sqrt(list_sum(list_transform(xs, y -> y * y))))::FLOAT)
            AS embedding,
          floor(u(v, 'v_label') * 10)::INTEGER AS label
        FROM g ORDER BY v""")
    con.close()


def gen_replicated(src, dst):
    """sf1 from sf0.1: ten copies with injective key offsets (the
    construction of scripts/gen_sf1.py)."""
    os.makedirs(dst, exist_ok=True)
    con = connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')")
    base = {t: con.execute(f"SELECT max({k}) + 1 FROM {t}").fetchone()[0]
            for t, k in [("customer", "c_custkey"), ("supplier", "s_suppkey"),
                         ("part", "p_partkey"), ("orders", "o_orderkey"),
                         ("events", "event_id"), ("documents", "doc_id"),
                         ("embeddings", "vec_id")]}
    umax = con.execute("SELECT max(user_id) + 1 FROM events").fetchone()[0]
    C, S, P, O = base["customer"], base["supplier"], base["part"], base["orders"]
    E, D, V = base["events"], base["documents"], base["embeddings"]
    copies = "(SELECT unnest(generate_series(0, 9)) AS i)"
    tag = "repeat(chr(CAST(96 + i AS INTEGER)), 2)"
    for t in ["region", "nation"]:
        emit(con, dst, t, f"SELECT * FROM {t}")
    emit(con, dst, "customer", f"""SELECT c_custkey + i*{C} AS c_custkey, c_name, c_nationkey,
        c_acctbal, c_mktsegment FROM customer, {copies} c""")
    emit(con, dst, "supplier", f"""SELECT s_suppkey + i*{S} AS s_suppkey, s_name, s_nationkey,
        s_acctbal FROM supplier, {copies} c""")
    # A copy-unique name suffix keeps fuzzy name pairs inside one copy.
    emit(con, dst, "part", f"""SELECT p_partkey + i*{P} AS p_partkey,
        CASE WHEN i = 0 THEN p_name ELSE p_name || ' ' || {tag} END AS p_name,
        p_brand, p_type, p_size, p_retailprice FROM part, {copies} c""")
    emit(con, dst, "orders", f"""SELECT o_orderkey + i*{O} AS o_orderkey, o_custkey + i*{C} AS o_custkey,
        o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders, {copies} c""")
    emit(con, dst, "lineitem", f"""SELECT l_orderkey + i*{O} AS l_orderkey, l_partkey + i*{P} AS l_partkey,
        l_suppkey + i*{S} AS l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
        l_tax, l_returnflag, l_linestatus, l_shipdate FROM lineitem, {copies} c""")
    emit(con, dst, "events", f"""SELECT event_id + i*{E} AS event_id, ts, user_id + i*{umax} AS user_id,
        event_type, value, props FROM events, {copies} c""")
    # Copies >= 1 prefix every word with a copy tag: an injective word map,
    # so near-duplicate structure replicates inside a copy and not across.
    text = (f"CASE WHEN i = 0 THEN text ELSE array_to_string("
            f"list_transform(string_split(text, ' '), w -> {tag} || w), ' ') END")
    emit(con, dst, "documents", f"""SELECT doc_id + i*{D} AS doc_id, {text} AS text, lang, source,
        CAST(length({text}) AS BIGINT) AS n_chars FROM documents, {copies} c""")
    # A circular dimension rotation per copy keeps norms and decorrelates copies.
    emit(con, dst, "embeddings", f"""SELECT vec_id + i*{V} AS vec_id,
        CAST(CASE WHEN i = 0 THEN embedding
             ELSE list_concat(embedding[i+1:], embedding[1:i]) END AS FLOAT[]) AS embedding,
        label FROM embeddings, {copies} c""")
    con.close()


def permute(src, dst, seed):
    """Every table of `src` with its rows in an order drawn from `seed`."""
    os.makedirs(dst, exist_ok=True)
    con = connect(threads=4)
    for t in TABLES:
        rows = f"read_parquet('{src}/{t}.parquet', file_row_number = true)"
        emit(con, dst, t, f"""SELECT * EXCLUDE (file_row_number) FROM {rows}
            ORDER BY hash(file_row_number, {int(seed)}), file_row_number""")
    con.close()


# Cached bases are keyed by this file's content, so an edit regenerates them.
with open(__file__, "rb") as _f:
    VERSION = hashlib.sha1(_f.read()).hexdigest()[:10]


def ensure_base(cache, sf):
    """The cached base of `sf`, generated on first use."""
    dst = os.path.join(cache, f"sf{sf}-{VERSION}")
    if os.path.exists(os.path.join(dst, "_DONE")):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if sf == "1":
        gen_replicated(ensure_base(cache, "0.1"), tmp)
    else:
        gen_base(tmp, sf)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, dst)
    return dst
