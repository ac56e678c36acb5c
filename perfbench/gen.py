"""Seeded input generator, written with DuckDB.

Every value is a pure function of (seed, column tag, row key) through
DuckDB's `hash`, so the same seed writes the same rows. Table sizes are
fixed per workload; the seed varies every attribute value, which keys the
facts reference, order and ship dates, which parts and customers each
delta batch changes, document texts and their near-duplicate families,
embedding clusters, and the dashboard and kNN request sequences.

Medallion tables follow the repository's fixture schema (FIXTURES.md) plus
a `modified_at` change timestamp, the watermark column a change-data
extract reads. Layout under the output directory:

  medallion: source/<table>.parquet/            the base snapshot
             deltas/<table>/batch=<b>/          delta batch b
             requests.json                      dashboard requests
  curation:  corpus/embeddings.parquet/         the kNN corpus
             shard-<i>/{documents,embeddings}.parquet/
             knn/r-<i>/embeddings.parquet/      kNN request i's query vectors
             requests.json                      kNN requests
"""
import hashlib
import json
import os
import random

import duckdb

# Row counts of the sf0.1 fixtures, the scale TESTDATA.md names for
# benchmarks (counted from the fixture files). A run may read only its
# checkout, so the generator writes fixture-schema tables at these sizes
# times a workload's scale instead of reading the fixtures.
SF01 = dict(customer=15000, supplier=1000, part=20000, orders=150000, lineitem=600000,
            events=100000, documents=5000, embeddings=2000)
SF01_ORDER_DAYS = 2405  # distinct order dates, 1995-01-01 .. 2001-08-01
SF01_EVENT_DAYS = 30    # event timestamps span 2024-01-01 .. 2024-01-30
# The medallion base is sf0.1 at 1/15: the full load runs in every run's
# set-up and a run must fit its share of the run budget.
MEDALLION_SCALE = 1 / 15
# A curation shard is sf0.1's documents and embeddings at 0.4: the
# post-run oracle check of a full-size shard alone takes about 15 s. The kNN
# corpus is sf0.1's embeddings at full size.
SHARD_SCALE = 0.4
# Reads the closed-loop client sends after each write. No source gives the
# reference's read:write ratio; these counts come from the tail metric,
# the highest percentile with ten reads beyond it. 100 dashboard reads make
# it the 90th percentile; a kNN read takes about five dashboard reads' time,
# so 25 kNN reads (the 60th percentile) are what fits a run.
DASHBOARD_READS_PER_WRITE = 100
KNN_READS_PER_WRITE = 25


def medallion_sizes(scale=MEDALLION_SCALE):
    """Base table sizes and, per delta batch, one day of new orders (four
    lines each, as in sf0.1) and events at sf0.1's daily rates, all at
    `scale`. Each batch also changes 1% of the parts and customers: the
    fixtures carry no change history, so that rate is assumed."""
    n = {t: round(SF01[t] * scale) for t in ["customer", "supplier", "part", "orders", "events"]}
    return dict(customers=n["customer"], suppliers=n["supplier"], parts=n["part"],
                orders=n["orders"], events=n["events"],
                delta_orders=max(1, round(SF01["orders"] / SF01_ORDER_DAYS * scale)),
                delta_events=max(1, round(SF01["events"] / SF01_EVENT_DAYS * scale)),
                delta_parts=max(1, n["part"] // 100), delta_customers=max(1, n["customer"] // 100),
                batches=5)


MEDALLION = medallion_sizes()
CURATION = dict(shards=2, docs=round(SF01["documents"] * SHARD_SCALE),
                vecs=round(SF01["embeddings"] * SHARD_SCALE),
                corpus_vecs=SF01["embeddings"], knn_requests=KNN_READS_PER_WRITE)
T0 = 1704067200  # 2024-01-01T00:00:00Z; base rows change in its first hour, batch b on day b + 1

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["large", "hot", "blue", "small", "shiny", "dark", "plated", "brushed"]
NOUNS = ["ring", "bolt", "gear", "valve", "pipe", "spring", "shaft", "nut"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = ["spark", "slow", "line", "value", "filter", "customer", "fast", "stream", "hash",
         "table", "key", "group", "query", "scan", "order", "window", "join", "part", "vector",
         "row", "data", "batch", "column", "sort", "agg", "merge", "big", "small", "index",
         "shard", "token", "model", "cache", "plan", "commit", "file"] + [f"w{i}" for i in range(500)]
# the stopword lists of graft.text.TextAnalysis, which its language gate scores
STOPWORDS = {"de": ["der", "die", "und", "ist", "nicht"], "en": ["the", "a", "of", "to", "in"],
             "es": ["el", "la", "de", "que", "y"], "fr": ["le", "les", "des", "une", "est"],
             "zh": ["的", "是", "不", "我", "了"]}
LANGS = ["en", "en", "de", "es", "fr", "zh"]


def sql_list(xs):
    return "[" + ", ".join("'" + x.replace("'", "''") + "'" for x in xs) + "]"


def connect(seed):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    s = int(seed)
    for n in (1, 2, 3, 4):
        args = ", ".join(f"a{i}" for i in range(n))
        # the outer hash re-mixes: DuckDB combines the hashes of several
        # arguments too weakly for neighbouring keys to look independent
        con.execute(f"CREATE MACRO ri{n}(tag, m, {args}) AS "
                    f"(hash(hash({s}, tag, {args})) % m::UBIGINT)::BIGINT")
        con.execute(f"CREATE MACRO u{n}(tag, {args}) AS "
                    f"(hash(hash({s}, tag, {args})) % 1099511627776::UBIGINT)::DOUBLE / 1099511627776.0")
    con.execute(f"CREATE MACRO mod_at(ver, id) AS to_timestamp({T0} + (ver + 1) * 86400 + id % 3600)")
    return con


def copy(con, select, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    con.execute(f"COPY ({select}) TO '{path}' (FORMAT PARQUET)")


def medallion_tables(s):
    """SELECT templates over an `ids(id, ver)` relation: `ver` is -1 for the
    base snapshot and b for a row delta batch b adds or changes."""
    n_orders, d_orders = s["orders"], s["delta_orders"]
    order_date = (f"CASE WHEN {{k}} < {n_orders} THEN DATE '1995-01-01' + ri1(12, 2372, {{k}})::INTEGER "
                  f"ELSE DATE '2001-07-01' + (({{k}} - {n_orders}) // {d_orders})::INTEGER * 3 "
                  f"+ ri1(13, 3, {{k}})::INTEGER END")
    return {
        "region": f"""SELECT id::INTEGER AS r_regionkey, {sql_list(REGIONS)}[id + 1] AS r_name,
                      mod_at(ver, id) AS modified_at FROM ids""",
        "nation": """SELECT id::INTEGER AS n_nationkey, 'NATION_' || id AS n_name,
                     (id % 5)::INTEGER AS n_regionkey, mod_at(ver, id) AS modified_at FROM ids""",
        "customer": f"""SELECT id AS c_custkey, printf('Customer#%09d', id) AS c_name,
                        ri2(1, 25, id, ver)::INTEGER AS c_nationkey,
                        round(u2(2, id, ver) * 10999.99 - 999.99, 2) AS c_acctbal,
                        {sql_list(SEGMENTS)}[1 + ri2(3, 5, id, ver)] AS c_mktsegment,
                        mod_at(ver, id) AS modified_at FROM ids""",
        "supplier": """SELECT id AS s_suppkey, printf('Supplier#%09d', id) AS s_name,
                       ri1(4, 25, id)::INTEGER AS s_nationkey,
                       round(u1(5, id) * 10999.99 - 999.99, 2) AS s_acctbal,
                       mod_at(ver, id) AS modified_at FROM ids""",
        "part": f"""SELECT id AS p_partkey,
                    {sql_list(ADJECTIVES)}[1 + ri1(6, 8, id)] || ' ' || {sql_list(NOUNS)}[1 + ri1(7, 8, id)] AS p_name,
                    'Brand#' || (1 + ri2(8, 25, id, ver)) AS p_brand,
                    {sql_list(TYPES)}[1 + ri1(9, 6, id)] AS p_type,
                    (1 + ri1(10, 50, id))::INTEGER AS p_size,
                    round(900.0 + u2(11, id, ver) * 1100.0, 2) AS p_retailprice,
                    mod_at(ver, id) AS modified_at FROM ids""",
        "orders": f"""SELECT id AS o_orderkey, ri1(14, {s['customers']}, id) AS o_custkey,
                      ['F', 'O', 'P'][1 + ri1(15, 3, id)] AS o_orderstatus,
                      round(u1(16, id) * 500000.0 + 1000.0, 2) AS o_totalprice,
                      ({order_date.format(k='id')})::TIMESTAMP AS o_orderdate,
                      {sql_list(PRIORITIES)}[1 + ri1(17, 5, id)] AS o_orderpriority,
                      mod_at(ver, id) AS modified_at FROM ids""",
        # four lines per order: line id `id` belongs to order id // 4
        "lineitem": f"""SELECT id // 4 AS l_orderkey, ri1(21, {s['parts']}, id) AS l_partkey,
                        ri1(22, {s['suppliers']}, id) AS l_suppkey,
                        (id % 4 + 1)::INTEGER AS l_linenumber,
                        (1 + ri1(20, 50, id))::DOUBLE AS l_quantity,
                        round((1 + ri1(20, 50, id)) * round(900.0 + u1(23, id) * 1100.0, 2), 2) AS l_extendedprice,
                        ri1(24, 11, id) / 100.0 AS l_discount, ri1(25, 9, id) / 100.0 AS l_tax,
                        ['A', 'N', 'R'][1 + ri1(26, 3, id)] AS l_returnflag,
                        ['F', 'O'][1 + ri1(27, 2, id)] AS l_linestatus,
                        ({order_date.format(k='id // 4')} + (1 + ri1(28, 120, id))::INTEGER)::TIMESTAMP AS l_shipdate,
                        mod_at(ver, id) AS modified_at FROM ids""",
        "events": f"""SELECT id AS event_id, to_timestamp({T0} + id * 30)::TIMESTAMP AS ts,
                      ri1(30, 5000, id) AS user_id, {sql_list(EVENT_TYPES)}[1 + ri1(31, 5, id)] AS event_type,
                      round(u1(32, id) * 200.0, 2) AS value, printf('{{"k": %d}}', ri1(33, 100, id)) AS props,
                      mod_at(ver, id) AS modified_at FROM ids""",
    }


def dashboard_requests(seed, s, n=DASHBOARD_READS_PER_WRITE):
    """Seeded aggregate queries over the medallion's published tables, as
    (table, SQL filter, measure); filters read alike in Spark and DuckDB."""
    r = random.Random(seed)

    def month():
        return 199501 + 100 * r.randrange(7) + r.randrange(12)
    out = []
    for i in range(n):
        k = i % 8
        if k == 0:
            q = ("mart/sales_summary", f"nation_name = 'NATION_{r.randrange(25)}' AND order_year = {1995 + r.randrange(7)}",
                 "total_revenue")
        elif k == 1:
            q = ("mart/sales_summary_calendar", f"brand = 'Brand#{1 + r.randrange(25)}' AND year = "
                 f"{1995 + r.randrange(7)} AND month = {1 + r.randrange(12)}", "revenue")
        elif k == 2:
            q = ("mart/top_products", "total_revenue > 0", "total_revenue")
        elif k == 3:
            p = r.randrange(s["parts"])
            q = ("mart/product_enriched", f"part_key >= {p} AND part_key < {p + 200}", "total_revenue")
        elif k == 4:
            c = r.randrange(s["customers"])
            q = ("gold/dim_customer", f"customer_key >= {c} AND customer_key < {c + 500}", "acctbal")
        elif k == 5:
            m = month()
            q = ("mart/revenue_by_month", f"order_month >= {m} AND order_month <= {m + 100}", "total")
        elif k == 6:
            q = ("gold/fact_sales", f"order_month = {month()}", "net_revenue")
        else:
            q = ("gold/dim_product", f"is_current AND p_brand = 'Brand#{1 + r.randrange(25)}'", "price_cents")
        out.append(dict(zip(["table", "filter", "measure"], q)))
    return out


def medallion(out, seed, s=MEDALLION):
    con = connect(seed)
    tables = medallion_tables(s)
    base = {"region": 5, "nation": 25, "customer": s["customers"], "supplier": s["suppliers"],
            "part": s["parts"], "orders": s["orders"], "lineitem": 4 * s["orders"], "events": s["events"]}
    for t, n in base.items():
        con.execute(f"CREATE OR REPLACE TEMP VIEW ids AS SELECT range AS id, -1 AS ver FROM range({n})")
        copy(con, tables[t] + " ORDER BY 1", f"{out}/source/{t}.parquet/part-00000.parquet")
    for b in range(s["batches"]):
        appended = {"orders": (s["orders"], s["delta_orders"]),
                    "lineitem": (4 * s["orders"], 4 * s["delta_orders"]),
                    "events": (s["events"], s["delta_events"])}
        for t, (start, per) in appended.items():
            con.execute(f"""CREATE OR REPLACE TEMP VIEW ids AS
                SELECT {start} + {b} * {per} + range AS id, {b} AS ver FROM range({per})""")
            copy(con, tables[t] + " ORDER BY 1", f"{out}/deltas/{t}/batch={b}/part-00000.parquet")
        # changed rows: a contiguous key block at a seeded offset, so no key
        # changes twice in one batch
        for t, n, per, tag in [("part", s["parts"], s["delta_parts"], 40),
                               ("customer", s["customers"], s["delta_customers"], 41)]:
            con.execute(f"""CREATE OR REPLACE TEMP VIEW ids AS
                SELECT (ri1({tag}, {n}, {b}) + range) % {n} AS id, {b} AS ver FROM range({per})""")
            copy(con, tables[t] + " ORDER BY 1", f"{out}/deltas/{t}/batch={b}/part-00000.parquet")
    with open(f"{out}/requests.json", "w") as f:
        json.dump({"dashboard": dashboard_requests(seed, s)}, f)
    con.close()


def curation(out, seed, s=CURATION):
    """Documents come in near-duplicate families: a family is a token
    sequence (20-69 tokens, a fifth of them stopwords of the family's
    language) opened by a salt token that depends on (seed, shard); each
    member is an exact copy (30%), a copy with ~5% of its tokens replaced
    (50%) or a 70% prefix excerpt (20%). Vectors are 64-dim around ten
    seeded cluster centres: tight ones in the kNN corpus, weak ones in the
    shards, where every tenth vector is a near-copy of the one before."""
    con = connect(seed)
    nw = len(WORDS)
    n_fam = s["docs"] * 6 // 10
    con.execute("CREATE TEMP TABLE vocab AS SELECT range AS i, " + sql_list(WORDS) + "[range + 1] AS w "
                f"FROM range({nw})")
    con.execute("CREATE TEMP TABLE stop AS SELECT l.range + 1 AS li, j.range AS j, ["
                + ", ".join(sql_list(STOPWORDS[lang]) for lang in LANGS)
                + "][l.range + 1][j.range + 1] AS w FROM range(6) l, range(5) j")
    # kNN corpus: tight clusters, so IVF lists hold the true neighbours
    vectors = """SELECT {id} AS vec_id,
        list_transform(range(64), d -> ((u2(61, ri2(60, 10, {id}, {shard}), d) * 2.0 - 1.0)
            + (u3(62, {id}, {shard}, d) * 2.0 - 1.0) * 0.6)::FLOAT) AS embedding,
        ri2(60, 10, {id}, {shard})::INTEGER AS label"""
    # shard vectors for embedding dedup: weak clusters, and every tenth
    # vector a near-copy of the one before it
    shard_vectors = """SELECT range AS vec_id,
        list_transform(range(64), d -> ((u2(61, ri2(60, 10, src, {shard}), d) * 2.0 - 1.0) * 0.3
            + (u3(62, src, {shard}, d) * 2.0 - 1.0)
            + CASE WHEN src = range THEN 0.0 ELSE (u3(63, range, {shard}, d) * 2.0 - 1.0) * 0.1 END
            )::FLOAT) AS embedding,
        ri2(60, 10, src, {shard})::INTEGER AS label
        FROM (SELECT range, CASE WHEN range % 10 = 1 THEN range - 1 ELSE range END AS src FROM range({n}))"""
    for i in range(s["shards"]):
        copy(con, f"""
            WITH f AS (
              SELECT range AS id, ri2(42, {n_fam}, range, {i}) AS fam, ri1(45, 10, range) AS kind
              FROM range({s['docs']})),
            g AS (
              SELECT id, fam, kind, 1 + ri1(43, 6, fam) AS li, 20 + ri1(44, 50, fam) AS n_tok FROM f),
            toks AS (
              SELECT id, fam, kind, li,
                     unnest(range(1, CASE WHEN kind >= 8 THEN n_tok * 7 // 10 ELSE n_tok END + 1)) AS t
              FROM g),
            words AS (
              SELECT toks.id, toks.t, CASE
                  WHEN kind >= 3 AND kind < 8 AND ri2(49, 20, toks.id, t) = 0 THEN m.w
                  WHEN ri2(46, 5, fam, t) = 0 THEN st.w
                  ELSE v.w END AS w
              FROM toks
              JOIN vocab m ON m.i = ri2(50, {nw}, toks.id, t)
              JOIN vocab v ON v.i = ri2(48, {nw}, fam, t)
              JOIN stop st ON st.li = toks.li AND st.j = ri2(47, 5, fam, t))
            SELECT g.id AS doc_id,
                   'z' || ri2(51, 1048576, fam, {i}) || ' ' || string_agg(w, ' ' ORDER BY t) AS text,
                   {sql_list(LANGS)}[li] AS lang, 'src' || ri1(52, 20, g.id) AS source
            FROM g JOIN words USING (id)
            GROUP BY g.id, fam, li ORDER BY g.id""", f"{out}/_docs.parquet")
        copy(con, f"SELECT *, length(text)::BIGINT AS n_chars FROM '{out}/_docs.parquet' ORDER BY doc_id",
             f"{out}/shard-{i}/documents.parquet/part-00000.parquet")
        os.remove(f"{out}/_docs.parquet")
        copy(con, shard_vectors.format(shard=i, n=s["vecs"]) + " ORDER BY 1",
             f"{out}/shard-{i}/embeddings.parquet/part-00000.parquet")
    corpus = f"{out}/corpus/embeddings.parquet/part-00000.parquet"
    copy(con, vectors.format(id="range", shard=-1) + f" FROM range({s['corpus_vecs']}) ORDER BY 1", corpus)
    r = random.Random(seed)
    queries = s["corpus_vecs"] // 100  # the corpus's query set: vec_id divisible by 100
    reqs = [sorted({100 * r.randrange(queries) for _ in range(4)}) for _ in range(s["knn_requests"])]
    for i, ids in enumerate(reqs):
        copy(con, f"SELECT * FROM '{corpus}' WHERE vec_id IN ({', '.join(map(str, ids))}) ORDER BY 1",
             f"{out}/knn/r-{i}/embeddings.parquet/part-00000.parquet")
    with open(f"{out}/requests.json", "w") as f:
        json.dump({"knn": reqs}, f)
    con.close()


GENERATORS = {"medallion_incremental": medallion, "corpus_curation": curation}


def digest(out):
    """sha256 over every generated table's row count and order-independent
    row-hash sum, and the request sequences."""
    con = duckdb.connect()
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(out)):
        dirs.sort()
        if any(f.endswith(".parquet") for f in files):
            n, sig = con.execute(f"SELECT count(*), sum(hash(t)) FROM '{root}/*.parquet' t").fetchone()
            h.update(f"{os.path.relpath(root, out)}:{n}:{sig};".encode())
    with open(f"{out}/requests.json", "rb") as f:
        h.update(f.read())
    con.close()
    return h.hexdigest()
