"""Post-run correctness check: compares what the engine published against
DuckDB evaluations of the engine's own oracle SQL (`SparkEntry.oracleSql`)
over the generated inputs, and replays the dashboard reads.

Each check returns a list of mismatch descriptions; an empty list is a pass.
"""
import glob
import json
import os

import duckdb

FACTS = ["orders", "lineitem", "events"]
DIM_KEYS = {"part": "p_partkey", "supplier": "s_suppkey", "customer": "c_custkey",
            "nation": "n_nationkey", "region": "r_regionkey"}
# oracle name -> table the pipeline publishes it as
MEDALLION_TABLES = {
    "fact_sales": "gold/fact_sales", "dim_customer": "gold/dim_customer",
    "xml_shred": "gold/customer_demographics", "dim_date": "gold/dim_date",
    "sales_summary": "mart/sales_summary",
    "sales_summary_calendar": "mart/sales_summary_calendar",
    "top_products": "mart/top_products", "product_enriched": "mart/product_enriched",
}


def money(x):
    return f"floor(({x}) * 10000 + 0.5) / 10000"


def sum_money(x):
    return f"CAST(sum(CAST(({x}) AS DECIMAL(38,8))) AS DOUBLE)"


def parquet(path):
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return "read_parquet([" + ", ".join(f"'{f}'" for f in sorted(files)) + "])"


def manifest(path):
    """The current snapshot of the Manifest table at `path`, as the engine
    publishes it: the newest `_graft_log/v<N>.json` lists, per leaf
    partition, the commit directory that holds it."""
    log = os.path.join(path, "_graft_log")
    newest = max(f for f in os.listdir(log) if f.startswith("v") and f.endswith(".json"))
    with open(os.path.join(log, newest)) as f:
        state = json.load(f)
    files = []
    for e in state["entries"]:
        d = e["dir"] if os.path.isabs(e["dir"]) else os.path.join(path, e["dir"])
        files += glob.glob(os.path.join(d, e["part"], "*.parquet") if e["part"] else os.path.join(d, "*.parquet"))
        if e["part"].endswith(".parquet"):  # an unpartitioned per-file entry
            files.append(os.path.join(d, e["part"]))
    if not files:
        raise FileNotFoundError(f"no data files in the snapshot of {path}")
    return ("read_parquet([" + ", ".join(f"'{f}'" for f in sorted(set(files)))
            + f"], hive_partitioning = {str(bool(state['partitionCols'])).lower()})")


def same_rows(con, actual_sql, expected_sql):
    """Multiset equality over the expected relation's columns."""
    cols = [d[0] for d in con.execute(f"SELECT * FROM ({expected_sql}) LIMIT 0").description]
    sel = ", ".join(f'"{c}"' for c in sorted(cols))
    a = f"SELECT {sel} FROM ({actual_sql})"
    b = f"SELECT {sel} FROM ({expected_sql})"
    extra = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM ({b} EXCEPT ALL {a})").fetchone()[0]
    return [] if extra == 0 and missing == 0 else [f"{extra} unexpected, {missing} missing rows"]


def guarded(name, fn):
    try:
        return [f"{name}: {m}" for m in fn()]
    except Exception as e:  # a check that cannot run is a failed check
        return [f"{name}: {type(e).__name__}: {str(e)[:300]}"]


def medallion(check):
    """Published gold and mart tables against the oracles over the source
    as it stands after the run (dimensions at their latest version), the
    SCD2 product dimension's invariants, and the last dashboard reads
    replayed over the published tables."""
    con = duckdb.connect()
    src, lake = check["source"], check["lake"]
    for t in FACTS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {parquet(src + '/' + t + '.parquet')}")
    for t, k in DIM_KEYS.items():
        con.execute(f"""CREATE VIEW {t} AS SELECT * EXCLUDE (__rn) FROM (
            SELECT *, row_number() OVER (PARTITION BY {k} ORDER BY modified_at DESC) AS __rn
            FROM {parquet(src + '/' + t + '.parquet')}) WHERE __rn = 1""")
    published = {}
    for name in set(MEDALLION_TABLES.values()) | {"mart/revenue_by_month", "gold/dim_product"}:
        published[name] = manifest(os.path.join(lake, name))
    bad = []
    oracles = check["oracles"]
    for name, table in sorted(MEDALLION_TABLES.items()):
        bad += guarded(name, lambda: same_rows(con, f"SELECT * FROM {published[table]}", oracles[name]))
    revenue = f"""
        SELECT order_month, count(*) AS n_rows,
               {money(sum_money('net_revenue'))} AS total,
               {money(sum_money('net_revenue') + ' / CAST(count(*) AS DOUBLE)')} AS mean
        FROM (SELECT order_date_key // 100 AS order_month, net_revenue
              FROM ({oracles['fact_sales']}))
        GROUP BY order_month"""
    bad += guarded("revenue_by_month", lambda: same_rows(
        con, f"SELECT * FROM {published['mart/revenue_by_month']}", revenue))
    dim = published["gold/dim_product"]
    current = f"""
        SELECT p_partkey, p_name, p_brand, p_type, p_size, price_cents
        FROM {dim} WHERE is_current"""
    expected = """
        SELECT p_partkey, p_name, p_brand, p_type, p_size,
               CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
        FROM part"""
    bad += guarded("dim_product current versions", lambda: same_rows(con, current, expected))

    def scd2_invariants():
        out = []
        dup = con.execute(f"""SELECT count(*) FROM (SELECT p_partkey FROM {dim}
            WHERE is_current GROUP BY 1 HAVING count(*) > 1)""").fetchone()[0]
        if dup:
            out.append(f"{dup} keys with several current versions")
        sk = con.execute(f"SELECT count(*) - count(DISTINCT surrogate_key) FROM {dim}").fetchone()[0]
        if sk:
            out.append(f"{sk} repeated surrogate keys")
        open_expired = con.execute(f"""SELECT count(*) FROM {dim}
            WHERE is_current = (expiry_date IS NOT NULL)""").fetchone()[0]
        if open_expired:
            out.append(f"{open_expired} versions whose expiry disagrees with is_current")
        return out
    bad += guarded("dim_product invariants", scd2_invariants)

    for i, r in enumerate(check["reads"]):
        def replay(r=r):
            got = con.execute(f"""SELECT count(*), {money(sum_money(r['measure']))}
                FROM {published[r['table']]} WHERE {r['filter']}""").fetchone()
            want = (r["count"], r["sum"])
            return [] if tuple(got) == want else [f"answered {want}, replay gives {tuple(got)}"]
        bad += guarded(f"dashboard read {i} on {r['table']}", replay)
    return bad


def curation(check):
    """Every curated output of every pass against its oracle over that
    pass's shard. Also returns per-pass output counts for the trace."""
    bad, counts = [], []
    for p in check["passes"]:
        con = duckdb.connect()
        for t in ["documents", "embeddings"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {parquet(p['shard'] + '/' + t + '.parquet')}")
        for name, sql in sorted(check["oracles"].items()):
            bad += guarded(f"{os.path.basename(p['out'])}/{name}", lambda: same_rows(
                con, f"SELECT * FROM {parquet(p['out'] + '/' + name)}", sql))
        q = parquet(p["out"] + "/text_quality")
        lang = parquet(p["out"] + "/lang_id")
        counts.append({
            "docs": con.execute("SELECT count(*) FROM documents").fetchone()[0],
            "pairs_kept": sum(con.execute(f"SELECT count(*) FROM {parquet(p['out'] + '/' + n)}").fetchone()[0]
                              for n in ["dedup_minhash", "dedup_containment", "dedup_embedding"]),
            "docs_kept": con.execute(f"""SELECT count(*) FROM {q} AS q JOIN {lang} AS l USING (doc_id)
                WHERE quality_score >= 0.5 AND pred_lang = actual_lang""").fetchone()[0],
        })
        con.close()
    return bad, counts
