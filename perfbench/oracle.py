"""Expected row counts of registry queries, from DuckDB.

Each query's `oracleSql` (the DuckDB SQL the engine ships for it) runs
over the same parquet tables, registered as views, and its row count is
the expected `count()` of the Spark query. Counts are cached per query
SQL, keyed by the table files' names, sizes and mtimes, so the oracle
runs once per checkout and never inside a timed region.
"""
import hashlib
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def data_stamp(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        st = os.stat(os.path.join(data_dir, f"{t}.parquet"))
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def counts(data_dir, sql_by_query, cache_dir):
    """{query: expected row count, or an 'error: ...' string}"""
    os.makedirs(cache_dir, exist_ok=True)
    cache_path = os.path.join(cache_dir, os.path.basename(data_dir) + ".json")
    stamp = data_stamp(data_dir)
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            c = json.load(f)
        if c.get("stamp") == stamp:
            cache = c["counts"]
    key = {q: hashlib.sha256(sql.encode()).hexdigest() for q, sql in sql_by_query.items()}
    missing = [q for q in sql_by_query if key[q] not in cache]
    if missing:
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for q in missing:
            try:
                n = con.execute(
                    f"SELECT count(*) FROM ({sql_by_query[q].strip().rstrip(';')}) AS oracle").fetchone()[0]
                cache[key[q]] = int(n)
            except Exception as e:  # a failing oracle is kept as its error
                cache[key[q]] = None
                cache[key[q] + ":error"] = f"{type(e).__name__}: {e}"[:300]
        con.close()
        with open(cache_path, "w") as f:
            json.dump({"stamp": stamp, "counts": cache}, f)
    return {q: cache[key[q]] if cache[key[q]] is not None
            else "error: " + cache.get(key[q] + ":error", "?")
            for q in sql_by_query}
