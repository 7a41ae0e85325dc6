"""DuckDB oracle for the 23 queries: runs `SparkEntry.oracleSql` over the
check input and compares result digests with the Spark outputs.

An oracle result depends only on its SQL and its input, so its digest is
cached under (SQL, input digest) and each oracle runs once per input."""
import glob
import hashlib
import json
import os

from . import stats

TABLES = ("documents", "embeddings", "events", "orders", "customer", "lineitem", "nation")


def input_digest(table_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(table_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def check(table_dir, oracle_sql, spark_outputs, cache_dir):
    """Return {query: {'got': spark digest, 'want': oracle digest}} and the
    per-query error messages."""
    import duckdb

    os.makedirs(cache_dir, exist_ok=True)
    inp = input_digest(table_dir)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(table_dir, t)}.parquet')")
    pairs, errors = {}, {}
    for name, sql in sorted(oracle_sql.items()):
        key = hashlib.sha256((sql + "\0" + inp).encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".json")
        p = {"got": None, "want": None}
        try:
            if os.path.exists(cached):
                with open(cached) as f:
                    p["want"] = json.load(f)["digest"]
            else:
                p["want"] = stats.rows_digest(con.sql(sql).fetchall())
                with open(cached + ".tmp", "w") as f:
                    json.dump({"digest": p["want"]}, f)
                os.replace(cached + ".tmp", cached)
            out = spark_outputs.get(name)
            files = sorted(glob.glob(os.path.join(out, "*.parquet"))) if out else []
            if files:
                p["got"] = stats.rows_digest(con.sql(f"SELECT * FROM read_parquet({files!r})").fetchall())
            else:
                errors[name] = "no Spark output"
        except Exception as e:  # a failing oracle or unreadable output is a mismatch
            errors[name] = str(e)[:300]
        pairs[name] = p
    con.close()
    return pairs, errors
