"""Output checks for catalog jobs: the engine's result (written as parquet by
the harness) against the query's DuckDB oracle SQL over the same generated
tables, compared by row count and an order-insensitive content hash."""
import datetime
import decimal
import hashlib
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    """One canonical string per value. Numbers compare by value, not type:
    the oracle and the engine may type one column INT vs BIGINT, or DECIMAL
    vs DOUBLE, for equal values."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "n"
    if isinstance(v, bool):
        return "b:%d" % v
    if isinstance(v, (int, float, decimal.Decimal)):
        if v == int(v) and abs(v) < 2 ** 63:
            return "i:%d" % int(v)
        return "f:" + repr(float(v))
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, (datetime.date, datetime.datetime, datetime.time)):
        return "t:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "d:{" + ",".join(canon(k) + "=" + canon(x) for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    raise TypeError(f"no canonical form for {type(v).__name__}")


def content_hash(columns, rows):
    """(row count, sha256) of a result, independent of row order and of
    column order: columns are taken in name order, rows in sorted order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return len(lines), h.hexdigest()


def _fetch(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def check(tables_dir, out_dir, oracle_sql):
    """Compare every engine output under out_dir/<name> with its oracle.
    Returns {name: None if it matches, else a one-line reason}."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    verdicts = {}
    for name, sql in sorted(oracle_sql.items()):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            verdicts[name] = "no engine output"
            continue
        try:
            want_cols, want = _fetch(con, sql)
        except Exception as e:  # an oracle that cannot run is a failed check
            verdicts[name] = "oracle error: " + str(e).splitlines()[0][:160]
            continue
        got_cols, got = _fetch(con, f"SELECT * FROM '{path}/*.parquet'")
        if sorted(want_cols) != sorted(got_cols):
            verdicts[name] = f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}"
            continue
        w, g = content_hash(want_cols, want), content_hash(got_cols, got)
        if w[0] != g[0]:
            verdicts[name] = f"rows {g[0]} != oracle {w[0]}"
        elif w[1] != g[1]:
            verdicts[name] = "content hash differs from oracle"
        else:
            verdicts[name] = None
    con.close()
    return verdicts
