"""Untimed correctness check of one run's warm-up outputs.

- Script ops: each channel (out, err, alert) of the tagged rows the engine
  wrote is compared, as a multiset of rows, against the DuckDB SQL twin of the script run
  over the same input slice.
- Suite ops: each query's output is compared against its
  `SparkEntry.oracleSql` run in DuckDB on the same tables, with `TABLES`
  and `norm` from tools/check.py (the repository's own oracle compare).

Every function returns a list of problems; an empty list means the output
is correct.
"""
import os
import re
import sys

import gen

# both sides compare datetimes as epoch numbers
_EPOCH = {"ts": "epoch_us(ts)",
          "day": "date_diff('day', DATE '1970-01-01', day)"}


def script_twins(script, host, src):
    """DuckDB SQL of the three channels for one slice read from `src`."""
    rd = f"read_parquet('{src}/*.parquet')"
    raised = "ValueError: bad k" if host == "python" \
        else "IllegalArgumentException: bad k"
    if script == "native":
        fields = "id, k, qty, price, weight, cat, tag"
        out = f"""SELECT id, k, cat, tag, price * qty * 1.5 AS amount,
            CASE WHEN weight >= 0.5 THEN 'hi' ELSE 'lo' END AS flag,
            CAST(c.copy AS INTEGER) AS copy
            FROM {rd}, (VALUES (0), (1)) c(copy)
            WHERE k % 20 <> 0 AND (c.copy = 0 OR k % 10 = 1)"""
    else:
        fields = f"id, k, payload, {_EPOCH['ts']} AS ts, {_EPOCH['day']} AS day"
        out = f"""SELECT id, k, unhex(substr(hex(payload), 1, 16)) AS head,
            CAST(octet_length(payload) AS INTEGER) AS n_bytes,
            epoch_us(ts) + 5400000000 AS shifted,
            CAST({_EPOCH['day']} + 1 AS INTEGER) AS next_day,
            CAST(c.copy AS INTEGER) AS copy
            FROM {rd}, (VALUES (0), (1)) c(copy)
            WHERE k % 20 <> 0 AND (c.copy = 0 OR k % 10 = 1)"""
    err = f"""SELECT CASE WHEN k % 40 = 0 THEN 9 ELSE 3 END AS errorCode,
        CASE WHEN k % 40 = 0 THEN '{raised}' ELSE 'k rejected' END AS errorMsg,
        {fields} FROM {rd} WHERE k % 20 = 0"""
    alert = f"""SELECT CAST(id AS VARCHAR) AS id, 'k7' AS reason FROM {rd}
        WHERE k % 1000 = 7 AND k % 20 <> 0"""
    return {"out": out, "err": err, "alert": alert}


def compare_sql(con, got_sql, twin_sql):
    """Multiset compare of two queries' rows. Returns (problems, rows of
    the first)."""
    gcols = [r[0] for r in con.execute(f"DESCRIBE {got_sql}").fetchall()]
    tcols = [r[0] for r in con.execute(f"DESCRIBE {twin_sql}").fetchall()]
    if gcols != tcols:
        return [f"columns {gcols} vs {tcols}"], 0
    n_got = con.execute(f"SELECT count(*) FROM ({got_sql})").fetchone()[0]
    n_exp = con.execute(f"SELECT count(*) FROM ({twin_sql})").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM ({got_sql} "
                        f"EXCEPT ALL {twin_sql})").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM ({twin_sql} "
                          f"EXCEPT ALL {got_sql})").fetchone()[0]
    if n_got != n_exp or extra or missing:
        return [f"{n_got} rows vs {n_exp} expected, "
                f"{extra} unexpected, {missing} missing"], n_got
    return [], n_got


def script_got(script, op_dir):
    """DuckDB SQL of the three channels in the tagged rows the engine
    wrote, datetimes as epoch numbers like the twins."""
    rd = f"read_parquet('{op_dir}/*.parquet')"
    out = f"SELECT unnest(_out) FROM {rd} WHERE _tag = 'out'"
    err = f"SELECT unnest(_err) FROM {rd} WHERE _tag = 'err'"
    if script == "codec":
        out = f"""SELECT id, k, head, n_bytes, epoch_us(shifted) AS shifted,
            CAST(date_diff('day', DATE '1970-01-01', next_day) AS INTEGER)
              AS next_day, copy FROM ({out})"""
        err = f"""SELECT errorCode, errorMsg, id, k, payload,
            {_EPOCH['ts']} AS ts, {_EPOCH['day']} AS day FROM ({err})"""
    alert = f"""SELECT map_extract(_alert, 'id')[1] AS id,
        map_extract(_alert, 'reason')[1] AS reason
        FROM {rd} WHERE _tag = 'alert'"""
    return {"out": out, "err": err, "alert": alert}


def check_script_op(con, script, host, src, op_dir):
    """Returns (problems, {channel: rows})."""
    if not os.path.isdir(op_dir):
        return [f"{op_dir}: missing"], {}
    problems, rows = [], {}
    got = script_got(script, op_dir)
    for ch, sql in script_twins(script, host, src).items():
        p, n = compare_sql(con, got[ch], sql)
        problems += [f"{ch}: {x}" for x in p]
        rows[ch] = n
    return problems, rows


def suite_con(data_dir, tables):
    con = gen.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def input_rows(con, sql, tables):
    """Rows of the tables a query's SQL names: the input a suite op reads."""
    return sum(con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
               for t in tables if re.search(rf"\b{t}\b", sql))


def check_query(con, got_dir, sql, check):
    """The compare of tools/check.py `main()`, line for line: column names,
    row count, then every value after `check.norm` and string rendering.
    `main()` offers it only as a whole-directory loop, so it is repeated
    here per op."""
    import pandas as pd
    if not sql:
        return ["no oracle SQL"]
    if not os.path.isdir(got_dir):
        return [f"{got_dir}: missing"]
    g = check.norm(pd.read_parquet(got_dir))
    e = check.norm(con.execute(sql).df())
    if list(g.columns) != list(e.columns):
        return [f"columns {list(g.columns)} vs {list(e.columns)}"]
    if len(g) != len(e):
        return [f"rows {len(g)} vs {len(e)}"]
    if not g.astype(str).equals(e.astype(str)):
        cells = int((g.astype(str) != e.astype(str)).to_numpy().sum())
        return [f"{cells} differing cells"]
    return []


def load_check(root):
    """The repository's tools/check.py as a module (`TABLES`, `norm`)."""
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import check
    finally:
        sys.path.pop(0)
    return check
