"""Seeded input generator for the script workload, written with DuckDB.

`script_records(dir, kind, seed)` writes the records the script workload
hands to `transform()`: `native` is plain scalars; `codec` adds a BINARY
payload, a TIMESTAMP and a DATE. Every value is a pure function of (seed,
row index, column salt) through DuckDB's `hash`, so the output does not
depend on thread scheduling and the same seed writes byte-identical
parquet files. Outputs are cached by seed: a directory holding a `DONE`
marker is reused as is.

The suite workload reads the repository's sf0.01 test tables, copied
under `data/sf0.01`; its seed sets only the query order.
"""
import os
import shutil

import duckdb

# script workloads: a pass hands `slices` input files to transform(), each
# read as `partitions` parquet files (one Python worker or task each) of
# `per_partition` records. The scripts key every branch on `k`, uniform
# over [0, 1000000).
SCRIPT = {
    "native": {"slices": 4, "partitions": 4, "per_partition": 12500},
    # 66000 rows per partition: every partition clears the Arrow gate
    "codec": {"slices": 1, "partitions": 2, "per_partition": 66000},
}
PAYLOAD_BYTES = (200, 400)  # codec payload length range, bytes


def _con():
    con = connect()
    con.execute("SET threads TO 2")
    con.execute("SET preserve_insertion_order = true")
    con.execute("SET enable_progress_bar = false")
    con.execute("SET TimeZone = 'UTC'")
    return con


def connect():
    """A DuckDB connection that never tries to fetch an extension."""
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions = false")
    con.execute("SET autoload_known_extensions = false")
    return con


def _u(seed, salt):
    """SQL for a uniform integer in [0, 2^31) from (seed, salt, row i)."""
    return f"CAST(hash(i, {seed}, '{salt}') % 2147483648 AS BIGINT)"


def _r(seed, salt, n):
    """SQL for a uniform integer in [0, n)."""
    return f"({_u(seed, salt)} % {n})"


def _f(seed, salt):
    """SQL for a uniform double in [0, 1)."""
    return f"({_u(seed, salt)} / 2147483648.0)"


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' "
                "(FORMAT PARQUET, ROW_GROUP_SIZE 1000000)")


def _publish(tmp, out):
    open(os.path.join(tmp, "DONE"), "w").close()
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.rename(tmp, out)
    return out


def script_records(root, kind, seed):
    """Records for a script workload: `slice-XX/part-YY.parquet`, so each
    slice's scan plans exactly `partitions` splits of equal size."""
    cfg = SCRIPT[kind]
    shape = f"{cfg['slices']}x{cfg['partitions']}x{cfg['per_partition']}"
    out = os.path.join(root, f"script-{kind}-{shape}-seed{seed}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    s = seed
    per = cfg["per_partition"]
    con = _con()
    lo, hi = PAYLOAD_BYTES
    for sl in range(cfg["slices"]):
        os.makedirs(os.path.join(tmp, f"slice-{sl:02d}"))
        for part in range(cfg["partitions"]):
            first = (sl * cfg["partitions"] + part) * per
            rng = f"range({first}, {first + per}) t(i)"
            if kind == "native":
                sql = f"""SELECT i AS id,
                    CAST({_r(s, 'k', 1000000)} AS INTEGER) AS k,
                    CAST({_r(s, 'q', 100)} AS INTEGER) AS qty,
                    ({_r(s, 'p', 10000000)} + 1) / 100.0 AS price,
                    {_f(s, 'w')} AS weight,
                    ['alpha','beta','gamma','delta','eps']
                      [{_r(s, 'c', 5)} + 1] AS cat,
                    'u' || {_r(s, 'u', 50000)} AS tag
                    FROM {rng}"""
            else:
                # payload: a repeated 2-byte word as hex text, length in
                # [lo, hi) bytes
                sql = f"""SELECT i AS id,
                    CAST({_r(s, 'k', 1000000)} AS INTEGER) AS k,
                    CAST(repeat(lpad(to_hex(
                      CAST({_r(s, 'b', 65536)} AS INTEGER)), 4, '0'),
                      ({lo} + {_r(s, 'n', hi - lo)}) // 4) AS BLOB)
                      AS payload,
                    CAST(make_timestamp(1704067200000000 +
                      {_r(s, 't', 31535999999999)}) AS TIMESTAMPTZ) AS ts,
                    DATE '2020-01-01' + CAST({_r(s, 'd', 3650)} AS INTEGER)
                      AS day
                    FROM {rng}"""
            _copy(con, sql, os.path.join(
                tmp, f"slice-{sl:02d}", f"part-{part:02d}.parquet"))
    con.close()
    return _publish(tmp, out)
