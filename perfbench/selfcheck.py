#!/usr/bin/env python3
"""Self-checks of the benchmark's own logic (no JVM needed):

1. the generator writes byte-identical files for the same seed, and
   different ones for another seed;
2. the output checks pass a correct output and report a planted wrong,
   missing or extra row, for script channels and for suite queries; an
   output whose columns changed is reported, not a crash; and an op with
   a reported problem counts as failed;
3. op_tail_s follows its rule: the 11th largest sample, i.e. the highest
   percentile with at least 10 samples beyond it;
4. the span arithmetic (interval union, self time) is right.

Usage: python3 perfbench/selfcheck.py   (exit code 0 when all pass)
"""
import hashlib
import os
import shutil
import sys

sys.dont_write_bytecode = True  # nothing written beside the sources
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import verify  # noqa: E402

WORK = os.path.join(run.BUILD_DIR, "selfcheck")
# the checks generate this smaller shape of every script input
gen.SCRIPT = {k: {"slices": 1, "partitions": 2, "per_partition": 2000}
              for k in gen.SCRIPT}


def digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(base, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def check_generator():
    a, b, c = (os.path.join(WORK, x) for x in "abc")
    for root, seed in ((a, 7), (b, 7), (c, 8)):
        for kind in gen.SCRIPT:
            gen.script_records(root, kind, seed)
    da, db, dc = digest(a), digest(b), digest(c)
    assert da == db, "same seed wrote different bytes"
    assert da != dc, "another seed wrote the same bytes"
    return os.path.join(a, "script-{}-1x2x2000-seed7")


def tagged_from_twins(con, script, host, src, dst, plant=None):
    """Writes the tagged layout the engine writes, built from the twins;
    `plant` corrupts it first."""
    tw = verify.script_twins(script, host, src)
    if script == "codec":  # the engine writes datetimes, not epochs
        out = f"""SELECT * REPLACE (make_timestamptz(shifted) AS shifted,
            DATE '1970-01-01' + next_day AS next_day) FROM ({tw['out']})"""
        err = f"""SELECT * REPLACE (make_timestamptz(ts) AS ts,
            DATE '1970-01-01' + CAST(day AS INTEGER) AS day)
            FROM ({tw['err']})"""
    else:
        out, err = tw["out"], tw["err"]
    con.execute(f"CREATE OR REPLACE TABLE o AS {out}")
    con.execute(f"CREATE OR REPLACE TABLE e AS {err}")
    con.execute(f"CREATE OR REPLACE TABLE a AS {tw['alert']}")
    if plant == "wrong":
        con.execute("UPDATE o SET k = k + 1 WHERE id = (SELECT min(id) FROM o)")
    elif plant == "missing":
        con.execute("DELETE FROM e WHERE id = (SELECT min(id) FROM e)")
    elif plant == "extra":
        con.execute("INSERT INTO a SELECT * FROM a LIMIT 1")
    os.makedirs(dst, exist_ok=True)
    con.execute(f"""COPY (
        SELECT 'out' AS _tag, o AS _out, NULL AS _err, NULL AS _alert FROM o
        UNION ALL BY NAME SELECT 'err' AS _tag, e AS _err FROM e
        UNION ALL BY NAME SELECT 'alert' AS _tag,
          MAP {{'id': id, 'reason': reason}} AS _alert FROM a)
        TO '{dst}/part-0.parquet' (FORMAT PARQUET)""")


def check_script_outputs(script_root):
    con = gen.connect()
    con.execute("SET TimeZone = 'UTC'")
    for script, hosts in run.SCRIPT_HOSTS.items():
        src = os.path.join(script_root.format(script), "slice-00")
        for host in hosts:
            for plant in (None, "wrong", "missing", "extra"):
                dst = os.path.join(WORK, "got", f"{script}-{host}-{plant}")
                shutil.rmtree(dst, ignore_errors=True)
                tagged_from_twins(con, script, host, src, dst, plant)
                problems, rows = verify.check_script_op(
                    con, script, host, src, dst)
                if plant is None:
                    assert not problems, problems
                    assert rows["out"] and rows["err"] and rows["alert"], rows
                else:
                    assert problems, f"{script}/{host}: planted {plant} row passed"
    # an output whose columns changed makes the check itself throw: that
    # is a problem of the op, not a crash of the run
    src = os.path.join(script_root.format("codec"), "slice-00")
    out = os.path.join(WORK, "run")
    os.makedirs(os.path.join(out, "verify", "bad"))
    con.execute(f"""COPY (SELECT 'out' AS _tag, {{'x': 1}} AS _out,
        {{'y': 2}} AS _err, MAP {{'id': '1'}} AS _alert)
        TO '{out}/verify/bad/part-0.parquet' (FORMAT PARQUET)""")
    problems, _, _ = run.verify(
        {"out": out, "ops": [{"id": "bad", "script": "codec",
                              "host": "python", "input": src}]},
        {"warm_errors": {}}, {"kind": "script"})
    assert list(problems) == ["bad"], problems


def check_suite_outputs():
    check = verify.load_check(run.ROOT)
    con = verify.suite_con(run.SUITE_DATA, check.TABLES)
    sql = ("SELECT o_custkey, count(*) AS n, max(o_totalprice) AS top "
           "FROM orders GROUP BY o_custkey")
    got = os.path.join(WORK, "got", "suite")
    for plant in (None, "wrong", "missing"):
        shutil.rmtree(got, ignore_errors=True)
        os.makedirs(got)
        con.execute(f"CREATE OR REPLACE TABLE r AS {sql}")
        if plant == "wrong":
            con.execute("UPDATE r SET n = n + 1 "
                        "WHERE o_custkey = (SELECT min(o_custkey) FROM r)")
        elif plant == "missing":
            con.execute("DELETE FROM r "
                        "WHERE o_custkey = (SELECT min(o_custkey) FROM r)")
        con.execute(f"COPY r TO '{got}/part-0.parquet' (FORMAT PARQUET)")
        problems = verify.check_query(con, got, sql, check)
        assert bool(problems) == (plant is not None), (plant, problems)
    # a reported problem makes the op's timed runs count as failed
    res = {"ops": [{"op": "q", "phase": "plain", "error": None,
                    "wall_s": 1.0, "records": 1},
                   {"op": "r", "phase": "plain", "error": None,
                    "wall_s": 1.0, "records": 1}],
           "passes": [{"phase": "plain", "wall_s": 2.0}],
           "setup_s": 1.0, "peak_rss_mb": 1.0}
    rep = run.metrics({}, res, {"q": ["1 differing cells"]}, {}, 0)
    assert (rep["attempted"], rep["failed"]) == (2, 1), rep


def check_tail_rule():
    assert run.tail_stat(list(range(10))) is None
    xs = [(i * 7919) % 1000 / 10 for i in range(1, 200)]
    for n in (11, 12, 40, 199):
        v, pct, cnt = run.tail_stat(xs[:n])
        beyond = sum(1 for x in xs[:n] if x > v)
        assert cnt == n and beyond == 10, (n, beyond)
        assert abs(pct - 100.0 * (n - 10) / n) < 1e-9
    v, pct, _ = run.tail_stat(list(range(1, 21)))
    assert (v, pct) == (10, 50.0)


def check_spans():
    assert run.union_len([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert run.union_len([(0, 2), (1, 3)], 1.5, 2.5) == 1
    spans = [
        {"id": "op", "parent": "", "layer": "op", "start_ms": 0, "end_ms": 1000},
        {"id": "b", "parent": "op", "layer": "build", "start_ms": 0, "end_ms": 400},
        {"id": "a", "parent": "op", "layer": "action", "start_ms": 400, "end_ms": 1000},
        {"id": "j", "parent": "a", "layer": "job", "start_ms": 500, "end_ms": 900},
    ]
    st = run.self_times(spans)
    assert st == {"op": 0.0, "build": 0.4, "action": 0.2, "job": 0.4}, st


def main():
    shutil.rmtree(WORK, ignore_errors=True)
    script_root = check_generator()
    print("ok: generator is byte-identical per seed")
    check_script_outputs(script_root)
    print("ok: script channel checks catch planted rows")
    check_suite_outputs()
    print("ok: suite query checks catch planted rows; failed ops counted")
    check_tail_rule()
    print("ok: op_tail_s is the 11th largest sample")
    check_spans()
    print("ok: span union and self time")
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
