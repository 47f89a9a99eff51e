#!/usr/bin/env python3
"""Graft benchmark: one workload, one seed, one fresh JVM per run.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps: build the engine and the harness from source (cached by a source
stamp), generate the seeded inputs with DuckDB (cached by seed), run
scala/Harness.scala in a fresh JVM (session, untimed warm-up pass whose
outputs are kept, then closed-loop timed passes, one op at a time),
check the warm-up outputs against DuckDB twins, and print one JSON line
as the last line of stdout. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer metrics of a traced run (see README.md).
Everything is written under `.bench_build/` in the current directory.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # nothing written beside the sources
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import verify as v  # noqa: E402

BUILD_DIR = ".bench_build"
JVM_TIMEOUT_S = 150  # leaves room for the checks within 180 s per run
XMX = "2g"  # JVM heap of every run
# suite_overhead reads the repository's sf0.01 test tables, copied here
SUITE_DATA = os.path.join(HERE, "data", "sf0.01")

# suite_overhead's fixed query list: one or more queries from every module
# under queries/ and operators/ (st_*, mm_* and xf_py* included), with two
# of the queries that submit the most Spark jobs while building
# (dd_cluster, q_hostrank).
SUITE_OVERHEAD = [
    "st_topk",                               # queries/Relational
    "st_session",                            # queries/Analytics
    "xf_pyerrors",                           # queries/Transforms
    "q_hostrank",                            # operators/TextAnalysis
    "dd_cluster",                            # operators/Dedup
    "ann_ivf_topk",                          # operators/Similarity
    "mm_blur",                               # operators/Multimodal
    "q_asof",                                # operators/AsOfJoin
    "q_range",                               # operators/RangeJoin
    "q_sample",                              # operators/Sampling
]

WORKLOADS = {
    "script": {"kind": "script"},
    "suite_overhead": {"kind": "suite", "queries": SUITE_OVERHEAD},
}
SCRIPT_ARGS = {"rate": "1.5", "cut": "0.5"}
# the hosts each record shape runs on
SCRIPT_HOSTS = {"native": ["python"], "codec": ["python", "jvm"]}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# every run reports every end-to-end metric; records_per_s counts records
# handed to transform() on the script workload and, on suite_overhead,
# the rows of the tables each query reads
END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "records_per_s": "1/s"}
# peak_rss_mb is reported here, not among the gated end-to-end metrics:
# it follows G1's adaptive heap sizing, and its run-to-run spread (up to
# 0.24 of its median over ten seeds) leaves no room under a 0.25 bound
PER_LAYER = {
    "peak_rss_mb": "MB", "session_s": "s", "build_s": "s", "build_jobs": "count", "plan_s": "s",
    "jobs": "count", "stages": "count", "tasks": "count",
    "sched_gap_s": "s", "stage_busy_s": "s", "task_cpu_s": "s", "gc_s": "s",
    "core_util": "ratio", "task_skew": "ratio", "scan_mb": "MB",
    "scan_amplification": "ratio", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "spill_mb": "MB",
    "py_workers": "count", "py_cpu_s": "s", "py_cpu_us_per_record": "us",
    "task_wait_share": "ratio", "py_validate_s": "s",
    "jvm_us_per_record": "us", "script_calls_per_record": "ratio",
    "native_py_records_per_s": "1/s", "codec_py_records_per_s": "1/s",
    "codec_jvm_records_per_s": "1/s",
    "out_rows": "count", "err_rows": "count", "alert_rows": "count",
    "failed_frac": "ratio", "trace_overhead": "ratio",
    "self_build_s": "s", "self_action_s": "s",
    "self_job_s": "s", "self_stage_s": "s", "self_py_worker_s": "s",
    "self_py_validate_s": "s"}


def host_load():
    """/proc/loadavg, the number of runnable processes other than this
    one, and the CPU tick counters of /proc/stat (steal = time this
    machine's CPUs waited for a hypervisor), so a contended run identifies
    itself."""
    with open("/proc/loadavg") as f:
        la = f.read().split()
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    me, running = os.getpid(), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                st = f.read()
        except OSError:
            continue
        if st[st.rindex(")") + 2] == "R":
            running += 1
    return {"loadavg": [float(x) for x in la[:3]], "runnable_other": running,
            "cpu_ticks": sum(ticks), "steal_ticks": ticks[7]}


def tail_stat(values):
    """op_tail_s: the highest percentile with at least 10 samples beyond
    it, i.e. the 11th largest value. Returns (value, percentile, n), or
    None below 11 samples."""
    n = len(values)
    if n < 11:
        return None
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, n


def union_len(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a < end:
            a = end
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans):
    """Per-layer self time: each span's duration minus the part of it
    its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        d = s["end_ms"] - s["start_ms"]
        cover = union_len(kids.get(s["id"], []), s["start_ms"], s["end_ms"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + (d - cover) / 1e3
    return out


def make_plan(name, cfg, seed, seconds, trace, data_root, out):
    plan = {"workload": name, "kind": cfg["kind"], "seconds": seconds,
            "trace": trace, "out": out, "cpus": len(os.sched_getaffinity(0))}
    if cfg["kind"] == "script":
        plan.update(data="", script_args=SCRIPT_ARGS, scripts={}, ops=[])
        for kind, hosts in SCRIPT_HOSTS.items():
            d = gen.script_records(data_root, kind, seed)
            g = gen.SCRIPT[kind]
            with open(os.path.join(HERE, "scripts", kind + ".py")) as f:
                plan["scripts"][kind] = f.read()
            plan["ops"] += [
                {"id": f"{kind}-{h}-{sl:02d}", "script": kind, "host": h,
                 "records": g["partitions"] * g["per_partition"],
                 "input": os.path.join(d, f"slice-{sl:02d}")}
                for sl in range(g["slices"]) for h in hosts]
    else:
        plan["data"] = SUITE_DATA
        # the seed sets the order in which the queries run
        qs = list(cfg["queries"])
        random.Random(seed).shuffle(qs)
        plan["ops"] = [{"id": q, "query": q} for q in qs]
    return plan


def run_jvm(plan, classpath, trace):
    out = plan["out"]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    plan_path = os.path.join(out, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    env = dict(os.environ)
    env["GRAFTBENCH_TRACE_DIR"] = out
    env["GRAFTBENCH_PYTHON"] = shutil.which("python3") or sys.executable
    if trace:
        shim = os.path.join(os.path.abspath(BUILD_DIR), "shim")
        os.makedirs(shim, exist_ok=True)
        dst = os.path.join(shim, "python3")
        shutil.copyfile(os.path.join(HERE, "shim", "python3"), dst)
        os.chmod(dst, 0o755)
        env["PATH"] = shim + os.pathsep + env.get("PATH", "")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{XMX}", "-XX:-UsePerfData"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dio.netty.tryReflectionSetAccessible=true",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", ":".join(classpath),
            "org.apache.spark.graftbench.Harness", plan_path]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("perfbench: the JVM run exceeded the time limit")
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"perfbench: the JVM run exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def verify(plan, res, cfg):
    """Returns ({op id: [problems]}, channel row counts, {suite op id:
    input rows}). A mismatch or an exception is a problem of the op."""
    problems, channels, inputs = {}, {"out": 0, "err": 0, "alert": 0}, {}
    vdir = os.path.join(plan["out"], "verify")
    for op_id, err in res["warm_errors"].items():
        problems.setdefault(op_id, []).append("warm-up failed: " + err)
    if cfg["kind"] == "script":
        con = gen.connect()
        for op in plan["ops"]:
            if op["id"] in problems:
                continue
            try:
                p, rows = v.check_script_op(
                    con, op["script"], op["host"], op["input"],
                    os.path.join(vdir, op["id"]))
            except Exception as e:
                p, rows = [f"{type(e).__name__}: {e}"], {}
            if p:
                problems[op["id"]] = p
            for ch, n in rows.items():
                channels[ch] += n
    else:
        with open(os.path.join(plan["out"], "oracle_sql.json")) as f:
            oracles = json.load(f)
        check = v.load_check(ROOT)
        con = v.suite_con(plan["data"], check.TABLES)
        for op in plan["ops"]:
            sql = oracles.get(op["query"], "")
            inputs[op["id"]] = v.input_rows(con, sql, check.TABLES)
            if op["id"] in problems:
                continue
            try:
                p = v.check_query(con, os.path.join(vdir, op["id"]), sql,
                                  check)
            except Exception as e:
                p = [f"{type(e).__name__}: {e}"]
            if p:
                problems[op["id"]] = p
    return problems, channels, inputs


def median(xs):
    return statistics.median(xs) if xs else 0.0


def metrics(plan, res, problems, channels, trace):
    ops = res["ops"]
    plain = [o for o in ops if o["phase"] == "plain"]
    failed = [o for o in ops if o["error"] or o["op"] in problems]
    report = {"attempted": len(ops), "failed": len(failed)}
    passes = [p["wall_s"] for p in res["passes"] if p["phase"] == "plain"]
    best = {}  # op id -> (best latency, records)
    for o in plain:
        if o["op"] not in best or o["wall_s"] < best[o["op"]][0]:
            best[o["op"]] = (o["wall_s"], o["records"])
    tail = tail_stat([o["wall_s"] for o in plain])
    e2e = {"setup_s": res["setup_s"], "wall_s": min(passes),
           "op_p50_s": median([b[0] for b in best.values()]),
           "records_per_s": sum(b[1] for b in best.values()) /
           max(1e-9, sum(b[0] for b in best.values())),
           "peak_rss_mb": res["peak_rss_mb"]}
    # op_tail_s applies only to runs of at least 11 ops, so it is
    # reported beside the metrics rather than among them
    report["op_tail"] = ({"op_tail_s": tail[0], "percentile": tail[1],
                          "samples": tail[2]} if tail else None)
    report["end_to_end"] = e2e
    if not trace:
        return report
    tr = [o for o in ops if o["phase"] == "traced"]
    n = max(1, len(tr))
    spans = []
    spans_path = os.path.join(plan["out"], "spans.jsonl")
    if os.path.exists(spans_path):
        with open(spans_path) as f:
            spans = [json.loads(line) for line in f if line.strip()]
    selft = self_times(spans)

    def tot(key, ops_=tr):
        return sum(o.get(key) or 0 for o in ops_)

    busy = sum(union_len(o["stage_intervals"], o["op_start_ms"],
                         o["op_end_ms"]) / 1e3 for o in tr)
    walls_t = tot("wall_s")
    py = [o for o in tr if o.get("py_workers")]
    py_rec = tot("records", py)
    host = {op["id"]: op.get("host") for op in plan["ops"]}
    jvm = [o for o in tr if host[o["op"]] == "jvm"]
    jvm_rec = tot("records", jvm)
    skews = [o["task_skew"] for o in tr if o.get("task_skew")]
    calls = res["script_calls"].get("jvm", 0)
    # jvm-host records handed to transform(): warm-up + every timed op
    jvm_total = sum(o["records"] for o in ops if host[o["op"]] == "jvm") + \
        sum(op["records"] for op in plan["ops"] if op.get("host") == "jvm")

    def rate(prefix):  # untraced throughput of one record shape and host
        sel = [o for o in plain if o["op"].startswith(prefix)]
        return tot("records", sel) / max(1e-9, tot("wall_s", sel)) if sel \
            else 0.0
    trace_passes = [p["wall_s"] for p in res["passes"] if p["phase"] == "traced"]
    layer = {
        "peak_rss_mb": res["peak_rss_mb"], "session_s": res["session_s"],
        "build_s": tot("build_s") / n,
        "build_jobs": tot("build_jobs") / n,
        "plan_s": tot("plan_s") / n,
        "jobs": tot("jobs") / n, "stages": tot("stages") / n,
        "tasks": tot("tasks") / n,
        "sched_gap_s": (walls_t - busy) / n, "stage_busy_s": busy / n,
        "task_cpu_s": tot("task_cpu_s") / n, "gc_s": tot("gc_s") / n,
        "core_util": tot("task_run_s") / max(1e-9, walls_t * res["cpus"]),
        "task_skew": median(skews),
        "scan_mb": tot("scan_bytes") / n / 2**20,
        "scan_amplification": tot("scan_rows") / max(1, tot("records")),
        "shuffle_write_mb": tot("shuffle_write_bytes") / n / 2**20,
        "shuffle_read_mb": tot("shuffle_read_bytes") / n / 2**20,
        "spill_mb": tot("spill_bytes") / n / 2**20,
        "py_workers": tot("py_workers") / n,
        "py_cpu_s": tot("child_cpu_s") / n,
        "py_cpu_us_per_record": tot("child_cpu_s") * 1e6 / max(1, py_rec),
        "task_wait_share": (1 - tot("task_cpu_s", py) /
                            max(1e-9, tot("task_run_s", py))) if py else 0.0,
        "py_validate_s": tot("py_validate_s") / n,
        "jvm_us_per_record": tot("task_cpu_s", jvm) * 1e6 / max(1, jvm_rec),
        "script_calls_per_record": calls / jvm_total if jvm_total else 0.0,
        "native_py_records_per_s": rate("native-python-"),
        "codec_py_records_per_s": rate("codec-python-"),
        "codec_jvm_records_per_s": rate("codec-jvm-"),
        "out_rows": channels["out"], "err_rows": channels["err"],
        "alert_rows": channels["alert"],
        "failed_frac": len(failed) / max(1, len(ops)),
        "trace_overhead": min(trace_passes) / max(1e-9, min(passes)),
        "self_build_s": selft.get("build", 0.0) / n,
        "self_action_s": selft.get("action", 0.0) / n,
        "self_job_s": selft.get("job", 0.0) / n,
        "self_stage_s": selft.get("stage", 0.0) / n,
        "self_py_worker_s": selft.get("py_worker", 0.0) / n,
        "self_py_validate_s": selft.get("py_validate", 0.0) / n,
    }
    report["per_layer"] = layer
    return report


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    t_start = time.time()
    for need in ("src/main/scala", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.stderr.write(f"perfbench: {need} not found; run from a "
                             "checkout of the repository\n")
            return 2
    load_start = host_load()
    cfg = WORKLOADS[a.workload]
    classpath = build.build(BUILD_DIR)
    out = os.path.abspath(os.path.join(
        BUILD_DIR, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    plan = make_plan(a.workload, cfg, a.seed, a.seconds, a.trace,
                     os.path.abspath(os.path.join(BUILD_DIR, "data")), out)
    res = run_jvm(plan, classpath, a.trace)
    problems, channels, inputs = verify(plan, res, cfg)
    for o in res["ops"]:  # a suite op's records are the input rows it reads
        o["records"] = inputs.get(o["op"], o["records"])
    rep = metrics(plan, res, problems, channels, a.trace)
    load_end = host_load()
    rep.update(workload=a.workload, seed=a.seed, problems=problems,
               host_load={"start": load_start, "end": load_end},
               steal_share=(load_end["steal_ticks"] - load_start["steal_ticks"])
               / max(1, load_end["cpu_ticks"] - load_start["cpu_ticks"]),
               elapsed_s=time.time() - t_start)
    with open(os.path.join(out, "report.json"), "w") as f:
        json.dump(rep, f, indent=1)
    if not problems:  # failed outputs and the JVM log stay for inspection
        shutil.rmtree(os.path.join(out, "verify"), ignore_errors=True)
        os.remove(os.path.join(out, "jvm.log"))
    shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)
    for op_id, p in problems.items():
        print(f"perfbench: FAILED {op_id}: {'; '.join(p)[:300]}")
    if rep["op_tail"]:
        t = rep["op_tail"]
        print(f"perfbench: op_tail_s {t['op_tail_s']:.4f} s "
              f"(p{t['percentile']:.1f} of {t['samples']} ops)")
    hl = rep["host_load"]
    print(f"perfbench: loadavg {hl['start']['loadavg']} -> "
          f"{hl['end']['loadavg']}, other runnable "
          f"{hl['start']['runnable_other']} -> {hl['end']['runnable_other']}, "
          f"cpu steal {100 * rep['steal_share']:.1f}%")
    names = PER_LAYER if a.trace else END_TO_END
    vals = rep["per_layer"] if a.trace else rep["end_to_end"]
    ok = rep["failed"] == 0 and all(vals.get(k) is not None for k in names)
    print(json.dumps({
        "correct": ok, "attempted": rep["attempted"], "failed": rep["failed"],
        "metrics": {k: {"value": vals[k], "unit": u} for k, u in names.items()
                    if vals.get(k) is not None}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
