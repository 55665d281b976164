#!/usr/bin/env python3
"""Benchmark of the graft engine: whole registry queries, timed cold and warm.

Usage, from the repository root:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Each run builds the engine if needed (perfbench/build.py), makes the
workload's fixtures if needed, then runs the workload in its own JVM
(graftbench.Runner): set-up, a warm-up query, a cold pass and warm passes
over the workload's keys in an order drawn from the seed. Every query's
output is checked against its digest in perfbench/digests.json. The last
line of stdout is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the JVM
also records layer counters and spans, and the metrics are the per-layer
ones; perfbench/.work/trace-<workload>-<seed>.json then holds every query
execution's layer counters and spans.
"""
import argparse
import atexit
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402

WORK = os.path.join(BENCH, ".work")
CACHE = os.path.join(BENCH, ".cache")
JVM_TIMEOUT_S = 170
# set-up-only JVMs per untraced run; setup_s is the median over these and
# the measuring JVM
SETUP_REPEATS = 1

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def load(path):
    with open(os.path.join(BENCH, path)) as fh:
        return json.load(fh)


def cores():
    return len(os.sched_getaffinity(0))


_started = []


def start(cp, main, args, log):
    """Start one JVM with the flags of tools/run.sh, from perfbench/.work so
    derby.log, spark-warehouse/ and scratch files stay out of the repo."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")]
    flags += ["-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dspark.io.compression.codec=zstd", "-Dspark.rdd.compress=true",
              "-Dspark.checkpoint.compress=true",
              "-Dspark.io.compression.zstd.bufferSize=512k",
              "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g"),
              "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    out = open(os.path.join(WORK, log), "w")
    proc = subprocess.Popen(["java"] + flags + ["-cp", cp, main] + args, cwd=WORK, env=env,
                            stdout=out, stderr=subprocess.STDOUT)
    out.close()
    _started.append(proc)
    proc.main, proc.log = main, log
    return proc


def finish(proc):
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = "timeout"
    if code != 0:
        with open(os.path.join(WORK, proc.log)) as fh:
            sys.stderr.write(fh.read()[-3000:])
        sys.exit(f"{proc.main} exited: {code}")


def jvm(cp, main, args, log):
    finish(start(cp, main, args, log))


@atexit.register
def _stop_all():
    for p in _started:
        if p.poll() is None:
            p.kill()
        p.wait()


def fixtures(cp, spec):
    """Directory of the workload's fixture tables and the seconds it took to
    generate them (0 for the shipped ones). Generated scales are made once by
    graft.GenFixtures from the shipped tables and cached in perfbench/.cache."""
    base = os.path.join(BENCH, "fixtures", spec["base"])
    if not spec.get("mul"):
        return base, 0.0
    out = os.path.join(CACHE, spec["tag"])
    stamp = os.path.join(out, "gen.json")
    if not os.path.exists(stamp):
        shutil.rmtree(out, ignore_errors=True)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        jvm(cp, "graft.GenFixtures", [base, tmp, str(spec["mul"])], "gen.log")
        with open(os.path.join(tmp, "gen.json"), "w") as fh:
            json.dump({"gen_s": time.time() - t0}, fh)
        os.rename(tmp, out)
    with open(stamp) as fh:
        return out, json.load(fh)["gen_s"]


def check(rec, expected):
    """None if the execution succeeded and its output matches the digest."""
    if rec["error"] is not None:
        return rec["error"]
    if expected is None:
        return "no expected digest"
    if rec["rows"] != expected["rows"]:
        return f"{rec['rows']} rows, expected {expected['rows']}"
    mode = expected["mode"]
    if mode == "ordered" and rec["ordered_hash"] != expected["hash"]:
        return "ordered row hash differs"
    if mode == "unordered" and rec["hash"] != expected["hash"]:
        return "row hash differs"
    return None


def wall(rec):
    return rec["build_s"] + rec["plan_s"] + rec["exec_s"]


def end_to_end(setups, good):
    cold = [wall(r) for r in good if r["pass"] == "cold"]
    per_key = {}
    for r in good:
        if r["pass"] == "warm":
            per_key.setdefault(r["key"], []).append(wall(r))
    warm = [statistics.median(v) for v in per_key.values()]
    return {
        "setup_s": (statistics.median(setups), "s"),
        "cold_total_s": (sum(cold), "s"),
        "warm_total_s": (sum(warm), "s"),
        "warm_geomean_ms": (1000 * math.exp(statistics.fmean(math.log(w) for w in warm)), "ms"),
        # over every warm execution: each key has the same number of them
        "warm_p50_ms": (1000 * statistics.median(w for v in per_key.values() for w in v), "ms"),
    }


def layers(result, good, gen_s):
    """Per-layer sums over the cold pass and over each key's first traced
    warm execution."""
    out = {}
    for pass_ in ("cold", "warm"):
        first = {}
        for r in good:
            if r["pass"] == pass_ and r["traced"]:
                first.setdefault(r["key"], r)
        rs = list(first.values())
        s = lambda f: sum(r[f] for r in rs)  # noqa: E731
        wall_s = sum(wall(r) for r in rs)
        run_s = s("task_run_ms") / 1000
        active_s = s("job_active_ms") / 1000
        in_b = s("scan_file_b")
        tasks = sorted(t for r in rs for t in r["task_run_list_ms"])
        m = {
            "ops.build_s": (s("build_s"), "s"),
            "ops.build_jobs": (s("build_jobs"), "count"),
            "ops.build_share": (s("build_s") / wall_s if wall_s else 0.0, "ratio"),
            "catalyst.analysis_s": (s("analysis_ms") / 1000, "s"),
            "catalyst.optimize_s": (s("optimize_ms") / 1000, "s"),
            "catalyst.planning_s": (s("planning_ms") / 1000, "s"),
            "catalyst.query_execs": (s("query_execs"), "count"),
            "catalyst.codegen_compiles": (s("codegen_compiles"), "count"),
            "sched.jobs": (s("jobs"), "count"),
            "sched.stages": (s("stages"), "count"),
            "sched.tasks": (s("tasks"), "count"),
            "sched.delay_s": (s("sched_delay_ms") / 1000, "s"),
            "sched.no_job_s": (wall_s - active_s, "s"),
            "sched.slot_busy": (run_s / (result["cores"] * active_s) if active_s else 0.0, "ratio"),
            "exec.task_run_s": (run_s, "s"),
            "exec.task_cpu_s": (s("task_cpu_ns") / 1e9, "s"),
            "exec.gc_s": (s("gc_ms") / 1000, "s"),
            "exec.deser_s": (s("deser_ms") / 1000, "s"),
            "exec.cpu_share": (s("task_cpu_ns") / 1e6 / s("task_run_ms") if run_s else 0.0, "ratio"),
            "exec.median_task_ms": (statistics.median(tasks) if tasks else 0.0, "ms"),
            "shuffle.write_mb": (s("shuffle_write_b") / 2**20, "MB"),
            "shuffle.read_mb": (s("shuffle_read_b") / 2**20, "MB"),
            "shuffle.spill_mem_mb": (s("spill_mem_b") / 2**20, "MB"),
            "shuffle.spill_disk_mb": (s("spill_disk_b") / 2**20, "MB"),
            "shuffle.per_input_byte": (s("shuffle_write_b") / in_b if in_b else 0.0, "B/B"),
            "io.input_mb": (in_b / 2**20, "MB"),
            "io.input_rows": (s("input_rows"), "count"),
            "io.output_mb": (s("output_b") / 2**20, "MB"),
            "io.output_rows": (s("output_rows"), "count"),
            "storage.leftover_rdds": (s("leftover_rdds"), "count"),
            "storage.peak_mb": (max((r["storage_peak_b"] for r in rs), default=0) / 2**20, "MB"),
            "storage.sweep_s": (s("sweep_s"), "s"),
            "plans.topk_spills": (s("topk_spills"), "count"),
            "plans.topk_spill_mb": (s("topk_spill_b") / 2**20, "MB"),
        }
        out.update({f"{k}.{pass_}": v for k, v in m.items()})
    # tracing overhead: traced against untraced warm passes of the same JVM
    med = lambda traced: sum(statistics.median(  # noqa: E731
        wall(r) for r in good if r["pass"] == "warm" and r["traced"] == traced and r["key"] == k)
        for k in {r["key"] for r in good})
    untraced = med(False)
    out["trace.overhead_pct"] = (100 * (med(True) / untraced - 1), "%")
    out["trace.span_gap_pct"] = (span_gap_pct(result["spans"]), "%")
    out["gen.fixture_s"] = (gen_s, "s")
    out["jvm.peak_rss_mb"] = (result["peak_rss_mb"], "MB")
    return out


def span_gap_pct(spans):
    """Largest share of a query's wall time not covered by its build, plan,
    execute and sweep spans."""
    worst = 0.0
    for q in (s for s in spans if s["name"] == "query"):
        kids = sum(s["end_ms"] - s["start_ms"] for s in spans if s["parent"] == q["id"]
                   and s["name"] in ("build", "plan", "execute", "sweep"))
        dur = q["end_ms"] - q["start_ms"]
        if dur > 0:
            worst = max(worst, 100 * abs(dur - kids) / dur)
    return worst


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    workloads = load("workloads.json")
    if a.workload not in workloads:
        sys.exit(f"unknown workload {a.workload}; choose from {sorted(workloads)}")
    w = workloads[a.workload]
    cp = build.build()
    os.makedirs(WORK, exist_ok=True)
    fx, gen_s = fixtures(cp, w["fixtures"])
    expected = load("digests.json")[w["fixtures"]["tag"]]
    keys = sorted(w["keys"])
    random.Random(a.seed).shuffle(keys)
    tag = f"{a.workload}-{a.seed}"

    # --seconds fixes the work, not a deadline: the cold pass plus as many
    # warm passes as fit on the reference box, so every run does the same work
    nominal = w["nominal_s"]
    passes = max(1 + a.trace, round((a.seconds - nominal["cold"]) / nominal["warm"]))
    expect = ",".join(f"{t}={n}" for t, n in sorted(w["fixtures"]["rows"].items()))
    out = os.path.join(WORK, f"result-{tag}.json")
    go = os.path.join(WORK, f"go-{tag}")
    if os.path.exists(go):
        os.remove(go)
    # The set-up-only JVMs start together with the measuring one, which waits
    # for the go file, written once they have exited, before its cold pass.
    runner = start(cp, "graftbench.Runner",
                   ["--mode", "run", "--fixtures", fx, "--keys", ",".join(keys),
                    "--passes", str(passes), "--trace", str(a.trace), "--expect", expect,
                    "--go", go, "--out", out], f"run-{a.workload}.log")
    extra = [] if a.trace else [
        os.path.join(WORK, f"setup-{tag}-{i}.json") for i in range(SETUP_REPEATS)]
    setup_jvms = [start(cp, "graftbench.Runner",
                        ["--mode", "setup", "--fixtures", fx, "--out", path], f"setup-{i}.log")
                  for i, path in enumerate(extra)]
    for p in setup_jvms:
        finish(p)
    open(go, "w").close()
    finish(runner)
    os.remove(go)
    result = load(out)
    setups = [load(path)["setup_s"] for path in extra] + [result["setup_s"]]

    recs = result["records"]
    good, failures = [], []
    for r in recs:
        why = check(r, expected.get(r["key"]))
        if why is None:
            good.append(r)
        else:
            failures.append(f"{r['key']} ({r['pass']} {r['rep']}): {why}")
    for f in failures:
        print("FAILED", f, file=sys.stderr)
    if a.trace:
        with open(os.path.join(WORK, f"trace-{tag}.json"), "w") as fh:
            json.dump({"queries": recs, "spans": result["spans"]}, fh)
        metrics = layers(result, good, gen_s)
    else:
        metrics = end_to_end(setups, good)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(recs),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
