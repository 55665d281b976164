#!/usr/bin/env python3
"""Interleaved A/B of the benchmark (perfbench/run.py) between two checkouts.

Usage, from the repository root:
  python3 tools/perfbench_ab.py --base <rev|dir> --head <rev|dir> \
      --workload registry_sf0.01 [--workload pipeline_sf0.03] \
      --pairs 10 --seed 5 [--trace 0] [--workdir DIR] [--out ab.json]

Each side runs from its own checkout: a directory is used as it is, a git
revision is cloned into --workdir/<side> first. Pair i runs both sides on seed
--seed + i, one after the other, each for the head's BENCHMARK.json
`run_seconds`; the side that runs first alternates, so a drift of the host
favours neither. Any run with `correct: false` or
`failed > 0` stops the A/B. For each workload and metric it prints each
side's median and quartiles, the head's change in the median, the pairs the
head won and whether the median gap exceeds the base's interquartile range.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("base", "head")


def checkout(side, ref, workdir):
    """Directory of a checkout of `ref` for one side."""
    if os.path.isdir(ref):
        return os.path.abspath(ref)
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify", ref + "^{commit}"],
                         check=True, stdout=subprocess.PIPE, text=True).stdout.strip()
    path = os.path.join(workdir, side)
    if not os.path.isdir(path):
        subprocess.run(["git", "clone", "-q", "--no-checkout", ROOT, path], check=True)
    subprocess.run(["git", "-C", path, "fetch", "-q", "origin"], check=True)
    subprocess.run(["git", "-C", path, "checkout", "-q", "--detach", sha], check=True)
    return path


def benchmark(repo):
    """Run length in seconds and metric name -> "lower" or "higher", from the
    checkout's BENCHMARK.json."""
    with open(os.path.join(repo, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench.get("per_layer", [])}
    return bench["run_seconds"], better


def run(repo, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=repo, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"{repo}: {' '.join(cmd)} exited {r.returncode}\n{r.stderr[-3000:]}")
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"] > 0:
        sys.exit(f"{repo} {workload} seed {seed}: refused, correct={res['correct']} "
                 f"failed={res['failed']}\n{r.stderr[-3000:]}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(workload, pairs, better):
    print(f"== {workload}: {len(pairs)} pairs ==")
    print(f"{'metric':34} {'base med [q1, q3]':>28} {'head med [q1, q3]':>28} "
          f"{'change':>8} {'wins':>6} gap>IQR")
    for m in pairs[0]["base"]:
        b = [p["base"][m] for p in pairs]
        h = [p["head"][m] for p in pairs]
        lower = better.get(m, "lower") == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(b, h))
        bm, hm = statistics.median(b), statistics.median(h)
        (b1, b3), (h1, h3) = quartiles(b), quartiles(h)
        gain = (bm - hm) if lower else (hm - bm)
        change = f"{100 * (hm / bm - 1):+.1f}%" if bm else "n/a"
        print(f"{m:34} {f'{bm:.4g} [{b1:.4g}, {b3:.4g}]':>28} "
              f"{f'{hm:.4g} [{h1:.4g}, {h3:.4g}]':>28} {change:>8} "
              f"{f'{wins}/{len(pairs)}':>6} {'yes' if gain > b3 - b1 else 'no'}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="git revision or checkout directory")
    ap.add_argument("--head", required=True, help="git revision or checkout directory")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", default=os.path.join(tempfile.gettempdir(), "perfbench_ab"),
                    help="where revisions are cloned")
    ap.add_argument("--out", help="write every run's metrics here as JSON")
    a = ap.parse_args()
    os.makedirs(a.workdir, exist_ok=True)
    repos = {s: checkout(s, getattr(a, s), a.workdir) for s in SIDES}
    for s in SIDES:
        subprocess.run([sys.executable, "perfbench/build.py"], cwd=repos[s], check=True,
                       stdout=subprocess.DEVNULL)
    seconds, better = benchmark(repos["head"])
    results = {}
    for w in a.workload:
        pairs = results.setdefault(w, [])
        for i in range(a.pairs):
            seed = a.seed + i
            pair = {"seed": seed, "first": SIDES[i % 2]}
            for s in (SIDES if i % 2 == 0 else SIDES[::-1]):
                pair[s] = run(repos[s], w, seed, seconds, a.trace)
            pairs.append(pair)
            print(f"[{w}] pair {i + 1}/{a.pairs} seed {seed} done", file=sys.stderr, flush=True)
        if a.out:
            with open(a.out, "w") as fh:
                json.dump({"repos": repos, "results": results}, fh, indent=1)
        report(w, pairs, better)


if __name__ == "__main__":
    main()
