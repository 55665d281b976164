#!/usr/bin/env python3
"""Regenerates perfbench/digests.json, the expected output of every workload
query. Run it only on a commit whose outputs are known good, from the
repository root:

  python3 perfbench/make_digests.py

For each fixture scale it runs the workloads' keys in three JVMs, each in
another order (a cold and a warm execution per JVM), and keeps per key:
  ordered    the query sorts its rows and the ordered row hash never changed;
  unordered  the order-insensitive row hash never changed;
  rows       only the row count is stable (oracle-exempt keys whose output
             changes from run to run; listed in perfbench/NOTES.md).
Then it writes the same keys with graft.Verify and compares them with the
DuckDB oracle through tools/check.py; each key records the outcome
("match", "mismatch" or "exempt").
"""
import json
import os
import random
import re
import subprocess
import sys

import run

RUNS = 3


def digests_for(cp, fx, spec, keys):
    seen = {k: [] for k in keys}
    expect = ",".join(f"{t}={n}" for t, n in sorted(spec["rows"].items()))
    for seed in range(RUNS):
        order = sorted(keys)
        random.Random(seed).shuffle(order)
        out = os.path.join(run.WORK, f"digest-{spec['tag']}-{seed}.json")
        run.jvm(cp, "graftbench.Runner",
                ["--mode", "run", "--fixtures", fx, "--keys", ",".join(order), "--passes", "1",
                 "--trace", "0", "--expect", expect, "--out", out], "digest.log")
        for r in run.load(out)["records"]:
            if r["error"] is not None:
                sys.exit(f"{r['key']} failed: {r['error']}")
            seen[r["key"]].append(r)
    table = {}
    for k, rs in seen.items():
        if len({r["rows"] for r in rs}) != 1:
            sys.exit(f"{k}: row count changes between runs: {[r['rows'] for r in rs]}")
        if all(r["sorted"] for r in rs) and len({r["ordered_hash"] for r in rs}) == 1:
            table[k] = {"mode": "ordered", "rows": rs[0]["rows"], "hash": rs[0]["ordered_hash"]}
        elif len({r["hash"] for r in rs}) == 1:
            table[k] = {"mode": "unordered", "rows": rs[0]["rows"], "hash": rs[0]["hash"]}
        else:
            table[k] = {"mode": "rows", "rows": rs[0]["rows"], "hash": None}
    return table


def oracle(cp, fx, tag, keys):
    out = os.path.join(run.WORK, f"verify-{tag}")
    run.JVM_TIMEOUT_S = 1800
    run.jvm(cp, "graft.Verify", [fx, out] + sorted(keys), "verify.log")
    r = subprocess.run([sys.executable, os.path.join(run.BENCH, "..", "tools", "check.py"),
                        fx, out] + sorted(keys), stdout=subprocess.PIPE, text=True)
    verdict = {k: "exempt" for k in keys}
    for line in r.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? ", line + " ")
        if m and m.group(2) in verdict:
            verdict[m.group(2)] = "match" if m.group(1) == "PASS" else "mismatch"
    return verdict


def main():
    cp = run.build.build()
    os.makedirs(run.WORK, exist_ok=True)
    workloads = run.load("workloads.json")
    by_tag = {}
    for w in workloads.values():
        spec = w["fixtures"]
        by_tag.setdefault(spec["tag"], (spec, set()))[1].update(w["keys"])
    result = {}
    for tag, (spec, keys) in sorted(by_tag.items()):
        fx, _ = run.fixtures(cp, spec)
        table = digests_for(cp, fx, spec, keys)
        for k, v in oracle(cp, fx, tag, keys).items():
            table[k]["oracle"] = v
        result[tag] = dict(sorted(table.items()))
        bad = [k for k, v in table.items() if v["oracle"] == "mismatch"
               or (v["mode"] == "rows" and v["oracle"] != "exempt")]
        if bad:
            sys.exit(f"{tag}: keys whose output is not oracle-correct or not stable: {bad}")
    with open(os.path.join(run.BENCH, "digests.json"), "w") as fh:
        json.dump(result, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
