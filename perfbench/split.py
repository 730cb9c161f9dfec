#!/usr/bin/env python3
"""Per-registry layer split of a traced batch run.

    python3 perfbench/split.py <result.json> <cores>

<result.json> is a traced harness result: perfbench/.work/results/*-t1.json,
or the traced pass that calibrate.py keeps. Each row sums its registry's
ops. The phase columns are shares of the op wall time. "executor busy" is
Σ executorRunTime / (wall × cores): the share of core-time spent in
tasks. The rest of the wall is planning, scheduling and driver-side
work.
"""
import json
import sys


def main(path, cores):
    ops = [o for o in json.load(open(path))["ops"] if o.get("error") is None]
    rows = {}
    for o in ops:
        r = rows.setdefault(o["registry"], {"n": 0, "wall": 0.0, "build": 0.0,
                                            "plan": 0.0, "exec": 0.0,
                                            "run": 0.0})
        r["n"] += 1
        for k in ("wall", "build", "plan", "exec"):
            r[k] += o[f"{k}_s"]
        r["run"] += o["busy_frac"] * o["wall_s"] * cores
    total = {k: sum(r[k] for r in rows.values())
             for k in ("n", "wall", "build", "plan", "exec", "run")}
    print("| registry | queries | wall s | build | plan | exec | cleanup "
          "| executor busy |")
    print("|---|---:|---:|---:|---:|---:|---:|---:|")
    for name, r in sorted(rows.items()) + [("**all**", total)]:
        w = r["wall"] or 1.0
        clean = w - r["build"] - r["plan"] - r["exec"]
        print(f"| {name} | {r['n']} | {r['wall']:.1f} | "
              f"{100 * r['build'] / w:.0f}% | {100 * r['plan'] / w:.0f}% | "
              f"{100 * r['exec'] / w:.0f}% | {100 * clean / w:.0f}% | "
              f"{100 * r['run'] / (w * cores):.0f}% |")


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))
