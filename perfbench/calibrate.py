#!/usr/bin/env python3
"""Re-derive perfbench/pool.json: each pool query's cost on this host
and its expected output.

    python3 perfbench/calibrate.py suite|heavy|selftest [query,...] [--reuse-dump]

A first pass dumps every query's result to parquet, and tools/check.py
compares each dump with its DuckDB oracle (--reuse-dump keeps the last
dump and verdict). Then each query runs twice more in the harness, the
first time traced. A query enters the pool only if it raised no
error, its digest is the same in both passes, and its dump matches the
oracle. Its expected output is then the digest; a query with no oracle
is checked by its row count only. Heavy candidates must also keep the
executors busy (sched.busy_frac >= 0.5).
"""
import json
import os
import subprocess
import sys

import run

# Data-bound candidates for heavy_sf1, by family. A stratum is a set of
# queries of similar cost at sf1, so each seed's pick costs about the same.
HEAVY_FAMILIES = {
    "text": ["q207_", "q229_", "q123_"],
    "graph": ["q104_", "q115_", "q194_", "q213_"],
    "joinagg": ["q01_", "q03_", "q04_", "q05_", "q07_", "q10_", "q13_",
                "q14_", "q15_", "q16_", "q17_", "q18_", "q26_", "q29_",
                "q48_", "q69_"],
}
SELFTEST = ["q01_agg_summary", "q03_join_revenue", "q09_window_topk"]


def declared():
    state = os.path.join(run.WORK, "calib-list")
    os.makedirs(state, exist_ok=True)
    out = os.path.join(state, "queries.tsv")
    subprocess.check_call(
        ["java", "-cp", os.pathsep.join([
            os.path.join(run.BUILD, "engine"), os.path.join(run.BUILD, "harness"),
            os.path.join(run.spark_jars(), "*")]),
         "graft.perfbench.Main", "--mode", "list", "--out", out],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    return dict(line.rstrip("\n").split("\t") for line in open(out))


def passes(names, data, tag, reuse_dump=False):
    state = os.path.join(run.WORK, f"calib-{tag}")
    dump = state + "-dump"
    check = state + "-check.json"

    def harness(trace, extra=()):
        subprocess.call(["rm", "-rf", state])
        os.makedirs(state)
        open(os.path.join(state, "expect.tsv"), "w").close()
        args = ["--mode", "batch", "--data", data, "--ops", ",".join(names),
                "--expect", os.path.join(state, "expect.tsv"),
                "--tiny", os.path.join(run.DATA, "sf0.001"), "--seed", "0",
                "--cores", str(len(os.sched_getaffinity(0))),
                "--trace", str(trace), "--setup-reps", "1", *extra]
        res = run.jvm(args, state, 7200)
        if res is None:
            raise SystemExit("calibration pass failed")
        return res

    # the dump pass re-executes each query to write its result; the two
    # timed passes below must agree on every digest, so the dumped rows
    # are the rows those digests describe
    if not reuse_dump:
        subprocess.call(["rm", "-rf", dump])
        harness(0, ("--dump", dump))
        subprocess.call([sys.executable,
                         os.path.join(run.ROOT, "tools", "check.py"),
                         dump, data, "--json", check],
                        stdout=subprocess.DEVNULL)
    traced = harness(1)
    with open(state + "-traced.json", "w") as f:
        json.dump(traced, f)
    results = [{o["name"]: o for o in r["ops"]} for r in (traced, harness(0))]
    verdict = json.load(open(check))
    pool, dropped = {}, {}
    for q in names:
        a, b = results[0].get(q), results[1].get(q)
        v = verdict.get(q, {})
        why = None
        if a is None or b is None or a["error"] or b["error"]:
            why = "error: %s" % ((a or {}).get("error") or (b or {}).get("error"))
        elif (a["rows"], a["lo"], a["hi"]) != (b["rows"], b["lo"], b["hi"]):
            why = "digest differs between passes"
        elif v.get("err") != "no oracle (rows-only)" and not v.get("hash_match"):
            why = "oracle mismatch: %s" % v.get("err")
        if why:
            dropped[q] = why
            continue
        rec = {"cost_s": round((a["wall_s"] + b["wall_s"]) / 2, 3),
               "busy_frac": round(a["busy_frac"], 3), "rows": a["rows"]}
        if v.get("hash_match"):
            rec.update(lo=a["lo"], hi=a["hi"])
        pool[q] = rec
    return pool, dropped


def cost_matched(qs, pool, ratio=1.1):
    """The largest run of cost-adjacent queries whose costs lie within
    `ratio` of each other: the family's stratum for the seed to pick
    from."""
    qs = sorted(qs, key=lambda q: pool[q]["cost_s"])
    best = qs[:1]
    for i in range(len(qs)):
        j = i
        while (j + 1 < len(qs) and
               pool[qs[j + 1]]["cost_s"] <= ratio * pool[qs[i]]["cost_s"]):
            j += 1
        if j + 1 - i > len(best):
            best = qs[i:j + 1]
    return sorted(best, key=run.qnum)


def main():
    reuse = "--reuse-dump" in sys.argv
    argv = [a for a in sys.argv if a != "--reuse-dump"]
    which = argv[1]
    run.build()
    decl = declared()
    path = os.path.join(run.HERE, "pool.json")
    cur = json.load(open(path)) if os.path.exists(path) else {}
    if which == "suite":
        names = sorted(decl, key=run.qnum)
        if len(argv) > 2:
            names = argv[2].split(",")
        pool, dropped = passes(names, os.path.join(run.DATA, "sf0.1"), which,
                               reuse)
        for q in pool:
            pool[q]["registry"] = decl[q]
        cur["suite"] = {"queries": pool, "dropped": dropped}
    elif which == "heavy":
        fams = {f: [d for d in decl for p in ps if d.startswith(p)]
                for f, ps in HEAVY_FAMILIES.items()}
        names = sorted({q for qs in fams.values() for q in qs}, key=run.qnum)
        pool, dropped = passes(names, run.soak_fixture(), which, reuse)
        for q, r in list(pool.items()):
            if r["busy_frac"] < 0.5:
                dropped[q] = f"busy_frac {r['busy_frac']} < 0.5"
                del pool[q]
        cur["heavy"] = {"queries": pool, "dropped": dropped,
                        "strata": [cost_matched([q for q in qs if q in pool],
                                                pool)
                                   for qs in fams.values()]}
    else:
        pool, dropped = passes(SELFTEST, os.path.join(run.DATA, "sf0.001"),
                               which, reuse)
        cur["selftest"] = {"queries": pool, "dropped": dropped}
    with open(path, "w") as f:
        json.dump(cur, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(dropped, indent=1))


if __name__ == "__main__":
    main()
