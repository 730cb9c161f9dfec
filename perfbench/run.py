#!/usr/bin/env python3
"""The repository benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.sh) into perfbench/.work; later runs reuse the
build while the sources are unchanged. The seed picks the workload's
inputs (the query sample, or the stream's event sample and document mix);
the engine sees only those inputs. The last line of standard output is
one JSON object with the keys correct, attempted, failed and metrics.
With --trace 1 the run also writes its spans to perfbench/.work/spans/.
Workloads, metrics and layers are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
DATA = os.path.join(HERE, "data")


def spark_jars():
    """$SPARK_HOME/jars, or else the jar directory build.sbt compiles
    against (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m is None:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark install")
    return m.group(1)

DEADLINE_S = 170          # every run must end within 180 s
SETUP_REPS = 3            # setup_s is the median of this many set-ups
HEAP = "4g"
# Queries per suite stratum the seed picks from: the ones nearest the
# stratum's median cost. Costs are measured in a warm JVM, and a short
# run pays query-specific cold costs on top, so a wider core lets the
# seed move wall_s by more than the host's noise.
CORE = 2

# Stream backlog: 2 archive files and one ingest micro-batch of
# BATCH_DOCS documents per 10 s of --seconds (at least two batches); a
# file source admits one file per trigger.
ARCHIVE_ROWS_PER_FILE = 5000
BATCH_DOCS = 10
NEAR_DUP = 0.2


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    files.append(os.path.join(HERE, "build.sh"))
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the stamp matches the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    digest = sources_digest()
    stamp = os.path.join(BUILD, "STAMP")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(WORK, exist_ok=True)
    log("building engine and harness")
    fresh = BUILD + ".new"
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.call(["bash", os.path.join(HERE, "build.sh"),
                              spark_jars(), fresh], stdout=out,
                             stderr=subprocess.STDOUT, cwd=ROOT)
    if rc != 0:
        raise SystemExit(f"perfbench: build failed (see {WORK}/build.log)")
    with open(os.path.join(fresh, "STAMP"), "w") as f:
        f.write(digest)
    shutil.rmtree(BUILD, ignore_errors=True)
    os.rename(fresh, BUILD)


def soak_fixture():
    """The 10x soak fixture, generated once per checkout from sf0.1."""
    dst = os.path.join(WORK, "soak-sf1")
    if os.path.exists(os.path.join(dst, "DONE")):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    subprocess.check_call([sys.executable,
                           os.path.join(ROOT, "tools", "soakgen.py"),
                           os.path.join(DATA, "sf0.1"), dst, "10"],
                          stdout=subprocess.DEVNULL, cwd=ROOT)
    open(os.path.join(dst, "DONE"), "w").close()
    return dst


def load_pool():
    with open(os.path.join(HERE, "pool.json")) as f:
        return json.load(f)


def qnum(name):
    m = re.match(r"q(\d+)", name)
    return (int(m.group(1)) if m else 1 << 30, name)


def stratified_sample(queries, n, rng):
    """Pick one query per stratum, about n strata in all, returned in
    numeric order. Every registry gets one stratum; the strata beyond
    those go to registries in proportion to their share of the pool
    (largest remainder). A registry's queries are sorted by cost and cut
    into equal-count groups, one per stratum. The seed picks within the
    group's cost-matched core (the CORE queries nearest the group's
    median cost), so every seed's sample costs about the same."""
    by_reg = {}
    for q, rec in queries.items():
        by_reg.setdefault(rec["registry"], []).append(q)
    regs = sorted(by_reg)
    extra = max(0, n - len(regs))
    share = {r: extra * len(by_reg[r]) / len(queries) for r in regs}
    k = {r: 1 + int(share[r]) for r in regs}
    rest = sorted(regs, key=lambda r: (int(share[r]) - share[r], r))
    for r in rest[:extra - sum(int(v) for v in share.values())]:
        k[r] += 1
    picked = []
    for r in regs:
        qs = sorted(by_reg[r], key=lambda q: (queries[q]["cost_s"], q))
        for i in range(k[r]):
            group = qs[i * len(qs) // k[r]:(i + 1) * len(qs) // k[r]]
            mid = queries[group[(len(group) - 1) // 2]]["cost_s"]
            core = sorted(group, key=lambda q: (
                abs(queries[q]["cost_s"] - mid), q))[:CORE]
            picked.append(rng.choice(sorted(core)))
    return sorted(picked, key=qnum)


def family_sample(pool, rng):
    """One query per cost-matched stratum of each data-bound family."""
    return sorted((rng.choice(s) for s in pool["strata"]), key=qnum)


def expect_file(queries, names, path):
    with open(path, "w") as f:
        for q in names:
            rec = queries[q]
            cols = [rec["rows"]] + ([rec["lo"], rec["hi"]]
                                    if rec.get("lo") is not None else [])
            f.write("\t".join([q] + [str(c) for c in cols]) + "\n")


def jvm(args, state, timeout):
    """Run the harness JVM; returns its result dict or None."""
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(state, "result.json")
    opens = ["java.base/" + p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in opens for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-cp", os.pathsep.join([os.path.join(BUILD, "engine"),
                                    os.path.join(BUILD, "harness"),
                                    os.path.join(spark_jars(), "*")]),
            "graft.perfbench.Main", "--state", state, "--out", out] + args)
    logf = os.path.join(WORK, f"jvm-{os.path.basename(state)}.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             cwd=ROOT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            log(f"run exceeded its deadline; log in {logf}")
            return None
    if rc != 0 or not os.path.exists(out):
        log(f"harness exited {rc}; log in {logf}")
        return None
    with open(out) as f:
        return json.load(f)


def run_once(workload, seed, seconds, trace, deadline, selftest=False):
    """One run of one workload; returns the harness result or None."""
    pool = load_pool()
    rng = random.Random(f"{workload}/{seed}")
    state = os.path.join(WORK, "state")
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(state)
    sf01 = os.path.join(DATA, "sf0.1")
    tiny = os.path.join(DATA, "sf0.001")
    args = ["--seed", str(seed), "--trace", str(trace), "--tiny", tiny,
            "--cores", str(len(os.sched_getaffinity(0))),
            "--setup-reps", str(1 if selftest else SETUP_REPS)]
    if trace:
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        args += ["--spans", os.path.join(
            WORK, "spans", f"{workload}-{seed}.jsonl")]
    if workload == "stream_archive_ingest":
        batches = 2 if selftest else max(2, round(seconds / 10))
        sizes = {"archive-files": 2 * batches,
                 "archive-rows": 2 * batches * (
                     200 if selftest else ARCHIVE_ROWS_PER_FILE),
                 "ingest-batches": batches,
                 "batch-docs": 4 if selftest else BATCH_DOCS,
                 "near-dup": NEAR_DUP}
        args += ["--mode", "stream", "--data", tiny if selftest else sf01]
        for k, v in sizes.items():
            args += [f"--{k}", str(v)]
        sample = "stream mix: " + ", ".join(f"{k}={v}" for k, v in sizes.items())
    else:
        if selftest:
            queries, data = pool["selftest"]["queries"], tiny
            names = sorted(queries, key=qnum)
        elif workload == "suite_sf0.1":
            queries, data = pool["suite"]["queries"], sf01
            mean = sum(r["cost_s"] for r in queries.values()) / len(queries)
            names = stratified_sample(queries, max(1, round(seconds / mean)),
                                      rng)
        else:
            queries, data = pool["heavy"]["queries"], soak_fixture()
            names = family_sample(pool["heavy"], rng)
        exp = os.path.join(state, "expect.tsv")
        expect_file(queries, names, exp)
        args += ["--mode", "batch", "--data", data, "--ops", ",".join(names),
                 "--expect", exp]
        sample = "query sample: " + ",".join(names)
    print(f"# {workload} seed={seed} {sample}", flush=True)
    res = jvm(args, state, deadline - time.monotonic())
    if res is not None:
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results",
                               f"{workload}-{seed}-t{trace}.json"), "w") as f:
            json.dump(res, f, indent=1)
        # fresh state per run: the warehouse and temp directory go with it
        shutil.rmtree(state, ignore_errors=True)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    build()
    if a.selftest:
        sys.exit(selftest(deadline + 600))
    workloads = ("suite_sf0.1", "heavy_sf1", "stream_archive_ingest")
    if a.workload not in workloads:
        raise SystemExit(f"perfbench: --workload must be one of {workloads}")
    untraced_cache = os.path.join(
        WORK, "untraced", f"{a.workload}-{a.seed}-{a.seconds}.json")
    if a.trace:
        base_wall = untraced_wall(a.workload, a.seed, a.seconds)
        if base_wall is None:
            base = run_once(a.workload, a.seed, a.seconds, 0, deadline)
            if base is None:
                sys.exit(1)
            save_untraced(untraced_cache, base)
            base_wall = base["metrics"]["wall_s"]["value"]
        res = run_once(a.workload, a.seed, a.seconds, 1, deadline)
        if res is None:
            sys.exit(1)
        res["metrics"]["trace_overhead_frac"] = {
            "value": res["metrics"].pop("wall_s")["value"] / base_wall,
            "unit": "1"}
        for k in ("setup_s", "op_s_p50"):
            res["metrics"].pop(k, None)
    else:
        res = run_once(a.workload, a.seed, a.seconds, 0, deadline)
        if res is None:
            sys.exit(1)
        save_untraced(untraced_cache, res)
        # a per-layer metric: it moves with the seed's sample
        res["metrics"].pop("heap_live_mb")
    info = res.get("info", {})
    print("# " + json.dumps(info, sort_keys=True), flush=True)
    print(json.dumps({k: res[k] for k in
                      ("correct", "attempted", "failed", "metrics")}),
          flush=True)


def untraced_wall(workload, seed, seconds):
    """The untraced wall_s to compare a traced run with: this seed's, or
    else the median over the seeds this checkout has run untraced."""
    d = os.path.join(WORK, "untraced")
    own = os.path.join(d, f"{workload}-{seed}-{seconds}.json")
    if os.path.exists(own):
        return json.load(open(own))["wall_s"]
    pat = re.compile(re.escape(workload) + r"-\d+-" + str(seconds) + r"\.json$")
    walls = sorted(json.load(open(os.path.join(d, f)))["wall_s"]
                   for f in (os.listdir(d) if os.path.isdir(d) else [])
                   if pat.match(f))
    return statistics.median(walls) if walls else None


def save_untraced(path, res):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"wall_s": res["metrics"]["wall_s"]["value"]}, f)


def selftest(deadline):
    """Minimal-size runs of every workload shape on sf0.001, checked
    against BENCHMARK.json: every metric printed with its unit, span
    self times within their parents, and no failed op."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for workload in ("suite_sf0.1", "stream_archive_ingest"):
        for trace in (0, 1):
            res = run_once(workload, 1, 1, trace, deadline, selftest=True)
            if res is None:
                problems.append(f"{workload} trace={trace}: no result")
                continue
            want = bench["per_layer" if trace else "end_to_end"]
            got = dict(res["metrics"])
            if trace:
                got["trace_overhead_frac"] = {"value": 1.0, "unit": "1"}
            for m in want:
                g = got.get(m["name"])
                if g is None or g.get("unit") != m["unit"]:
                    problems.append(f"{workload} trace={trace}: metric "
                                    f"{m['name']} missing or unit differs")
            if res["failed"] != 0:
                problems.append(f"{workload} trace={trace}: "
                                f"{res['failed']} failed ops")
            if trace and res.get("info", {}).get("spans_ok") is not True:
                problems.append(f"{workload}: a span's self time exceeds "
                                f"its parent's duration")
    for p in problems:
        print("FAIL " + p)
    print("selftest " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    main()
