#!/usr/bin/env python3
"""Benchmark of the graft engine: sampled slices of SparkEntry.queries.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py selftest
    python3 perfbench/run.py survey

The first form builds the engine and the benchmark from source (once per
source tree), draws the workload's queries from the committed
classification with the seed, runs them in one JVM and prints one JSON
line with the metrics last. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build" / "perfbench"
DATA = BENCH / "data"
CLASSES = BENCH / "classification.tsv"
EXPECTED = BENCH / "expected.tsv"

WORKLOADS = ("etl_relational", "staged_analytics", "llm_pipeline", "concurrent_mix")
SINGLE = WORKLOADS[:3]
# Queries drawn per single-client workload. Each is one query from each of
# SAMPLE equal-size strata of its class ranked by cost, so a pass costs about the same on
# every seed. etl_relational also always runs every file-writing query, and
# draws enough strata that the other queries carry most of its time;
# staged_analytics draws more because its cost is heavy-tailed, so one
# draw from a wide top stratum would move a run's cpu_s most.
SAMPLE = {"etl_relational": 6, "staged_analytics": 10, "llm_pipeline": 8}
MIX_CLIENTS = 4
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Printed by every untraced run, with units. The JSON result carries
# END_TO_END only: of the timings, the CPU time of the best pass and of
# the set-up, because on a host whose cores are shared with other guests
# wall times drift with their load, and a median over the ten-odd queries
# of one run moves with which queries the seed drew (see README.md, "Why
# CPU time").
PRINTED = {
    "wall_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "query_geomean_s": "s", "cpu_s": "s", "query_cpu_p50_s": "s",
    "query_cpu_tail_s": "s", "query_cpu_geomean_s": "s", "ok_frac": "frac",
    "failed_frac": "frac", "setup_s": "s", "setup_wall_s": "s", "peak_rss_mb": "MB",
}
END_TO_END = ("cpu_s", "ok_frac", "setup_s")
KERNELS = ("cosineSim", "jaccardSim", "charBigrams", "tokenHashes",
           "simHash", "redact", "l2Normalize", "randomProject")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_files():
    """Every file whose change requires a rebuild."""
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    files += sorted((ROOT / "project").glob("*.sbt")) + sorted((ROOT / "project").glob("*.properties"))
    files += sorted((BENCH / "project").glob("*.properties"))
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return [f for f in files if f.is_file()]


def build():
    """Compile engine and benchmark with sbt; cache the runtime classpath,
    keyed by a hash of every source file, so later runs skip sbt."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src/main/scala/graft/SparkEntry.scala").is_file():
        log("engine sources not found beside perfbench/; nothing to build")
        sys.exit(2)
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file, stamp_file = WORK / "classpath", WORK / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[") and "classes" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        log("build failed")
        sys.exit(2)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1]


def jvm(cp, args, timeout):
    """Run the benchmark JVM in its own process group; kill the group on
    timeout. Its console output goes to a log file under WORK."""
    opens = [f"java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    tmp = WORK / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java"] + [x for o in opens for x in ("--add-opens", o)] + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main", "--work", str(WORK), "--data", str(DATA)] + args
    with open(WORK / "jvm.log", "w") as out:
        p = subprocess.Popen(cmd, cwd=WORK, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            log(f"JVM exceeded {timeout:.0f} s and was killed")
            sys.exit(3)
    if rc != 0:
        sys.stderr.write((WORK / "jvm.log").read_text()[-4000:])
        log(f"JVM exited with {rc}")
        sys.exit(3)


# -------------------------------------------------------------- workloads

def read_tsv(path):
    rows = []
    lines = [l for l in path.read_text().splitlines() if l and not l.startswith("#")]
    head = lines[0].split("\t")
    for l in lines[1:]:
        rows.append(dict(zip(head, l.split("\t"))))
    return rows


def classification():
    return read_tsv(CLASSES)


def sample(classes, workload, seed):
    """The seed's ordered query list for a workload. Each single-client
    workload takes one query from each of SAMPLE[w] strata of its class,
    ranked by the surveyed CPU time, so pass cost varies little by seed."""
    if workload == "concurrent_mix":
        qs = [q for w in SINGLE for q in sample(classes, w, seed)]
        random.Random(f"{seed}/mix").shuffle(qs)
        return qs
    rng = random.Random(f"{seed}/{workload}")
    members = [c for c in classes if c["class"] == workload]
    fixed = [c["name"] for c in members if c["writes"] == "1"]
    pool = sorted((c for c in members if c["writes"] != "1"),
                  key=lambda c: (float(c["ref_cpu_s"]), c["name"]))
    k = SAMPLE[workload]
    picked = [rng.choice(pool[i * len(pool) // k:(i + 1) * len(pool) // k])["name"]
              for i in range(k)]
    qs = fixed + picked
    rng.shuffle(qs)
    return qs


# ---------------------------------------------------------------- metrics

def tail(values):
    """Highest of the p50/p75/p90/p95/p99/p99.9 percentiles with at least
    ten samples beyond it: (percentile, value)."""
    xs = sorted(values)
    n = len(xs)
    best = (50.0, statistics.median(xs))
    for p in (75.0, 90.0, 95.0, 99.0, 99.9):
        if n * (1 - p / 100) >= 10:
            best = (p, xs[min(n - 1, math.ceil(p / 100 * n) - 1)])
    return best


def end_to_end(rec, writers):
    """Each query's time is its best over the run's passes and wall_s is
    the best pass, as graft.Bench takes the best of two passes; likewise
    for CPU time. writers_cpu_share is the file-writing queries' share of
    the per-query best CPU times."""
    passes = [p for p in rec["passes"] if not p["traced"]]
    runs = [q for p in passes for q in p["queries"]]
    failed = sum(1 for q in runs if "error" in q)
    m = {"ok_frac": 1 - failed / len(runs), "failed_frac": failed / len(runs),
         "setup_s": rec["setup_cpu_s"], "setup_wall_s": rec["setup_wall_s"],
         "peak_rss_mb": rec["peak_rss_mb"]}
    info = {"passes": len(passes)}
    for key, prefix in (("wall_s", "query_"), ("cpu_s", "query_cpu_")):
        best = {}
        for q in runs:
            best[q["name"]] = min(best.get(q["name"], math.inf), q[key])
        xs = list(best.values())
        pct, tail_v = tail(xs)
        m[key] = min(p[key] for p in passes)
        m[prefix + "p50_s"] = statistics.median(xs)
        m[prefix + "tail_s"] = tail_v
        m[prefix + "geomean_s"] = math.exp(statistics.fmean(math.log(max(x, 1e-9)) for x in xs))
        info["query_samples"], info["query_tail_percentile"] = len(xs), pct
        if key == "cpu_s":
            info["writers_cpu_share"] = sum(v for n, v in best.items() if n in writers) / sum(xs)
    return m, info


def union_ms(intervals, lo, hi):
    """Length of the part of [lo, hi] covered by the intervals."""
    total, cur = 0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def per_layer(rec, cores, writers):
    """Per-layer metrics of a traced run: totals over its traced pass. A
    file-writing query's construction is its write, so its construction
    time and jobs count as sources.*."""
    traced = [p for p in rec["passes"] if p["traced"]]
    plain = [p for p in rec["passes"] if not p["traced"]]
    summed = ("wall_s", "action_s", "plan_s", "cut_blocks", "cut_bytes", "jobs",
              "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
              "spill_bytes", "scan_bytes", "scan_rows", "write_bytes", "write_rows")

    def pass_totals(p):
        qs = p["queries"]
        t = {k: sum(q[k] for q in qs) for k in summed}
        for k in ("build_s", "build_jobs", "collect_bytes"):
            t[k] = sum(q[k] for q in qs if q["name"] not in writers)
            t["write_" + k] = sum(q[k] for q in qs if q["name"] in writers)
        t["driver_gap_s"] = 0.0
        for q in qs:
            lo = q["start_ms"] + q["build_s"] * 1e3
            hi = q["start_ms"] + q["wall_s"] * 1e3
            t["driver_gap_s"] += (hi - lo - union_ms(q["action_stage_ms"], lo, hi)) / 1e3
        return t

    t = pass_totals(traced[0])

    m = {
        "ops.build_s": (t["build_s"], "s"),
        "ops.build_jobs": (t["build_jobs"], "count"),
        "ops.build_share": (t["build_s"] / t["wall_s"], "frac"),
        "ops.cut_blocks": (t["cut_blocks"], "count"),
        "ops.cut_bytes": (t["cut_bytes"], "bytes"),
        "ops.collect_bytes": (t["collect_bytes"], "bytes"),
        "plan.s": (t["plan_s"], "s"),
        "exec.action_s": (t["action_s"], "s"),
        "exec.jobs": (t["jobs"], "count"),
        "exec.stages": (t["stages"], "count"),
        "exec.tasks": (t["tasks"], "count"),
        "exec.tasks_per_stage": (t["tasks"] / max(t["stages"], 1), "count"),
        "exec.task_run_s": (t["task_run_s"], "s"),
        "exec.task_cpu_s": (t["task_cpu_s"], "s"),
        "exec.core_util": (t["task_run_s"] / (t["action_s"] * cores), "frac"),
        "exec.driver_gap_s": (t["driver_gap_s"], "s"),
        "exec.gc_s": (t["gc_s"], "s"),
        "shuffle.write_bytes": (t["shuffle_write_bytes"], "bytes"),
        "shuffle.read_bytes": (t["shuffle_read_bytes"], "bytes"),
        "shuffle.fetch_wait_s": (t["fetch_wait_s"], "s"),
        "shuffle.spill_bytes": (t["spill_bytes"], "bytes"),
        "tables.scan_bytes": (t["scan_bytes"], "bytes"),
        "tables.scan_rows": (t["scan_rows"], "count"),
        "sources.write_bytes": (t["write_bytes"], "bytes"),
        "sources.write_rows": (t["write_rows"], "count"),
        "sources.write_s": (t["write_build_s"], "s"),
        "sources.write_jobs": (t["write_build_jobs"], "count"),
    }
    for k in KERNELS:
        kr = rec["kernels"][k]
        m[f"functions.{k}.ns_per_row"] = (kr["ns"] / kr["rows"], "ns/row")
    # The untraced pass follows the traced one, so it is a little warmer
    # and trace.overhead_frac reads high rather than low.
    plain_wall = statistics.fmean(p["wall_s"] for p in plain)
    # The scale pass runs only the sample's first queries; compare it with
    # the same queries in the untraced pass.
    scaled = set(rec["scale_queries"])
    base_wall = statistics.fmean(sum(q["wall_s"] for q in p["queries"] if q["name"] in scaled)
                                 for p in plain)
    decades = math.log10(float(rec["scale_sf"][2:]) / float(rec["sf"][2:]))
    m["scale.exponent"] = (math.log10(rec["scale_wall_s"] / base_wall) / decades, "1")
    m["trace.overhead_frac"] = (
        statistics.fmean(p["wall_s"] for p in traced) / plain_wall - 1, "frac")
    return m


# -------------------------------------------------------------------- run

def bench(args):
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
        sys.exit(2)
    for f in (CLASSES, EXPECTED, DATA):
        if not f.exists():
            log(f"missing {f.relative_to(ROOT)}")
            sys.exit(2)
    cp = build()
    queries = sample(classification(), args.workload, args.seed)
    clients = MIX_CLIENTS if args.workload == "concurrent_mix" else 1
    clients = min(clients, os.cpu_count() or 1)
    runs_dir = WORK / "runs"
    runs_dir.mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    out, spans = runs_dir / f"{tag}.json", runs_dir / f"{tag}.spans.jsonl"
    jvm(cp, ["--mode", "run", "--queries", ",".join(queries), "--clients", str(clients),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--expected", str(EXPECTED), "--out", str(out), "--spans", str(spans)],
        JVM_TIMEOUT_S)
    rec = json.loads(out.read_text())
    writers = {c["name"] for c in classification() if c["writes"] == "1"}
    m, info = end_to_end(rec, writers)
    runs = [q for p in rec["passes"] for q in p["queries"]]
    failed = sum(1 for q in runs if "error" in q)
    for q in runs:
        if "error" in q:
            log(f"FAILED {q['name']}: {q['error']}")
    window = {k: rec[k] for k in ("nproc", "default_parallelism", "shuffle_partitions",
                                  "clients", "loadavg_start", "loadavg_end", "sentinel",
                                  "sentinel_start_s", "sentinel_end_s")}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "queries": queries,
                      "window": window, **info, "record": str(out.relative_to(ROOT))}))
    if args.trace:
        layers = per_layer(rec, rec["nproc"], writers)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        print(json.dumps({"spans": str(spans.relative_to(ROOT))}))
    else:
        for k, u in PRINTED.items():
            extra = ""
            if k.endswith("tail_s"):
                extra = f" (p{info['query_tail_percentile']:g} of {info['query_samples']})"
            elif k.endswith("p50_s"):
                extra = f" (of {info['query_samples']})"
            print(f"{k:20s} {m[k]:.6g} {u}{extra}")
        metrics = {k: {"value": m[k], "unit": PRINTED[k]} for k in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": len(runs),
                      "failed": failed, "metrics": metrics}))


# ---------------------------------------------------------------- survey

def entry_queries():
    """Query names of SparkEntry.queries, read from its source."""
    src = (ROOT / "src/main/scala/graft/SparkEntry.scala").read_text()
    body = src[src.index("def queries"):src.index("def oracleSql")]
    return sorted(re.findall(r'"(q\d+_\w+)" ->', body))


def classify(r):
    """The committed rule; r["tables"] are the tables the query's final
    analyzed plan reads. File-writing queries are always etl_relational;
    their write jobs are counted as sources.*, not as construction jobs."""
    if "error" in r:
        return "none"
    if r["writes"]:
        return "etl_relational"
    if {"documents", "embeddings"} & set(r["tables"]):
        return "llm_pipeline"
    return "staged_analytics" if r["build_jobs"] > 0 else "etl_relational"


def survey():
    """Recompute classification.tsv and expected.tsv from one pass over
    every query at the benchmark's scale factor. Run once when the benchmark is defined; the
    committed files are what every run samples from and checks against."""
    cp = build()
    out = WORK / "survey.json"
    jvm(cp, ["--mode", "survey", "--out", str(out)], 3600)
    write_survey(json.loads(out.read_text()))


def write_survey(rs):
    with open(CLASSES, "w") as f:
        f.write("# query -> workload, by the rule in run.py:classify, from one pass at "
                f"{rs[0]['sf']} on {os.cpu_count()} cores\n")
        f.write("name\tclass\twrites\tbuild_jobs\tref_cpu_s\n")
        for r in rs:
            f.write(f"{r['name']}\t{classify(r)}\t{int(r['writes'])}\t{r['build_jobs']}"
                    f"\t{r['cpu_s']:.4f}\n")
    with open(EXPECTED, "w") as f:
        f.write(f"# query result at {rs[0]['sf']}: row count and perfbench Digest\n")
        f.write("name\trows\tdigest\n")
        for r in rs:
            if "error" not in r:
                f.write(f"{r['name']}\t{r['rows']}\t{r['digest']}\n")
    for r in rs:
        if "error" in r:
            log(f"{r['name']} failed in the survey: {r['error']}")


# --------------------------------------------------------------- selftest

SELFTEST_SEED = 7


def selftest():
    """Self-tests: sampling, a planted wrong result, exact counts."""
    ok = True

    def check(cond, msg):
        nonlocal ok
        print(("PASS " if cond else "FAIL ") + msg)
        ok = ok and cond

    classes = classification()
    names = [c["name"] for c in classes]
    check(set(names) <= set(entry_queries()), "every classified query is in SparkEntry.queries")
    writers = {c["name"] for c in classes if c["writes"] == "1"}
    check(all(c["class"] == "etl_relational" for c in classes if c["name"] in writers),
          f"all {len(writers)} file-writing queries are classified etl_relational")
    for w in WORKLOADS:
        s1, s1b, s2 = sample(classes, w, 1), sample(classes, w, 1), sample(classes, w, 2)
        check(s1 == s1b, f"{w}: the same seed gives the same query list")
        check(set(s1) != set(s2), f"{w}: a different seed gives a different sample")
        check(len(set(s1)) == len(s1), f"{w}: no query is drawn twice")
    check(all(writers <= set(sample(classes, "etl_relational", s)) for s in range(50)),
          "every file-writing query is drawn into etl_relational on 50 seeds")

    cp = build()
    # A planted wrong result must be caught.
    qs = sample(classes, "etl_relational", SELFTEST_SEED)[:3]
    exp = read_tsv(EXPECTED)
    planted = WORK / "expected.planted.tsv"
    with open(planted, "w") as f:
        f.write("name\trows\tdigest\n")
        for e in exp:
            d = e["digest"] if e["name"] != qs[0] else "0" * len(e["digest"])
            f.write(f"{e['name']}\t{e['rows']}\t{d}\n")
    out = WORK / "runs" / "selftest-planted.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    jvm(cp, ["--mode", "run", "--queries", ",".join(qs),
             "--clients", "1", "--seconds", "0", "--trace", "0",
             "--expected", str(planted), "--out", str(out)], JVM_TIMEOUT_S)
    bad = {q["name"] for p in json.loads(out.read_text())["passes"]
           for q in p["queries"] if "error" in q}
    check(bad == {qs[0]}, f"a planted wrong digest for {qs[0]} is caught, and only it")

    # Two traced runs on one seed count the same jobs, stages and tasks.
    keys = ("build_jobs", "jobs", "stages", "tasks")
    for w in WORKLOADS:
        seen = []
        for i in range(2):
            out = WORK / "runs" / f"selftest-{w}-{i}.json"
            clients = min(MIX_CLIENTS if w == "concurrent_mix" else 1, os.cpu_count() or 1)
            jvm(cp, ["--mode", "run", "--queries", ",".join(sample(classes, w, SELFTEST_SEED)),
                     "--clients", str(clients), "--seconds", "0", "--trace", "1",
                     "--expected", str(EXPECTED), "--out", str(out),
                     "--spans", str(out.with_suffix(".spans.jsonl"))], JVM_TIMEOUT_S)
            rec = json.loads(out.read_text())
            seen.append({q["name"]: tuple(q[k] for k in keys)
                         for p in rec["passes"] if p["traced"] for q in p["queries"]})
        cls = {c["name"]: c for c in classes}
        jobs = {n: v[0] for n, v in seen[0].items()}
        check(all(j == 0 for n, j in jobs.items() if cls[n]["class"] == "etl_relational"
                  and cls[n]["writes"] != "1")
              and all(j >= 1 for n, j in jobs.items() if cls[n]["class"] == "staged_analytics"),
              f"{w}: construction jobs are 0 on etl_relational non-writers and >= 1 on "
              "staged_analytics queries")
        diff = sorted(n for n in seen[0] if seen[0][n] != seen[1].get(n))
        check(not diff, f"{w}: two traced runs give identical {'/'.join(keys)} per query"
              + (f" (differ: {', '.join(diff)})" if diff else ""))
    print("selftest " + ("passed" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


def main():
    if len(sys.argv) > 1 and sys.argv[1] in ("selftest", "survey"):
        {"selftest": selftest, "survey": survey}[sys.argv[1]]()
        return
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    bench(ap.parse_args())


if __name__ == "__main__":
    main()
