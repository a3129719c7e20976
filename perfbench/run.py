#!/usr/bin/env python3
"""graft layered workload benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload jq_extract --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the harness
(sbt, offline) and every run generates its seed's inputs and oracle
answers unless they are cached under .bench_build/perfbench/. The JVM
harness sets graft up several times, runs the workload's battery in a
closed loop, and the runner checks every result against its oracle.
The last stdout line is the result object; the line before it is a
summary with provenance. Per-query detail goes to the run directory.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import battery  # noqa: E402
import report  # noqa: E402

WORKLOADS = ["jq_extract", "jq_transform", "rel_lineitem", "corpus_dedup"]
CACHE = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170          # the whole run, build excluded
BUILD_TIMEOUT_S = 840
SETUPS = 3                # set-up repeats; setup_s is their median
WARM_PASSES = 2           # untimed battery passes, at least this many ...
WARM_SECONDS = 15         # ... and at least this long: the JIT settles slowly
JVM_HEAP = "2g"

# input sizes, fixed across seeds so that seeds change content, not volume
JQ_EXTRACT_DOCS = 5000
JQ_TRANSFORM_DOCS = 2500
REL_ORDERS = 30000        # about 120k lineitem rows
CORPUS_DOCS = 2000
GRAPH_NODES = 4000
GRAPH_MEAN_OUT = 5


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ------------------------------------------------------------------ build

def source_files():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "jvm")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target"
                             and not (x == "project" and os.path.basename(d) == "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def fingerprint():
    h = hashlib.sha1()
    for f in source_files():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the harness once per source state; returns
    (classpath, jvm options)."""
    out = os.path.join(CACHE, "build")
    os.makedirs(out, exist_ok=True)
    fp = fingerprint()
    launch = os.path.join(out, "launch.txt")
    stamp = os.path.join(out, "fingerprint")
    if not (os.path.isfile(launch) and os.path.isfile(stamp) and open(stamp).read() == fp):
        log("building graft and the harness with sbt")
        t0 = time.time()
        with open(os.path.join(out, "sbt.log"), "w") as fh:
            rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "perfbench/writeLaunch"],
                           BUILD_TIMEOUT_S, cwd=os.path.join(HERE, "jvm"),
                           stdout=fh, stderr=subprocess.STDOUT)
        if rc != 0:
            with open(os.path.join(out, "sbt.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise SystemExit("build failed")
        shutil.copy(os.path.join(HERE, "jvm", "target", "launch.txt"), launch)
        with open(stamp, "w") as fh:
            fh.write(fp)
        log("built in %.0f s" % (time.time() - t0))
    lines = open(launch).read().splitlines()
    opts = [o for o in lines[1:] if o and not o.startswith(("-Xms", "-Xmx", "-Dderby"))]
    return lines[0], opts, fp


# ------------------------------------------------------------------ inputs

def generator_version():
    """Hash of the generator and oracle sources: cached inputs of another
    version of the benchmark are not reused."""
    h = hashlib.sha1()
    for name in ("gen.py", "battery.py", "run.py"):
        with open(os.path.join(HERE, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def prepare(workload, seed, n):
    """Inputs and oracle answers for (workload, seed), cached."""
    d = os.path.join(CACHE, "data", generator_version(), workload, "seed%d" % seed)
    plan_file = os.path.join(d, "plan.json")
    if os.path.isfile(plan_file):
        with open(plan_file) as fh:
            return d, json.load(fh), 0.0
    t0 = time.time()
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if workload == "jq_extract":
        plan = battery.prepare_jq_extract(d, seed, JQ_EXTRACT_DOCS, n)
    elif workload == "jq_transform":
        plan = battery.prepare_jq_transform(d, seed, JQ_TRANSFORM_DOCS, n)
    elif workload == "rel_lineitem":
        plan = battery.prepare_rel_lineitem(d, seed, REL_ORDERS, n)
    else:
        plan = battery.prepare_corpus_dedup(d, seed, CORPUS_DOCS, GRAPH_NODES, GRAPH_MEAN_OUT, n)
    with open(os.path.join(d, "sample.jsonl"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(plan.pop("sample")) + "\n")
    with open(plan_file + ".tmp", "w") as fh:
        json.dump(plan, fh)
    os.replace(plan_file + ".tmp", plan_file)
    return d, plan, time.time() - t0


# ------------------------------------------------------------------ run

def run_child(cmd, timeout_s, **kw):
    """Run a child process to completion. It is killed, and waited for, if
    it overruns `timeout_s` or this runner is interrupted or terminated."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kw)
    try:
        return p.wait(timeout=timeout_s)
    except BaseException:
        p.kill()
        p.wait()
        raise


def on_sigterm(signum, frame):
    raise SystemExit("terminated by signal %d" % signum)


def run_harness(cp, opts, spec, run_dir, budget_s):
    spec_file = os.path.join(run_dir, "spec.json")
    with open(spec_file, "w") as fh:
        json.dump(spec, fh)
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap (initial = maximum) keeps GC sizing, and with it the
    # resident-set peak, from varying run to run
    cmd = ["java", "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-Djava.io.tmpdir=" + tmp] + opts + \
          ["-cp", cp, "perfbench.Harness", spec_file]
    with open(os.path.join(run_dir, "jvm.log"), "w") as fh:
        try:
            # SPARK_LOCAL_DIRS would override spark.local.dir: keep Spark's
            # working files inside the checkout either way
            rc = run_child(cmd, budget_s, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT,
                           env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
        except subprocess.TimeoutExpired:
            raise SystemExit("harness exceeded %.0f s" % budget_s)
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit("harness exited with %d" % rc)


def score(plan, records):
    """Check every query execution against its oracle answer; marks each
    record `ok` and returns (attempted, failed). A query that raised or
    returned a wrong answer counts as failed."""
    for r in records:
        r["ok"] = r["error"] is None and battery.check(plan["expected"][r["id"]], r["result"])
        r["rows_in"] = plan["rows"][r["id"]]
    return len(records), sum(1 for r in records if not r["ok"])


def span_totals(spans):
    """Per span name: calls, total seconds and self seconds (the duration
    minus the part its child spans cover; spans nest, one client thread)."""
    out, stack = {}, []
    for sp in sorted(spans, key=lambda x: (x["start_ns"], -x["end_ns"])):
        while stack and stack[-1]["end_ns"] <= sp["start_ns"]:
            stack.pop()
        dur = sp["end_ns"] - sp["start_ns"]
        if stack:
            stack[-1]["child_ns"] += dur
        sp = dict(sp, child_ns=0)
        stack.append(sp)
        out.setdefault(sp["name"], []).append(sp)
    return {name: {"calls": len(v), "total_s": sum(x["end_ns"] - x["start_ns"] for x in v) / 1e9,
                   "self_s": sum(x["end_ns"] - x["start_ns"] - x["child_ns"] for x in v) / 1e9}
            for name, v in out.items()}


def git_sha():
    """HEAD of the checkout when it is its own git work tree, else None."""
    try:
        p = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10, check=False)
    except (OSError, subprocess.SubprocessError):
        return None
    out = p.stdout.split()
    if p.returncode != 0 or len(out) != 2 or os.path.realpath(out[0]) != os.path.realpath(ROOT):
        return None
    return out[1]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, on_sigterm)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("no graft sources next to the benchmark (expected build.sbt and src/main/scala/graft under %s)" % ROOT)
        return 2

    t_start = time.time()
    load_start = os.getloadavg()
    cp, opts, fp = build()
    t_run = time.time()
    n = cores()
    data_dir, plan, prep_s = prepare(args.workload, args.seed, n)

    run_dir = os.path.join(CACHE, "runs", "%s-seed%d-trace%d-%d" % (
        args.workload, args.seed, args.trace, int(time.time() * 1000)))
    os.makedirs(run_dir)
    spec = {
        "workload": args.workload, "data_dir": data_dir, "out_dir": run_dir,
        "cores": n, "trace": bool(args.trace), "seconds": args.seconds,
        "setups": SETUPS, "warm_queries": 1, "warm_passes": WARM_PASSES,
        "warm_seconds": WARM_SECONDS,
        "spark_local_dir": os.path.join(CACHE, "tmp"),
        "queries": plan["queries"], "scan_sources": plan["scan_sources"],
        "text_source": plan["text_source"], "jsonl_source": plan["jsonl_source"],
        "jsonl_lines": plan["jsonl_lines"], "micro_programs": plan["micro_programs"],
    }
    t_jvm = time.time()
    run_harness(cp, opts, spec, run_dir, DEADLINE_S - (time.time() - t_run))
    log("prepare %.1f s, harness %.1f s" % (prep_s, time.time() - t_jvm))

    with open(os.path.join(run_dir, "summary.json")) as fh:
        summ = json.load(fh)
    with open(os.path.join(run_dir, "results.jsonl")) as fh:
        records = [json.loads(line) for line in fh]
    attempted, failed = score(plan, records)
    for r in records:
        r["listener"] = summ["runs"].get(str(r["run"]))
    measured = [r for r in records if r["phase"] == "measure"]
    walls = [r["wall_s"] for r in measured]
    passes = report.pass_totals(measured)
    tail_v, tail_p, tail_n = report.tail(walls)
    e2e = {
        "rows_per_s": statistics.median(p["rows"] / p["wall_s"] for p in passes),
        "query_p50_s": statistics.median(walls),
        "query_tail_s": tail_v,
        "cpu_s_per_mrow": statistics.median(p["cpu_s"] / (p["rows"] / 1e6) for p in passes),
        "peak_rss_mb": summ["rss_hwm_mb"],
        "setup_s": statistics.median(summ["setup_s"]),
    }
    failed_frac = failed / attempted
    load_end = os.getloadavg()

    provenance = {
        "nproc": n, "loadavg_start": round(load_start[0], 2), "loadavg_end": round(load_end[0], 2),
        "git_sha": git_sha(), "source_sha1": fp, "jvm": summ["java_version"],
        "spark": summ["spark_version"], "seed": args.seed,
    }
    detail = {
        "workload": args.workload, "trace": args.trace, "provenance": provenance,
        "e2e": e2e, "failed_frac": failed_frac, "tail": {"percentile": tail_p, "beyond": tail_n,
                                                          "samples": len(walls)},
        "prepare_s": prep_s, "setup_runs_s": summ["setup_s"], "passes": summ["passes"],
        "measure_wall_s": summ["measure_wall_s"], "measure_listener": summ["measure"],
        "queries": [{k: r[k] for k in ("run", "phase", "pass", "id", "wall_s", "ok", "error",
                                       "rows_in", "listener")} for r in records],
        "failures": [{"id": r["id"], "run": r["run"], "error": r["error"], "result": r["result"][:5]}
                     for r in records if not r["ok"]][:20],
    }
    last = os.path.join(CACHE, "last", "%s-seed%d.json" % (args.workload, args.seed))
    if args.trace:
        layers = summ["layers"]
        untraced = None
        if os.path.isfile(last):
            with open(last) as fh:
                untraced = json.load(fh)
        detail["layers"] = layers
        detail["tracing_overhead"] = None if untraced is None else {
            k: round(e2e[k] / untraced[k], 4) for k in e2e if untraced.get(k)}
        with open(os.path.join(run_dir, "trace.json"), "w") as fh:
            json.dump({"spans": summ["spans"], "span_totals": span_totals(summ["spans"]),
                       "counters": layers}, fh)
        metrics = {name: (float(layers[name]), unit) for name, unit in report.PER_LAYER}
    else:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as fh:
            json.dump(e2e, fh)
        metrics = {name: (e2e[name], unit) for name, unit in report.END_TO_END}
    with open(os.path.join(run_dir, "detail.json"), "w") as fh:
        json.dump(detail, fh, indent=1)

    units = dict(report.END_TO_END)
    print(report.summary_line({
        "workload": args.workload, "seed": args.seed, "cpus": n, "trace": args.trace,
        "e2e": {k: [round(v, 6), units[k]] for k, v in e2e.items()},
        "failed_frac": [failed_frac, "ratio"],
        "tail": {"percentile": tail_p, "beyond": tail_n, "samples": len(walls)},
        "provenance": provenance, "wall_s": round(time.time() - t_start, 1),
        "tracing_overhead": detail.get("tracing_overhead"),
        "detail": os.path.relpath(os.path.join(run_dir, "detail.json"), ROOT),
    }))
    print(report.result_line(failed == 0, attempted, failed, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
