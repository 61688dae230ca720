#!/usr/bin/env python3
"""Served-path benchmark for graft.

Run from the repository root:

    python3 servebench/run.py --workload agent_explore --seed 1 --seconds 10 --trace 0

It builds graft and the harness with sbt (once per source state), runs one
JVM that serves the workload over the repository's sf0.01 test data set
(copied to servebench/data/) and records every call, checks every reply
against the digests committed in servebench/digests/, and prints two
lines: a details line with sample counts and host conditions, then the
result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer metrics of a separate traced run. The exit code
is 0 only when every output was correct and no call failed.

Maintenance: --write-digests regenerates the committed digests from the
run's checked pass (do it only when a change to results is intended);
--inject-failure adds a statement that throws, for the self-tests;
--pruning-gap times the 63 pipeline queries with df.count() and with their
own plan. NOTES.md describes workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
DIGESTS = os.path.join(HERE, "digests")
DATA = os.path.join(HERE, "data", "sf0.01")

# Why each workload is shaped as it is: see NOTES.md.
WORKLOADS = {
    "agent_explore": {"sf": 0.01, "clients": 4},
    "pipeline_batch": {"sf": 0.01, "clients": 1},
}
SETUPS = 3
REFUSALS = {"guard": "security restriction", "allowlist": "not in allowlist"}

END_TO_END = {
    "setup_s": "s", "calls_per_s": "1/s", "call_p50_ms": "ms", "call_p90_ms": "ms",
    "meta_p50_ms": "ms", "query_p50_ms": "ms", "batch_s": "s", "rss_peak_mb": "MB",
}
PER_LAYER = {
    "mcp.transport_ms": "ms", "mcp.handle_ms": "ms", "mcp.bytes_out": "bytes",
    "security.bearer_us": "us", "security.guard_us": "us", "security.sql_allowlist_us": "us",
    "dialect.preprocess_us": "us",
    "service.result_json_ms": "ms", "service.result_rows": "count", "service.residual_ms": "ms",
    "spark.parse_ms": "ms", "spark.analyze_ms": "ms", "spark.optimize_ms": "ms", "spark.plan_ms": "ms",
    "spark.exec_ms": "ms", "spark.qe_per_call": "count", "spark.jobs_per_call": "count",
    "spark.tasks_per_job": "count", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.sched_delay_ms": "ms", "spark.core_util": "ratio", "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "ops.text_s": "s", "ops.dedup_s": "s", "ops.embed_s": "s", "ops.index_s": "s", "ops.mm_s": "s",
    "ops.other_s": "s", "ops.plan_exprs": "count", "ops.index_write_bytes": "bytes",
    "setup.session_s": "s", "setup.register_s": "s", "setup.first_call_s": "s",
    "jvm.gc_ms": "ms",
    "trace.self_handle_ms": "ms", "trace.self_query_ms": "ms",
    "trace.self_job_ms": "ms", "trace.unexplained_ms": "ms", "trace.overhead_ms": "ms",
}

JVM_OPTS = [
    "--add-opens=java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")
] + ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
     "-Dspark.sql.session.timeZone=UTC"]


class BenchError(Exception):
    pass


def run_proc(cmd, deadline, **kw):
    """Run a command in its own process group; on timeout kill the whole
    group (sbt and java fork children) and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = p.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def log(msg):
    print(f"[servebench] {msg}", file=sys.stderr, flush=True)


# -- build -----------------------------------------------------------------

def source_stamp():
    """Digest of every file that goes into the build."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(deadline):
    """Compile graft and the harness; returns the runtime classpath."""
    stamp = source_stamp()
    cache = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building graft and the harness with sbt")
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        try:
            code, stdout = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                     "export servebench/Runtime/fullClasspath"], deadline,
                                    cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
                                    text=True)
        except subprocess.TimeoutExpired:
            raise BenchError("sbt build did not finish in time")
    lines = [l.strip() for l in stdout.splitlines() if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        raise BenchError("sbt build failed:\n" + "\n".join(lines[-20:]))
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, fh)
    return lines[-1]


def jvm(cp, args, deadline, logname):
    """Run servebench.Main. Each JVM gets its own java.io.tmpdir, removed
    when it ends: graft keys its standing indexes on the tmpdir, so a
    shared one would let a run probe an index an earlier run built."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env.pop("SPARK_GRAFT_INITIAL_PARTITIONS", None)
    cmd = ["java", *JVM_OPTS, "-Djava.io.tmpdir=" + tmp, "-cp", cp, "servebench.Main", *args]
    logpath = os.path.join(WORK, logname)
    try:
        with open(logpath, "w") as out:
            try:
                code, _ = run_proc(cmd, deadline, cwd=WORK, env=env, stdout=out,
                                   stderr=subprocess.STDOUT)
            except subprocess.TimeoutExpired:
                raise BenchError(f"JVM did not finish in time; see {logpath}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        with open(logpath) as fh:
            tail = fh.read().splitlines()[-25:]
        raise BenchError(f"JVM exited with {code}:\n" + "\n".join(tail))


# -- checking and statistics ------------------------------------------------

def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    sample at or below it."""
    if not values:
        raise BenchError("percentile of an empty sample")
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def check_record(rec, digests):
    """Reason the reply is wrong, or None when it is what the committed
    digest expects."""
    if not rec["well_formed"]:
        return "malformed JSON-RPC reply: " + rec["text"][:120]
    expect = rec["expect"]
    if expect in REFUSALS:
        if not rec["is_error"]:
            return f"expected a {expect} refusal, got a result"
        if REFUSALS[expect] not in rec["text"]:
            return f"refusal without the {expect} message: " + rec["text"][:120]
        return None
    if rec["is_error"]:
        return "error: " + rec["text"][:160]
    want = digests.get(rec["id"])
    if want is None:
        return "no committed digest for " + rec["id"]
    if rec["rows"] != want["rows"]:
        return f"rows {rec['rows']} != committed {want['rows']}"
    if want["hash"] and rec["hash"] and rec["hash"] != want["hash"]:
        return f"digest {rec['hash']} != committed {want['hash']}"
    return None


def check_all(records, digests):
    failures = []
    for rec in records:
        why = check_record(rec, digests)
        if why:
            failures.append({"id": rec["id"], "why": why})
    return failures


def end_to_end(run, workload):
    calls = run["calls"]
    if not calls:
        raise BenchError("no calls completed in the timed window")
    lat = [c["ms"] for c in calls]
    values = {
        "setup_s": statistics.median(run["setup_s"]),
        "calls_per_s": len(calls) / run["window_s"],
        "batch_s": run["batch_s"],
        "rss_peak_mb": run["rss_peak_mb"],
    }
    counts = {"calls": len(calls), "window_s": round(run["window_s"], 3)}
    if workload == "pipeline_batch":
        # A median over a pass's mixed queries sits on whichever query ranks
        # in the middle, so the pipeline's latencies are per-query
        # percentiles over the passes, summed over the slice.
        by_query = {}
        for c in calls:
            by_query.setdefault(c["id"], []).append(c)

        def total(key, p):
            return sum(percentile([c[key] for c in cs], p) for cs in by_query.values())
        values.update(call_p50_ms=total("ms", 50), call_p90_ms=total("ms", 90),
                      meta_p50_ms=total("meta_ms", 50), query_p50_ms=total("query_ms", 50))
        counts.update(queries=len(by_query), passes=len(calls) // max(1, len(by_query)))
    else:
        meta = [c["ms"] for c in calls if c["kind"] == "meta"]
        query = [c["ms"] for c in calls if c["kind"] == "query"]
        # execute_query statements differ by up to 6x in cost, so a median
        # over all their calls sits on whichever statement ranks in the
        # middle: average each statement's median instead.
        by_stmt = {}
        for c in calls:
            if c["kind"] == "query":
                by_stmt.setdefault(c["id"], []).append(c["ms"])
        if not by_stmt:
            raise BenchError("no execute_query call completed in the timed window")
        values.update(call_p50_ms=percentile(lat, 50), call_p90_ms=percentile(lat, 90),
                      meta_p50_ms=percentile(meta, 50),
                      query_p50_ms=statistics.mean(percentile(v, 50) for v in by_stmt.values()))
        # The p99 has fewer than ten samples above it at these run lengths,
        # so it is shown here and not gated as a metric.
        counts.update(meta_calls=len(meta), query_calls=len(query),
                      call_p99_ms=round(percentile(lat, 99), 3))
    return values, counts


def summarize(run, workload, trace, digests):
    """The result line and the details line of one run, plus the exit code."""
    records = run["check"] + run["warm"] + run["calls"]
    failures = check_all(records, digests)
    attempted, failed = len(records), len(failures)
    details = {"workload": workload, "error_rate": failed / attempted if attempted else 1.0,
               "checked_pass": len(run["check"]), "failures": failures[:10],
               "setup_runs_s": [round(s, 3) for s in run["setup_s"]]}
    if trace:
        # a layer that is not on the workload's path reports 0
        layers = run.get("layers", {})
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values, counts = end_to_end(run, workload)
        details["samples"] = counts
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    correct = failed == 0
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, details, 0 if correct else 1


def host_conditions():
    try:
        with open("/proc/loadavg") as fh:
            load1 = float(fh.read().split()[0])
    except OSError:
        load1 = -1.0
    return {"nproc": os.cpu_count(), "loadavg_1m": load1}


def load_digests(workload):
    path = os.path.join(DIGESTS, f"{workload}.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def write_digests(run, workload):
    bad = [r["id"] for r in run["check"] if not r["well_formed"] or
           (r["expect"] == "ok" and r["is_error"])]
    if bad:
        raise BenchError("not writing digests; these statements failed: " + ", ".join(bad))
    out = {}
    for r in run["check"]:
        if r["expect"] == "ok":
            # plan text carries expression ids, so explain keeps its row count only
            out[r["id"]] = {"rows": r["rows"], "hash": "" if r["kind"] == "explain" else r["hash"]}
    os.makedirs(DIGESTS, exist_ok=True)
    with open(os.path.join(DIGESTS, f"{workload}.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    log(f"wrote {len(out)} digests for {workload}")


def pruning_gap(cp, data):
    out = os.path.join(WORK, "out", "pruning-gap.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    jvm(cp, ["pruning-gap", "--data", data, "--out", out], time.time() + 1800, "pruning-gap.log")
    with open(out) as fh:
        print(fh.read().strip())
    return 0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-digests", action="store_true")
    ap.add_argument("--inject-failure", action="store_true")
    ap.add_argument("--pruning-gap", action="store_true",
                    help="time the 63 pipeline queries with df.count() and with their own plan")
    ap.add_argument("--data", default=DATA,
                    help="data set directory for --pruning-gap (default: the benchmark's sf0.01)")
    a = ap.parse_args(argv)
    if not a.pruning_gap and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    start = time.time()
    try:
        if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
                os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
            raise BenchError("graft's sources are not next to servebench/; run from a checkout")
        if not os.path.exists(os.path.join(DATA, "lineitem.parquet")):
            raise BenchError(f"the test data set is missing from {DATA}")
        host = host_conditions()
        built_before = os.path.exists(os.path.join(BUILD, "classpath.json"))
        cp = build(start + 840)
        if a.pruning_gap:
            return pruning_gap(cp, os.path.abspath(a.data))
        w = WORKLOADS[a.workload]
        # a run that had to build may take the first-run allowance
        deadline = start + (175 if built_before else 880)
        os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
        out = os.path.join(WORK, "out", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}.json")
        args = ["run", "--workload", a.workload, "--data", DATA, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--clients", str(w["clients"]), "--setups", str(SETUPS),
                "--trace", str(a.trace), "--out", out]
        if a.inject_failure:
            args.append("--inject-failure")
        jvm(cp, args, deadline, f"run-{a.workload}.log")
        with open(out) as fh:
            run = json.load(fh)
        if a.write_digests:
            write_digests(run, a.workload)
        result, details, code = summarize(run, a.workload, a.trace, load_digests(a.workload))
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        log(f"error: {e}")
        return 2
    details.update({"seed": a.seed, "sf": w["sf"], "clients": w["clients"], "loop": "closed",
                    "host": {**host, **{k: run[k] for k in run if k.startswith("probe_")}}})
    print(json.dumps({"details": details}))
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
