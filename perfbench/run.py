#!/usr/bin/env python3
"""End-to-end benchmark of the RWA calculator.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark's JVM side with sbt (offline) into ignored directories; every run
then generates its seeded input book (outside the timed region), starts one
JVM that drives the program's public Scala API for `--seconds` seconds of
warm passes after one cold pass, checks every pass's outputs in DuckDB, and
prints one JSON object as the last line of standard output. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen_book  # noqa: E402

# name -> (pass kind, input scale factor, JVM heap)
WORKLOADS = {
    "calc_sf0.01": ("calc", 0.01, "2g"),
    "pack_sf0.01": ("pack", 0.01, "3g"),
}
TIMEOUT_S = 165          # JVM deadline from the run's start, once built
BUILD_TIMEOUT_S = 870    # the same when the run has to build first

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and perfbench.Main; return the runtime classpath.
    Reuses the previous build when no source changed."""
    stamp_file = os.path.join(WORK, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"], False
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        (["-Dsbt.override.build.repos=true",
          f"-Dsbt.repository.config={repos}"] if os.path.exists(repos) else [])
        + ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]))
    log("building (sbt compile) ...")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=BUILD_TIMEOUT_S - 120)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines()
             if not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {WORK}/build.log")
    classpath = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath, True


def run_jvm(kind, data, out, seconds, trace, heap, classpath, deadline):
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap}",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", kind, data, out,
            str(seconds), str(trace), str(cpus)]
    with open(os.path.join(out + ".log"), "w") as logf:
        launch = time.time_ns()
        p = subprocess.Popen(cmd + [str(launch)], cwd=WORK,
                             stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM did not finish in time; see {out}.log")
    if rc != 0:
        fail(f"JVM exited {rc}; see {out}.log")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def check_passes(result, data, out):
    """Check every pass; returns (attempted, failed, incorrect)."""
    con = check.connect(data, os.path.join(WORK, "tmp"))
    cache = os.path.join(WORK, "oracle")
    expected = {n: check.oracle(con, data, sql, cache)
                for n, sql in result["oracle_sql"].items()}
    attempted = failed = incorrect = 0
    passes = result["passes"]
    for p in passes:
        attempted += 1
        if "error" in p:
            failed += 1
            log(f"pass {p['pass']} failed: {p['error']}")
            continue
        bad = []
        q90 = expected["q90_domain_pipeline"]
        try:
            if p["label"] == "staged_pass" or result["kind"] == "calc":
                summary = check.read_output(os.path.join(p["dir"], "summary"))
                bad += check.compare(summary, q90)
                if p["label"] != "staged_pass":
                    bad += check.ledger_properties(
                        con, os.path.join(p["dir"], "ledger"), q90, summary,
                        p["total_rwa"])
            else:
                for name in result["pack_sheets"]:
                    got = check.read_output(os.path.join(p["dir"], name))
                    bad += [f"{name}: {b}" for b in check.compare(got, expected[name])]
        except Exception as e:  # a missing or unreadable output
            bad.append(f"output unreadable: {e}")
        if bad:
            failed += 1
            incorrect += 1
            log(f"pass {p['pass']} ({p['label']}) wrong: {bad[:5]}")
    con.close()
    # keep the last ordinary pass's outputs (selftest.py mutates a copy)
    keep = [p for p in passes if p["label"] == "pass"][-1]
    for p in passes:
        if p is not keep:
            shutil.rmtree(p["dir"], ignore_errors=True)
    return attempted, failed, incorrect


def end_to_end(result):
    warm = [p["wall_s"] for p in result["passes"][1:] if "error" not in p] \
        or [p["wall_s"] for p in result["passes"][1:]]
    return {
        "setup_s": (result["setup_s"], "s"),
        "first_pass_s": (result["passes"][0]["wall_s"], "s"),
        "warm_pass_s": (statistics.median(warm), "s"),
    }


def self_times(spans):
    """Per span name: total duration minus the time its children cover."""
    by_id = {s["id"]: s for s in spans}
    child = {}
    for s in spans:
        if s["parent"] in by_id:
            child.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, None
        for c in sorted(child.get(s["id"], []), key=lambda c: c["startNs"]):
            a = c["startNs"] if end is None else max(c["startNs"], end)
            if c["endNs"] > a:
                covered += c["endNs"] - a
                end = c["endNs"]
        out[s["name"]] = out.get(s["name"], 0) + (s["endNs"] - s["startNs"] - covered) / 1e9
    return out


def per_layer(result, spans, sheets):
    """Layer metrics of a traced run: per warm pass (median over the traced
    warm passes), except the cold counters of the first pass, the engine
    stages of the staged pass and the heap peak of the whole run."""
    warm = result["passes"][1:]
    traced = [p for p in warm if p["traced"] and p["label"] == "pass" and "error" not in p]
    untraced = [p for p in warm if not p["traced"] and "error" not in p]
    staged = [p for p in warm if p["label"] == "staged_pass"]

    def med(key):
        vals = [p["layers"].get(key, 0.0) for p in traced]
        return statistics.median(vals) if vals else 0.0

    m = {}
    for k in ["api.calculate_s", "api.total_rwa_s", "api.summary_s",
              "api.export_s", "api.calculate_jobs"]:
        m[k] = (med(k), "count" if k.endswith("_jobs") else "s")
    stage_spans = {s["name"]: (s["endNs"] - s["startNs"]) / 1e9 for s in spans
                   if staged and s["pass"] == staged[0]["pass"]}
    for st in ["load_enrich", "hierarchy_classify", "calc_crm_rwa", "aggregate"]:
        m[f"engine.{st}_s"] = (stage_spans.get(f"engine.{st}", 0.0), "s")
    for q in sheets:
        m[f"queries.{q}_s"] = (med(f"queries.{q}_s"), "s")
    for ph in ["analysis", "optimization", "planning"]:
        m[f"catalyst.{ph}_s"] = (med(f"catalyst.{ph}_s"), "s")
    cold = result["first_pass"]
    m["codegen.classes"] = (cold["codegen.classes"], "count")
    m["codegen.compile_s"] = (cold["codegen.compile_s"], "s")
    m["jvm.jit_s"] = (cold["jvm.jit_s"], "s")
    m["jvm.classes_loaded"] = (cold["jvm.classes_loaded"], "count")
    for k, unit in [("spark.jobs", "count"), ("spark.stages", "count"),
                    ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
                    ("spark.executor_cpu_s", "s"), ("spark.shuffle_write_mb", "MB"),
                    ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
                    ("spark.input_mb", "MB"), ("spark.no_job_s", "s"),
                    ("storage.ledger_cache_mb", "MB"), ("jvm.gc_s", "s")]:
        m[k] = (med(k), unit)
    m["jvm.heap_peak_mb"] = (result["heap_peak_mb"], "MB")
    m["jvm.peak_rss_mb"] = (result["peak_rss_mb"], "MB")
    m["jvm.process_cpu_s"] = (statistics.median([p["cpu_s"] for p in traced]) if traced else 0.0, "s")
    m["host.steal_s"] = (statistics.median([p["steal_s"] for p in traced]) if traced else 0.0, "s")
    t = statistics.median([p["wall_s"] for p in traced]) if traced else 0.0
    u = statistics.median([p["wall_s"] for p in untraced]) if untraced else t
    m["trace.traced_pass_s"] = (t, "s")
    m["trace.untraced_pass_s"] = (u, "s")
    m["trace.overhead_s"] = (t - u, "s")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no program sources under {ROOT}: run from a full checkout", 2)
    kind, sf, heap = WORKLOADS[a.workload]
    os.makedirs(WORK, exist_ok=True)

    classpath, built = build()
    deadline = start + (BUILD_TIMEOUT_S if built else TIMEOUT_S)
    data = os.path.join(WORK, "data", f"sf{sf}-seed{a.seed}")
    t0 = time.time()
    rows = gen_book.generate(data, a.seed, sf)
    log(f"input book sf{sf} seed {a.seed}: {rows} ({time.time() - t0:.1f} s)")

    out = os.path.join(WORK, "runs", a.workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    result = run_jvm(kind, data, out, a.seconds, a.trace, heap, classpath, deadline)
    attempted, failed, incorrect = check_passes(result, data, out)

    if a.trace:
        with open(os.path.join(out, "spans.json")) as f:
            spans = json.load(f)
        selfs = self_times(spans)
        with open(os.path.join(out, "self_times.json"), "w") as f:
            json.dump(selfs, f, indent=1, sort_keys=True)
        for name, v in sorted(selfs.items(), key=lambda kv: -kv[1])[:12]:
            log(f"self time {name}: {v:.3f} s")
        metrics = per_layer(result, spans, result["pack_sheets"])
    else:
        metrics = end_to_end(result)
    print(json.dumps({
        "correct": incorrect == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
