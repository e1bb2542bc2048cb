#!/usr/bin/env python3
"""graft's benchmark: the streaming CDC pipeline and a batch operator mix.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload stream_steady --seed 1 --seconds 20 --trace 0

Builds the harness together with graft's sources (sbt, first run only),
runs one workload in one JVM, checks its outputs, and prints as the last
line of stdout one JSON object: correct, attempted, failed and metrics —
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Input tables come from $SPARK_GRAFT_SF_DIR (default
~/testdata/sf0.1). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import checkpoint, checks, report, stats  # noqa: E402
from benchlib.modules import group_queries  # noqa: E402

WORKLOADS = ("stream_steady", "batch_mix", "stream_backlog_wide")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return home


def newest_source_mtime(dirs):
    newest = 0.0
    for d in dirs:
        for base, _, files in os.walk(d):
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(base, f)))
    return newest


def build(deadline):
    """Compile harness + graft sources once per checkout; returns the
    classes directory."""
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(program, "graft")):
        fail(f"graft sources not found under {program}: run from the root of a graft checkout")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    sources = [program, os.path.join(HERE, "src"), os.path.join(HERE, "project"),
               os.path.join(HERE, "build.sbt")]
    newest = max(newest_source_mtime(sources[:3]), os.path.getmtime(sources[3]))
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest:
        return classes
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # the offline resolution graft's own test command uses
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    with open(log, "w") as out:
        proc = subprocess.Popen([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        code = wait(proc, deadline - time.time())
    if code != 0:
        fail(f"build failed ({code}):\n{tail(log)}")
    with open(stamp, "w") as f:
        f.write(str(newest))
    return classes


def wait(proc, timeout):
    """Wait for a child; on timeout kill it and wait until it has ended."""
    try:
        return proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return "timeout"


def run_jvm(classes, args, data, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    raw_path = os.path.join(work, "raw.json")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", *opens,
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}{os.pathsep}{spark_home()}/jars/*",
           "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", work, "--out", raw_path,
           "--cpus", str(os.cpu_count() or 4)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        code = wait(proc, deadline - time.time())
    if code != 0 or not os.path.exists(raw_path):
        fail(f"workload JVM failed ({code}):\n{tail(log)}")
    with open(raw_path) as f:
        raw = json.load(f)
    raw["progress"] = [json.loads(p) for p in raw.get("progress", [])]
    return raw


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    data = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser("~/testdata/sf0.1")
    classes = build(started + BUILD_LIMIT_S)
    if not os.path.exists(os.path.join(data, "events.parquet")):
        fail(f"input tables not found in {data}: set SPARK_GRAFT_SF_DIR")
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = run_jvm(classes, args, data, work, time.time() + RUN_LIMIT_S)

    notes = []
    if args.workload == "batch_mix":
        queries = list(dict.fromkeys(w["query"] for w in raw["walls"]))
        mismatches = checks.oracle_check(data, raw["out_dir"], raw["oracle_sql"], queries)
        attempted, failed = checks.batch_ops(queries, raw["errors"], mismatches)
        for q in queries:
            why = raw["errors"].get(q) or mismatches.get(q)
            if why:
                notes.append(f"FAIL {q}: {why}")
        with open(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")) as f:
            groups = group_queries(f.read(), queries)
        e2e, layer = report.batch(raw, groups, attempted, failed)
    else:
        attempted, failed = checks.stream_ops(raw["keys"], raw["key_mismatches"],
                                              raw["poisoned"], raw["dlq"])
        notes.append(f"keys {raw['keys']}, mismatched {raw['key_mismatches']}; "
                     f"poisoned {len(raw['poisoned'])}, dlq {len(raw['dlq'])}")
        log = checkpoint.read_source_log(raw["checkpoint"])
        e2e, layer = report.stream(raw, log, attempted, failed)
        if args.workload == "stream_steady":
            # open-loop validity: latency must not grow through the run by
            # more than the latency bound
            drift = layer["generator.latency_drift"]
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                bound = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}["latency_p75_s"]
            notes.append(f"latency drift (last/first quarter) {drift:.3f}"
                         f"{'' if drift <= 1 + bound else ' NOT SUSTAINED: lower the offered rate'}, "
                         f"generator late max {layer['generator.late_ms_max']:.1f} ms")
    samples = layer["latency.samples"]
    top = stats.highest_supported(samples)
    notes.append(f"latency samples {samples}; highest percentile with 10 samples beyond: "
                 + (f"p{round(top * 100)}" if top else "none"))
    for note in notes:
        print(f"perfbench: {note}", file=sys.stderr)

    if args.trace:
        values = dict(layer)
        values.update({f"traced.{k}": v for k, v in e2e.items()})
        units = report.PER_LAYER
    else:
        values, units = e2e, report.END_TO_END
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
