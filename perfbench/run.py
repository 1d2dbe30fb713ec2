#!/usr/bin/env python3
"""Run one benchmark workload on one seed and print its metrics.

    python3 perfbench/run.py --workload interactive-resume --seed 1 --seconds 30 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
runs the harness in one JVM (`local[N]`, N <= nproc), checks every
operation's output, and prints a human-readable summary followed by ONE
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones.
The full result (profile, every op, every metric) is saved under
.bench_build/results/ for compare.py.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.001")
COSTS = os.path.join(HERE, "data", "query_costs.tsv")
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("interactive-resume", "query-sample")
# the host profile (README.md "Profile"); compare.py pairs only equal ones
CORES = min(4, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 4
XMX = "4g"
JVM_TIMEOUT_S = 168
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ----

def sources():
    pats = ["build.sbt", "project/build.properties", "src/main/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*.scala"]
    return sorted(f for p in pats
                  for f in glob.glob(os.path.join(ROOT, p), recursive=True))


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(stamp):
    """Compile engine + harness once per source state; returns the
    runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness (sbt compile) ...")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(out.stdout)
    cps = [l.strip() for l in out.stdout.splitlines()
           if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not cps:
        sys.exit(f"build failed (exit {out.returncode}); see .bench_build/build.log")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


# ---- profile ----

def mem_total_kb():
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def profile(seed, stamp):
    return {
        "nproc": os.cpu_count(), "mem_total_kb": mem_total_kb(),
        "xmx": XMX, "master": f"local[{CORES}]",
        "shuffle_partitions": SHUFFLE_PARTITIONS, "aqe": True,
        "local_dir": ".bench_build/spark-local",
        "checkpoint_root": ".bench_build/run/ckpt",
        "commit": commit(), "source_hash": stamp, "seed": seed,
    }


# ---- the harness JVM ----

def run_harness(cp, args, out):
    for d in ("spark-local", "tmp", "scratch"):
        shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
        os.makedirs(os.path.join(BUILD, d))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, f"-Xmx{XMX}", *opens,
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.cleaner.periodicGC.interval=10min",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", out, "--data", DATA,
           "--cores", str(CORES), "--partitions", str(SHUFFLE_PARTITIONS),
           "--local-dir", os.path.join(BUILD, "spark-local"),
           "--ckpt-root", os.path.join(out, "ckpt"),
           "--costs", COSTS]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_SCRATCH_DIR"] = os.path.join(BUILD, "scratch")
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S if args.workload != "query-sweep"
                        else 3600)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(f"harness exceeded {JVM_TIMEOUT_S} s; see {out}/jvm.log")
    if rc != 0:
        sys.exit(f"harness exited {rc}; see {out}/jvm.log")
    with open(os.path.join(out, "events.jsonl")) as fh:
        events = [json.loads(l) for l in fh if l.strip()]
    if not events or events[-1]["kind"] != "end":
        sys.exit(f"harness ended early; see {out}/jvm.log")
    spans = []
    sp = os.path.join(out, "spans.jsonl")
    if os.path.exists(sp):
        with open(sp) as fh:
            spans = [json.loads(l) for l in fh if l.strip()]
    return events, spans


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("query-sweep",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: the engine sources (build.sbt, src/main/scala) "
                 "are not next to perfbench/; run from a full checkout")
    stamp = source_hash()
    cp = build(stamp)

    out = os.path.join(BUILD, "run")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    events, spans = run_harness(cp, args, out)

    checked = M.check_ops(events, DATA)
    if args.workload == "query-sweep":
        M.write_costs(checked, os.path.join(BUILD, "query_costs.tsv"))
    e2e, layer = M.summarize(checked, events, spans, args.workload,
                             M.load_costs(COSTS))
    metrics = layer if args.trace else e2e
    ops = [o for o in checked if o["kind"] == "op"]
    failed = sum(1 for o in ops if not o["ok"])
    result = {"correct": failed == 0 and len(ops) > 0,
              "attempted": len(ops), "failed": failed,
              "metrics": {k: {"value": v, "unit": M.UNITS[k]}
                          for k, v in metrics.items()}}

    record = dict(result, workload=args.workload, trace=args.trace,
                  seconds=args.seconds, profile=profile(args.seed, stamp),
                  end_to_end=e2e, per_layer=layer,
                  ops=[{k: o.get(k) for k in ("pass", "name", "traced", "ok", "s",
                                              "cpu_s", "process_cpu_s")}
                       for o in ops],
                  problems={o["name"] + f"@p{o['pass']}": o["problems"]
                            for o in ops if o["problems"]})
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    path = os.path.join(
        BUILD, "results",
        f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)

    for name, probs in record["problems"].items():
        print(f"FAILED {name}: {'; '.join(probs)}")
    walls = [o["s"] for o in ops if o["ok"] and not o["traced"]]
    if walls:
        tail = stats.tail_percentile(walls)
        print(f"{len(walls)} ops timed, median {stats.median(walls):.3f} s; " +
              (f"p{tail[0]:g} {tail[1]:.3f} s" if tail else
               "no percentile above the median has 10 ops beyond it"))
    for k, v in metrics.items():
        print(f"{k:40s} {v:>16.6g} {M.UNITS[k]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
