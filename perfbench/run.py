#!/usr/bin/env python3
"""The repository's benchmark: one command per workload, run from the root
of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json and perfbench/README.md):
  ingest-new       IngestJob.run over new documents fetched from a loopback server
  ingest-updates   IngestJob.run over updates to a freshly seeded cache
  operator-suite   five SparkEntry queries over generated tables

The first run builds the program and the harness from source with sbt
(into .bench_build/). Each run sets up (three times) and warms up, runs
timed batches for --seconds, checks every output and prints one JSON
line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. The exit code is 0 only when every output was correct.
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

import server

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("ingest-new", "ingest-updates", "operator-suite")
DEADLINE_S = 170  # for the harness, counted from the end of the build
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads, so an unchanged checkout
    skips sbt."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program's sources with the harness; return the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building with sbt (first run in this checkout)")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.call(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    if rc != 0:
        with open(os.path.join(BUILD, "build.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


def cpu_counters():
    """(steal ticks, all ticks) from /proc/stat and the CPU pressure stall
    total in seconds, or None where the kernel does not expose them."""
    steal = total = psi = None
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        steal, total = ticks[7], sum(ticks[:8])
    except (OSError, IndexError, ValueError):
        pass
    try:
        with open("/proc/pressure/cpu") as f:
            some = f.readline().split()
        psi = int(dict(kv.split("=") for kv in some[1:])["total"]) / 1e6
    except (OSError, KeyError, ValueError):
        pass
    return steal, total, psi


def start_server():
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "server.py")],
        stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    line = proc.stdout.readline()
    if not line.strip().isdigit():
        stop(proc)
        raise SystemExit("loopback server did not start")
    return proc, int(line)


def stop(proc):
    if proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_harness(cp, args, work, port, scale, mode, deadline):
    result = os.path.join(work, "result.json")
    # a fixed heap size keeps GC behaviour the same from run to run
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), work, result, str(port), scale, mode])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as err:
        # Spark would put its scratch files in SPARK_LOCAL_DIRS, outside
        # the checkout; the harness sets spark.local.dir under `work`
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.DEVNULL,
                                stderr=err, stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(jvm_log) as f:
            tail = [l for l in f.read().splitlines() if "WARN" not in l][-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"harness failed ({rc})")
    if mode == "inputs":
        return None
    with open(result) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def metrics(args, rec, env):
    spec = load_spec()
    batches = rec["batches"]
    plain = [b for b in batches if not b["traced"]]
    if args.trace == 0:
        values = {
            "setup_s": median(rec["setup_parts_s"]) + rec["warmup_s"],
            "units_per_s": median([b["attempted"] / b["wall_s"] for b in plain]),
            "cpu_s": median([b["cpu_s"] for b in plain]),
            "retained_heap_mb": rec["heap_mb"],
        }
        names = spec["end_to_end"]
    else:
        traced = [b["layers"] for b in batches if b["traced"]]
        units = batches[0]["attempted"]
        for lay in traced:
            req = lay.get("server.requests", 0.0)
            conns = lay.get("server.connections", 0.0)
            lay["fetch.server_busy_s"] = lay.get("server.service_s", 0.0)
            lay["fetch.connections"] = conns
            lay["fetch.requests_per_connection"] = req / conns if conns else 0.0
            lay["fetch.overhead_s"] = (lay.get("fetch.busy_s", 0.0)
                                       - req * server.DELAY_S
                                       - lay.get("server.service_s", 0.0)) if req else 0.0
            ops = sum(lay.get(f"storage.{op}", 0.0) for op in
                      ("create", "mkdirs", "rename", "exists", "delete", "open"))
            lay["storage.ops_per_doc"] = ops / units
        values = {name: median([lay.get(name, 0.0) for lay in traced])
                  for name in (m["name"] for m in spec["per_layer"])}
        values["setup.warmup_s"] = rec["warmup_s"]
        values["trace.overhead_s"] = (median([b["wall_s"] for b in batches if b["traced"]])
                                      - median([b["wall_s"] for b in plain]))
        values["env.calib_s"] = env["calib_sec"]
        values["env.cpu_steal_share"] = env["cpu_steal_share"] or 0.0
        values["env.cpu_pressure_s"] = env["cpu_pressure_s"] or 0.0
        names = spec["per_layer"]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: self-test sizes")
    ap.add_argument("--inputs-only", metavar="DIR",
                    help="write the seed's inputs to DIR and stop (self-test)")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: the program's sources (build.sbt, src/main/scala) "
                         "are not next to perfbench/; run from a full checkout")
    cp = build()
    deadline = time.time() + DEADLINE_S

    work = args.inputs_only or os.path.join(
        BUILD, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    publisher, port = (None, 9)
    steal0, total0, psi0 = cpu_counters()
    try:
        if args.workload == "ingest-new" and not args.inputs_only:
            publisher, port = start_server()
        mode = "inputs" if args.inputs_only else "run"
        rec = run_harness(cp, args, os.path.abspath(work), port, args.scale, mode,
                          deadline)
        if rec is None:
            return
        oracle_fail = {}
        if args.workload == "operator-suite":
            import oracle
            with open(os.path.join(work, "oracle_sql.json")) as f:
                sqls = json.load(f)
            oracle_fail = {q: why for q, why in oracle.check(
                rec["data_dir"], os.path.join(work, "results"), sqls).items() if why}
    finally:
        if publisher:
            stop(publisher)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
            shutil.move(spans, os.path.join(
                BUILD, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
        if not args.inputs_only:
            shutil.rmtree(work, ignore_errors=True)
    steal1, total1, psi1 = cpu_counters()
    env = {
        "calib_sec": rec["calib_sec"],
        "cpu_steal_share": ((steal1 - steal0) / max(1, total1 - total0)
                            if steal0 is not None else None),
        "cpu_pressure_s": (psi1 - psi0) if psi0 is not None else None,
        "nproc": os.cpu_count(),
    }

    timed = rec["batches"]
    n_batches = len(timed)
    attempted = sum(b["attempted"] for b in timed) + rec["warmup_attempted"]
    # a query that misses its oracle fails in every pass, warm-up included
    passes = attempted // timed[0]["attempted"]
    failed = (sum(b["failed"] for b in timed) + rec["warmup_failed"]
              + len(oracle_fail) * passes)
    problems = list(rec["failures"]) + [f"{q}: oracle mismatch: {why}"
                                        for q, why in oracle_fail.items()]
    if args.trace == 1:
        low = [b["layers"]["trace.phase_coverage"] for b in timed if b["traced"]
               if b["layers"]["trace.phase_coverage"] < 0.9]
        if low:
            problems.append(f"phase spans cover only {min(low):.2f} of a batch")
    for p in problems[:10]:
        log(p)
    correct = failed == 0 and not problems
    print(json.dumps({"env": env, "batches": n_batches,
                      "failed_share": failed / attempted}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics(args, rec, env)}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
