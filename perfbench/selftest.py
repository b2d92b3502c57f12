#!/usr/bin/env python3
"""Self-tests of the benchmark, at a tiny size. Run from the checkout root:

    python3 perfbench/selftest.py

Checks that BENCHMARK.json keeps to its format; that the same seed gives
byte-identical inputs (parquet tables: identical schema and rows) and
another seed different ones; and that every
workload, traced and untraced, prints exactly the metric names and units
BENCHMARK.json lists, with no failed unit.
"""
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import duckdb  # noqa: E402
import server  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def spec_format(spec):
    check(set(spec) == {"command", "paths", "run_seconds", "workloads",
                        "end_to_end", "per_layer"}, "BENCHMARK.json has exactly the contract keys")
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    check(len(names) == len(set(names)) and all(NAME.match(n) for n in names),
          "metric and workload names are valid and unique")
    check(all(UNIT.match(m["unit"]) for k in ("end_to_end", "per_layer") for m in spec[k]),
          "units are valid")
    check(all(0 < m["bound"] <= 0.25 and set(m) == {"name", "unit", "better", "bound"}
              for m in spec["end_to_end"]), "end-to-end bounds are in (0, 0.25]")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    check(bool(setup) and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
          and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"]),
          "setup_s is present, lower-is-better and has the largest bound")
    check(2 <= len(spec["workloads"]) <= 8 and all(
        set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in spec["workloads"]),
        "workloads have a name and a one-line why")


def digest(top):
    """Digests of the generated inputs under `top` (the batch files and the
    suite's tables). A parquet file is digested by its schema and rows:
    parquet-mr writes each column's encoding set in no fixed order, and
    Spark names part files at random."""
    out = []
    for d, _, fs in os.walk(top):
        rel_dir = os.path.relpath(d, top)
        if rel_dir.split(os.sep)[0] not in ("tables", "b0", "b1"):
            continue
        for f in fs:
            path = os.path.join(d, f)
            if f.endswith(".parquet"):
                con = duckdb.connect()
                r = con.execute(f"SELECT * FROM '{path}'")
                data = repr(([x[:2] for x in r.description], sorted(r.fetchall()))).encode()
                out.append((rel_dir, "parquet", hashlib.sha256(data).hexdigest()))
            elif not f.endswith(".crc"):
                with open(path, "rb") as h:
                    out.append((os.path.join(rel_dir, f), hashlib.sha256(h.read()).hexdigest()))
    return sorted(out)


def inputs(workload, seed, tmp):
    d = os.path.join(tmp, f"{workload}-{seed}-{len(os.listdir(tmp))}")
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", "1", "--scale", "tiny",
                    "--inputs-only", d], cwd=ROOT, check=True)
    return digest(d)


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "3", "--seconds", "1", "--trace", str(trace),
                        "--scale", "tiny"], cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else {}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    spec_format(spec)

    check(server.body(5, 4096, "pdf") == server.body(5, 4096, "pdf")
          and server.body(5, 4096, "pdf") != server.body(6, 4096, "pdf"),
          "server bodies depend on the key only")
    tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
    try:
        for w in (w["name"] for w in spec["workloads"]):
            a, b, c = inputs(w, 7, tmp), inputs(w, 7, tmp), inputs(w, 8, tmp)
            check(bool(a) and a == b, f"{w}: the same seed gives byte-identical inputs")
            check(a != c, f"{w}: another seed gives different inputs")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    for w in (w["name"] for w in spec["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            rc, out = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v.get("unit") for k, v in out.get("metrics", {}).items()}
            check(set(out) == {"correct", "attempted", "failed", "metrics"},
                  f"{w} trace={trace}: result line has the contract keys")
            check(got == want, f"{w} trace={trace}: metric names and units match BENCHMARK.json")
            check(rc == 0 and out.get("correct") is True and out.get("failed") == 0
                  and out.get("attempted", 0) >= 1,
                  f"{w} trace={trace}: failed_share is 0")
    print(f"{len(failures)} failure(s)" if failures else "all self-tests passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
