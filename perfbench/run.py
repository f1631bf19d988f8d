#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload e2e_fresh --seed 1 --seconds 10 --trace 0

Builds the program from source if needed (perfbench/build.py), sizes the
driver JVM from the host (local[nproc], heap from MemTotal), runs one
workload as a closed loop in that JVM, checks every output against the
DuckDB oracle, and prints one JSON object as the last line of stdout.
With --trace 0 it reports the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer ones. Spans and per-call detail of every run go to
.bench_build/perfbench/traces/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170

# per-layer metrics of a layer that does no work in a workload read 0
IDLE_LAYERS = {
    "curate": ("state.", "parse.", "enrich.", "route.", "pipeline.", "peak_task_mem_mb"),
    "e2e_fresh": ("ops.",),
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def host():
    """(cores, heap GiB): nproc, and half of MemTotal clamped to [2, 8] GiB
    (the same rule the repository's test command uses for SPARK_DRIVER_MEM)."""
    cores = len(os.sched_getaffinity(0))
    heap = 2
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                heap = min(8, max(2, int(line.split()[1]) // 2097152))
    return cores, heap


def oracle_lines(oracle):
    import duckdb
    con = duckdb.connect()
    for name, path in oracle["tables"].items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}/*.parquet'")
    rel = con.execute(oracle["sql"])
    names = [d[0] for d in rel.description]
    idx = [names.index(c) for c in oracle["columns"]]
    rows = rel.fetchall()
    con.close()
    return sorted("\t".join(str(r[i]) for i in idx) for r in rows)


def check_calls(res):
    """Marks every call that threw or whose output differs from the oracle;
    returns (attempted, failed)."""
    import hashlib
    want = oracle_lines(res["oracle"])
    digest = hashlib.sha256("\n".join(want).encode()).hexdigest()
    calls = res["calls"] + res["traced_calls"]
    failed = 0
    for i, c in enumerate(calls):
        p = c["payload"]
        if c["error"] is None:
            if "lines" in p and p["lines"] != want:
                c["error"] = "output differs from the oracle: " + json.dumps(
                    {"got": p["lines"][:3], "want": want[:3]})
            elif "digest" in p and p["digest"] != digest:
                c["error"] = (f"output differs from the oracle: {p['rows']} rows vs "
                              f"{len(want)} expected")
                got = open(res["oracle"]["lines_file"]).read().split("\n")
                diff = sorted(set(got) ^ set(want))[:5]
                c["error"] += " first differing lines: " + json.dumps(diff)
        if c["error"] is not None:
            failed += 1
            print(f"perfbench: call {i} failed: {c['error']}", file=sys.stderr)
    return len(calls), failed


def measure(args, spec, cmd, env, work, result, began):
    """Runs the benchmark JVM, checks its outputs and returns the result line."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env, cwd=work)
    try:
        code = proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - began)))
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: benchmark JVM timed out")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or not os.path.exists(result):
        raise SystemExit(f"perfbench: benchmark JVM failed ({code})")
    with open(result) as fh:
        res = json.load(fh)
    t0 = time.monotonic()
    attempted, failed = check_calls(res)
    print(f"perfbench: oracle check {time.monotonic() - t0:.1f} s", file=sys.stderr)

    calls = res["calls"]
    wall = res["wall_s"]
    if args.trace == 0:
        values = {
            "setup_s": res["setup_s"],
            "wall_s": wall,
            "rows_per_s": res["input_rows"] / wall,
            "out_bytes_per_in_byte": statistics.median(
                c["out_bytes"] / res["input_bytes"] for c in calls),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        wanted = spec["end_to_end"]
    else:
        values = dict(res["layers"])
        values.update({
            "host.steal_frac": res["host_steal_frac"],
            "host.busy_cores": res["host_busy_cores"],
            "host.nproc": res["cores"],
            "host.heap_mb": res["heap_mb"],
            "failed_ratio": failed / attempted,
        })
        for m in spec["per_layer"]:
            if m["name"] not in values and m["name"].startswith(IDLE_LAYERS[args.workload]):
                values[m["name"]] = 0.0
        wanted = spec["per_layer"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise SystemExit(f"perfbench: metrics not measured: {missing}")

    traces = os.path.join(OUT, "traces")
    os.makedirs(traces, exist_ok=True)
    res["metrics"] = values
    with open(os.path.join(traces, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(res, fh)

    print(f"perfbench: {len(calls)} timed calls, wall_s median {wall:.4f}, "
          f"setup_s {res['setup_s']:.3f}, failed {failed}/{attempted}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    began = time.monotonic()
    # SIGTERM unwinds like an error, so the JVM is stopped and the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in IDLE_LAYERS:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    cp = build.build()

    cores, heap = host()
    work = os.path.join(OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    # a fixed-size heap, as build.sbt runs the program: no heap growth inside
    # the timed loop, and a peak RSS that does not follow the resize policy
    cmd = (["java", f"-Xms{heap}g", f"-Xmx{heap}g", "-XX:+UseParallelGC", "-Xss4m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--result", result,
              "--cores", str(cores)])
    print(f"perfbench: {args.workload} seed={args.seed} local[{cores}] heap={heap}g",
          file=sys.stderr)
    try:
        line = measure(args, spec, cmd, env, work, result, began)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
