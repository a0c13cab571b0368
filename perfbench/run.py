#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, generates the
inputs, runs one workload in one JVM and prints the result.

  python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 20 --trace 0
  python3 perfbench/run.py --selftest

Run from the root of a checkout. The last stdout line is one JSON
object {correct, attempted, failed, metrics}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The full record,
with run facts and provenance, goes to .bench_build/results/; a traced
run also writes its spans there. Exits nonzero, with no result line,
when the program cannot be built or run, and nonzero after the result
line when any op threw or returned a wrong result.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_fixture  # noqa: E402

WORKLOADS = ("llm_corpus", "sync_incremental")
SETUP_REPEATS = 3
HEAP = "2g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def bench_config():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def fingerprint(d):
    """Fixture fingerprint: size + MD5 of the last 64 KiB per parquet file
    (graft.Verify's scheme)."""
    out = {}
    for name in sorted(os.listdir(d)):
        p = os.path.join(d, name)
        size = os.path.getsize(p)
        with open(p, "rb") as f:
            f.seek(size - min(65536, size))
            out[name] = {"size": size, "tail_md5": hashlib.md5(f.read()).hexdigest()}
    return out


def make_fixture(d):
    """Generate and fingerprint the fixture SETUP_REPEATS times; returns
    (median generation s, median fingerprint s, fingerprint)."""
    gen, fp, prints = [], [], []
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        gen_fixture.write(d)
        t1 = time.perf_counter()
        prints.append(fingerprint(d))
        fp.append(time.perf_counter() - t1)
        gen.append(t1 - t0)
    if any(p != prints[0] for p in prints):
        sys.exit("fixture generation is not deterministic")
    return statistics.median(gen), statistics.median(fp), prints[0]


def cores():
    """k for local[k]: two task threads, leaving the rest of a 4-CPU box
    to the driver thread, the JIT and the GC."""
    return max(1, min(2, len(os.sched_getaffinity(0))))


def java(main, args, classpath, tmp, timeout=JVM_TIMEOUT_S):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", ":".join(classpath), main] + args)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        out, err = p.communicate()
        sys.stderr.write(err[-4000:])
        sys.exit(f"{main} did not finish within {timeout} s")
    return p.returncode, out, err


def steal_seconds():
    """CPU time the hypervisor gave to other guests (all CPUs), from
    /proc/stat; 0 where it is not reported."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def selftest(classpath, run_dir):
    fixture = os.path.join(run_dir, "fixture")
    make_fixture(fixture)
    code, out, err = java("perfbench.SelfTest",
                          [fixture, os.path.join(HERE, "golden.json"), run_dir],
                          classpath, os.path.join(run_dir, "tmp"), timeout=600)
    print(out, end="")
    if code != 0:
        sys.stderr.write(err[-4000:])
    return code


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    help="measurement length: a run times one pass per 5 s of it "
                         "(default: run_seconds in BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    _, source_hash, classpath = build.build()
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    try:
        if a.selftest:
            return selftest(classpath, run_dir)
        cfg = bench_config()
        if a.seconds is None:
            a.seconds = cfg["run_seconds"]
        golden_path = os.path.join(HERE, "golden.json")
        with open(golden_path) as f:
            golden = json.load(f)
        fixture = os.path.join(run_dir, "fixture")
        gen_s, fp_s, fixture_fp = make_fixture(fixture)
        if fixture_fp != golden["fixture"]:
            sys.exit("fixture fingerprint differs from the one golden.json was recorded on")

        tag = f"{a.workload}-s{a.seed}-t{a.trace}"
        record_path = os.path.join(run_dir, "record.json")
        steal0 = steal_seconds()
        launch_ms = int(time.time() * 1000)
        code, out, err = java("perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--fixture", fixture, "--golden", golden_path,
            "--out", record_path, "--spans", os.path.join(results, f"spans-{tag}.jsonl"),
            "--launch-ms", str(launch_ms), "--cores", str(cores())],
            classpath, os.path.join(run_dir, "tmp"))
        if not os.path.exists(record_path):
            sys.stderr.write(err[-4000:])
            sys.exit(f"the benchmark JVM exited {code} without a record")
        with open(record_path) as f:
            rec = json.load(f)
        rec["facts"]["cpu_steal_s"] = steal_seconds() - steal0
        facts = rec["facts"]
        m = rec["metrics"]
        setup = gen_s + fp_s + facts["session_s"] + facts["warmup_s"]
        m["setup_s"] = {"value": setup, "unit": "s"}
        wanted = cfg["per_layer"] if a.trace else cfg["end_to_end"]
        missing = [x["name"] for x in wanted if x["name"] not in m]
        if missing:
            sys.exit(f"record lacks metrics {missing}")
        metrics = {x["name"]: m[x["name"]] for x in wanted}
        attempted, failed = rec["attempted"], rec["failed"]
        full = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "attempted": attempted, "failed": failed,
            "error_rate": failed / attempted if attempted else 1.0,
            "errors": rec["errors"], "metrics": m,
            "setup_parts_s": {"fixture_generation": gen_s, "fixture_fingerprint": fp_s,
                              "session": facts["session_s"], "warmup": facts["warmup_s"]},
            "facts": facts,
            "provenance": {
                "fixture_fingerprint": fixture_fp, "fixture_scale": gen_fixture.SCALE,
                "fixture_seed": gen_fixture.FIXTURE_SEED,
                "nproc": os.cpu_count(), "cores_k": facts["cores"],
                "shuffle_partitions": facts["shuffle_partitions"], "aqe": facts["aqe"],
                "heap": HEAP, "heap_max_bytes": facts["heap_max_bytes"],
                "spark": facts["spark_version"], "jdk": facts["jdk"],
                "seed": a.seed, "git_commit": git_commit(), "source_sha256": source_hash},
        }
        with open(os.path.join(results, f"result-{tag}.json"), "w") as f:
            json.dump(full, f, indent=1)
        for e in rec["errors"]:
            print(f"error: {e}")
        print(f"error_rate {full['error_rate']:.4f} ({failed} of {attempted} ops)")
        if not a.trace:
            print(f"op_tail_s is p{facts['op_tail_percentile']:.1f} of "
                  f"{facts['op_samples']} op samples; {facts['passes']} timed passes")
        else:
            selfs = facts["self_time_s_per_pass"]
            print("self time per traced pass (s): " +
                  ", ".join(f"{k} {v:.3f}" for k, v in selfs.items()) +
                  f"; ops wall {facts['ops_wall_s_per_pass']:.3f}"
                  f"; unattributed {selfs['unattributed']:.3f}")
            print(f"tracing overhead (traced / untraced pass_s): {m['trace.overhead']['value']:.3f}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if failed == 0 and code == 0 else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
