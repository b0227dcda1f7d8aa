#!/usr/bin/env python3
"""Dataset-building benchmark for the osmmlspark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload original --seed 42 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 42 --seconds 10 --trace 0
    python3 perfbench/run.py --pin 42,7          # refresh pins for these seeds

The first run builds the engine and the benchmark's Scala sources with
sbt (offline) into perfbench/target; later runs reuse the build while the
sources are unchanged. Each run starts a plain `java` process on the
compiled classes, in a fresh work directory under perfbench/work that is
removed afterwards. Metric definitions are in perfbench/METRICS.md.

The last line of standard output is one JSON object: correct, attempted,
failed and metrics (the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1). The exit code is 0 when
every output matched, 1 when a check failed, 2 when the checkout cannot be
built or run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "perfbench-classpath.json")
PINS = os.path.join(BENCH, "pins.json")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
           os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    for src in SOURCES:
        paths = [src] if os.path.isfile(src) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(src) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Builds with sbt when the sources changed since the last build."""
    for src in SOURCES:
        if not os.path.exists(src):
            die(f"not a checkout of the engine: {os.path.relpath(src, ROOT)} is missing")
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    print("[perfbench] building (sbt compile)", file=sys.stderr)
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def cores():
    n = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return min(n or 1, 4)


def run_java(main_args, timeout_s=RUN_TIMEOUT_S, keep_trace=None):
    """Runs perfbench.Main in a fresh work directory; returns (stdout, peak RSS MB).
    A trace it wrote is moved to `keep_trace` before the directory goes."""
    cp = classpath()
    work = os.path.join(BENCH, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed, pre-touched heap: the RSS high-water is then the heap plus the
    # process's off-heap memory, not the moment G1 happened to grow the heap
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work, "--cores", str(cores())] + main_args
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    timer = threading.Timer(timeout_s, proc.kill)
    timer.start()
    try:
        out = proc.stdout.read()
        _, status, usage = os.wait4(proc.pid, 0)
        proc.returncode = os.waitstatus_to_exitcode(status)
    finally:
        timer.cancel()
        if proc.returncode is None:
            proc.kill()
            proc.wait()
        trace = os.path.join(work, "trace.jsonl")
        if keep_trace and os.path.exists(trace):
            os.makedirs(os.path.dirname(keep_trace), exist_ok=True)
            shutil.move(trace, keep_trace)
            print(f"[perfbench] spans written to {os.path.relpath(keep_trace, ROOT)}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        die(f"benchmark process exited with {proc.returncode}")
    return out, usage.ru_maxrss / 1024.0


def tagged(out, tag):
    lines = [l for l in out.splitlines() if l.startswith(tag + " ")]
    if not lines:
        die(f"benchmark process printed no {tag} line")
    return json.loads(lines[-1][len(tag) + 1:])


def benchmark_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        die("BENCHMARK.json is missing")
    with open(path) as f:
        return json.load(f)


def run_workload(spec, workload, seed, seconds, trace):
    out, rss_mb = run_java(["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", str(trace), "--pins", PINS],
                           keep_trace=os.path.join(BENCH, "work", "traces", f"{workload}-seed{seed}.jsonl"))
    res = tagged(out, "RESULT")
    produced = {k: v for k, v in res["metrics"].items() if v["value"] is not None}
    if not trace:
        produced["peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
    wanted = spec["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in produced]
    if missing:
        res["correct"] = False
        res.setdefault("problems", []).append(f"metrics not produced: {missing}")
    res["metrics"] = {m["name"]: produced[m["name"]] for m in wanted if m["name"] in produced}
    res["failed_share"] = res["failed"] / max(1, res["attempted"])
    return res


def print_table(workload, res):
    print(f"== {workload} seed={res.get('seed')} pinned={res.get('pinned')} "
          f"rows={res.get('rows')} correct={res['correct']}")
    for name, m in res["metrics"].items():
        print(f"   {name:<40} {m['value']:>16.6g} {m['unit']}")
    print(f"   {'failed_share':<40} {res['failed_share']:>16.6g} ratio "
          f"({res['failed']} of {res['attempted']})")
    for p in res.get("problems", []):
        print(f"   PROBLEM: {p}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", help="comma-separated seeds whose expected outputs to (re)compute")
    args = ap.parse_args()
    os.chdir(ROOT)

    if args.pin:
        out, _ = run_java(["--pin", args.pin], timeout_s=7200)
        new = tagged(out, "PINS")
        pins = {"inputs": {}, "outputs": {}}
        if os.path.exists(PINS):
            with open(PINS) as f:
                pins = json.load(f)
        for section in ("inputs", "outputs"):
            for key, by_seed in new[section].items():
                pins[section].setdefault(key, {}).update(by_seed)
        with open(PINS, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
        print(json.dumps(new))
        return

    spec = benchmark_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names + ["all"]:
        die(f"--workload must be one of {names + ['all']}")
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    workloads = names if args.workload == "all" else [args.workload]
    results = {}
    for w in workloads:
        results[w] = run_workload(spec, w, args.seed, seconds, args.trace)
        print_table(w, results[w])
    correct = all(r["correct"] for r in results.values())
    if args.workload == "all":
        final = {"correct": correct,
                 "attempted": sum(r["attempted"] for r in results.values()),
                 "failed": sum(r["failed"] for r in results.values()),
                 "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()}}
    else:
        r = results[args.workload]
        final = {k: r[k] for k in ("correct", "attempted", "failed", "metrics")}
    if not correct:
        print("[perfbench] OUTPUT CHECK FAILED: see PROBLEM lines above", file=sys.stderr)
    print(json.dumps(final))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
