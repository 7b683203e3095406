#!/usr/bin/env python3
"""Benchmark of the ADS-B -> CoT engine, run from the root of a checkout.

    python3 perfbench/run.py --workload replay_archive --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest

Builds the library (src/main/scala) together with the benchmark code in
perfbench/src with sbt, reusing the build while no source changed, then runs
one workload in a fresh JVM and prints each metric with its unit. The last
line of standard output is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1). Everything the run writes stays under
perfbench/.work and the sbt target directories.

--selftest runs every workload once at tiny size with each trace setting,
the traced run with an injected wrong expectation, and checks that every
metric is printed and that the injected error shows up.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
LIB = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("replay_archive", "live_poll", "operator_mix")
DEADLINE_S = 175  # a run must end within 180 s; the first one may build first

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (LIB, os.path.join(BENCH, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".scala")]
    return files


def build():
    """Compiles with sbt unless the sources are unchanged; returns the classpath."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(WORK, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
            "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=850)
        fh.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed, see {log}")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def run_jvm(classpath, workload, seed, seconds, trace, extra, deadline):
    """Runs one workload in a fresh JVM; returns its raw result dict."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    result = os.path.join(WORK, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", run_dir, "--corpus", os.path.join(BENCH, "corpus"),
            "--result", result] + extra
    log = os.path.join(WORK, "run.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"{workload} did not finish in time, see {log}")
        finally:
            # also on a timeout or a signal: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(result):
        with open(log) as fh:
            tail = fh.readlines()[-30:]
        sys.stderr.writelines(tail)
        fail(f"{workload} exited with code {code}, see {log}")
    with open(result) as fh:
        return json.load(fh)


def report(spec, raw, trace):
    """Human-readable lines, then the result object with BENCHMARK.json's
    metrics for this trace setting. A layer the workload does not exercise
    reads 0."""
    e2e, layer = raw["e2e"], raw["layer"]
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    source = layer if trace else e2e
    metrics = {}
    for m in wanted:
        v = source.get(m["name"], None if not trace else 0.0)
        if v is None or not math.isfinite(v):
            if not trace:
                fail(f"end-to-end metric {m['name']} missing or not finite")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    rate = raw["failed"] / raw["attempted"]
    w = raw["workload"]
    lines = [f"workload {w}: {raw['ops']} measured operations, "
             f"{raw['attempted']} attempted, {raw['failed']} failed"]
    lines += [f"  {k:34s} {v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
    lines.append(f"  {'error_rate':34s} {rate:.6g} ratio")
    if not trace:
        alias = {"replay_archive": [("records_per_s", "records_per_s", 1, "1/s")],
                 "live_poll": [("poll_p50_ms", "latency_p50_ms", 1, "ms"),
                               ("poll_p80_ms", "latency_p80_ms", 1, "ms")],
                 "operator_mix": [("mix_s", "latency_p50_ms", 1e-3, "s")]}[w]
        lines += [f"  {a:34s} {e2e[src] * k:.6g} {u}" for a, src, k, u in alias]
    result = {"correct": raw["failed"] == 0, "attempted": raw["attempted"],
              "failed": raw["failed"], "metrics": metrics}
    return lines, result


def selftest(spec, classpath):
    ok = True
    for w in WORKLOADS:
        for trace, extra in ((0, []), (1, ["--inject-wrong"])):
            raw = run_jvm(classpath, w, 1, 1, trace, ["--tiny"] + extra,
                          time.monotonic() + DEADLINE_S)
            lines, result = report(spec, raw, trace)
            print("\n".join(lines))
            names = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
            good = set(result["metrics"]) == names
            good &= result["correct"] if not extra else raw["failed"] > 0
            print(f"selftest {w} trace={trace}{' injected' if extra else ''}: "
                  f"{'ok' if good else 'FAILED'}")
            ok &= good
    print("selftest passed" if ok else "selftest FAILED")
    return 0 if ok else 1


def main():
    # a terminating signal unwinds like an error, so the JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(LIB) or not os.path.exists(spec_path):
        fail(f"no library sources at {LIB} or no {spec_path}: run from a full checkout")
    with open(spec_path) as fh:
        spec = json.load(fh)
    classpath = build()
    if args.selftest:
        sys.exit(selftest(spec, classpath))
    if not args.workload:
        fail("--workload is required")
    # the deadline counts from after the build: only a run that builds may take longer
    raw = run_jvm(classpath, args.workload, args.seed, args.seconds, args.trace, [],
                  time.monotonic() + DEADLINE_S)
    lines, result = report(spec, raw, args.trace)
    print("\n".join(lines))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
