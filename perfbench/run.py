#!/usr/bin/env python3
"""Benchmark driver for the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <stream_ingest|lake_api|query_suite> \
        --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the harness (perfbench/build.sbt) and the
engine it depends on (the root build.sbt) with sbt offline, and keeps the
classpath in .bench_build/; later runs reuse it while sources and build files
are unchanged. Each run starts one JVM that runs the
workload at local[nproc] and checks every output. With --trace 1 the
workload runs twice, untraced and then traced, in separate JVMs; the result
carries the per-layer metrics of the traced run plus the tracing overhead
(traced minus untraced end-to-end metrics).

Human-readable figures, under the workload's own metric names, go to stdout
first; the last stdout line is the JSON result. The exit code is 0 only when
every output was correct.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("stream_ingest", "lake_api", "query_suite")
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# end-to-end metrics whose traced-minus-untraced difference is the tracing overhead
OVERHEAD_OF = ("latency_ms", "throughput_per_s")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def build():
    """Compiles engine + harness unless an identical build exists; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources (src/main/scala) next to perfbench/")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}), log in {log}")
    shutil.copyfile(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


def run_jvm(cp, workload, seed, seconds, trace, extra=(), timeout=RUN_TIMEOUT_S):
    """Runs one workload in a fresh JVM; returns its parsed result."""
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed heap size keeps the collector's sizing out of the timings; it is
    # not pre-touched, so the resident set still follows what the run uses
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--root", ROOT, "--work", work,
              *extra])
    log = os.path.join(BUILD, "logs", f"{workload}-{seed}-{trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{workload} did not finish within {timeout} s, log in {log}", 1)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        if os.path.exists(os.path.join(work, "trace.jsonl")):
            shutil.copyfile(os.path.join(work, "trace.jsonl"),
                            os.path.join(traces, f"{workload}-{seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    if workload == "record":
        return None
    if p.returncode != 0 or result is None:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"{workload} exited with {p.returncode}, log in {log}", 1)
    return result


def declared_metrics(kind):
    """Metric names BENCHMARK.json declares, or None outside a full checkout."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    return {m["name"] for m in json.load(open(path))[kind]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="DIR",
                    help="instead of a workload, run every query once and write fingerprints.tsv, "
                         "the outputs and oracle_sql.json to DIR, for tools/check_oracle.py")
    a = ap.parse_args()
    if a.record is None and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")
    cp = build()
    if a.record is not None:
        run_jvm(cp, "record", 0, 0, 0, ("--out", os.path.abspath(a.record)), timeout=None)
        return
    plain = run_jvm(cp, a.workload, a.seed, a.seconds, 0)
    if a.trace:
        traced = run_jvm(cp, a.workload, a.seed, a.seconds, 1)
        metrics = dict(traced["per_layer"])
        for name in OVERHEAD_OF:
            t, u = traced["end_to_end"][name], plain["end_to_end"][name]
            metrics[f"trace.overhead.{name}"] = {"value": t["value"] - u["value"], "unit": t["unit"]}
        runs = [plain, traced]
        kind = "per_layer"
    else:
        metrics = plain["end_to_end"]
        runs = [plain]
        kind = "end_to_end"
    declared = declared_metrics(kind)
    if declared is not None and declared != set(metrics):
        fail(f"{kind} metrics differ from BENCHMARK.json: "
             f"missing {sorted(declared - set(metrics))}, extra {sorted(set(metrics) - declared)}", 3)
    correct = all(r["correct"] for r in runs)
    print(json.dumps({"correct": correct,
                      "attempted": sum(r["attempted"] for r in runs),
                      "failed": sum(r["failed"] for r in runs),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
