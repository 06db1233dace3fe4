#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload gas_daily --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark on first use (see build.py), then runs
it in one JVM at local[nproc]. With --trace 0 the result carries
the end-to-end metrics; with --trace 1 the per-layer metrics, and the
span file is written to .bench_build/traces/<workload>-<seed>.json
together with the tracing overhead against the last untraced run of the
same workload and seed.

    python3 perfbench/run.py --selftest     # generator self-test
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java_cmd(classes, tmp, main_args):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    return (["java"] + opens + [
        # a heap cap and a fixed young generation, nothing pre-touched:
        # peak RSS moves with what the program retains (old generation,
        # off-heap), not with how far G1 chose to grow eden
        "-Xmx3g", "-Xmn512m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", build.classpath(classes), "perfbench.Main"] + main_args)


def run_jvm(cmd):
    """Run the JVM in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         cwd=ROOT, start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"perfbench: JVM exceeded {TIMEOUT_S} s, killed", file=sys.stderr)
        sys.exit(3)
    return p.returncode, out


def named_metrics(r, trace):
    """The metrics BENCHMARK.json lists for this kind of run, with their
    units. Every end-to-end metric must be measured; a per-layer metric
    of a layer the workload does not load reads 0."""
    if trace:
        spec, got = SPEC["per_layer"], r["per_layer"]
        unknown = sorted(set(got) - {m["name"] for m in spec})
        if unknown:
            raise ValueError(f"per-layer metrics not in BENCHMARK.json: {unknown}")
    else:
        spec, got = SPEC["end_to_end"], r["end_to_end"]
        missing = [m["name"] for m in spec if got.get(m["name"]) is None]
        if missing:
            raise ValueError(f"end-to-end metrics not measured: {missing}")
    return {m["name"]: {"value": got.get(m["name"]) or 0.0, "unit": m["unit"]}
            for m in spec}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    names = [w["name"] for w in SPEC["workloads"]]
    if not a.selftest and a.workload not in names:
        ap.error(f"--workload must be one of {names}")

    try:
        classes = build.ensure()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)

    scratch = build.BUILD / "run" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    traces = build.BUILD / "traces"
    try:
        if a.selftest:
            code, out = run_jvm(java_cmd(classes, scratch / "tmp", ["--mode", "selftest"]))
            print(out, end="")
            sys.exit(code)
        code, out = run_jvm(java_cmd(classes, scratch / "tmp", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scratch", str(scratch / "work"),
            "--expected", str(ROOT / "perfbench" / "expected.json"),
            "--traces", str(traces)]))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if code != 0 or not lines:
        print(f"perfbench: JVM exited with {code}", file=sys.stderr)
        sys.exit(code or 1)
    r = json.loads(lines[-1])
    try:
        metrics = named_metrics(r, a.trace)
    except ValueError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(4)

    last = build.BUILD / "last" / f"{a.workload}-{a.seed}.json"
    if a.trace == 0:
        last.parent.mkdir(parents=True, exist_ok=True)
        last.write_text(json.dumps(r["end_to_end"]))
    else:
        span_file = traces / f"{a.workload}-{a.seed}.json"
        doc = json.loads(span_file.read_text())
        if last.exists():
            base = json.loads(last.read_text())
            doc["tracing_overhead"] = {
                k: doc["end_to_end"][k] - base[k] for k in base if k in doc["end_to_end"]}
        else:
            doc["tracing_overhead"] = None
            print("perfbench: no untraced run of this workload and seed yet; "
                  "tracing overhead not computed", file=sys.stderr)
        span_file.write_text(json.dumps(doc, indent=1))
        print(f"perfbench: tracing overhead {json.dumps(doc['tracing_overhead'])}",
              file=sys.stderr)
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
