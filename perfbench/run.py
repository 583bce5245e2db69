#!/usr/bin/env python3
"""Benchmark of the compactor and the query inventory.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (perfbench/build.py), runs
one workload in one JVM at local[2], and prints as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
line before it carries the workload's own named figures (swarm_compact_s,
dml_p90_s, query_p75_s, ...) and, for lake, the reference-style loop's time
on identical copies of the deep_leaves and swarm lakes
(deep_leaves_ref_compact_s, swarm_ref_compact_s); none of these are gated. Exits non-zero without a
result line when the build or the run fails, and with 1 after the line when
an output check failed. Workloads, metrics and caveats: perfbench/README.md.

    python3 perfbench/run.py --pin    # re-pin query_mix's outputs (twice, across JVMs)
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["lake", "query_mix"]
PINS = build.ROOT / "perfbench" / "pins" / "query_mix.json"
# set-up, warm-up and the checks take up to about two minutes beside --seconds
JVM_OVERHEAD_S = 165

ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def jvm(classes, work, args, timeout):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # no hsperfdata file in the system temp dir: the run writes only
    # inside the checkout
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", *ADD_OPENS,
           "-cp", build.classpath(classes), "perfbench.Main", "--work", str(work), *args]
    # the JVM's own output goes to stderr: stdout carries only our lines
    return subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=timeout).returncode


def reference_compact(lake, work, name):
    """Seconds the reference-style single-threaded loop takes on a copy."""
    tool = build.ROOT / "tools" / "reference_style_compact.py"
    if not lake.is_dir() or not tool.exists():
        return None
    copy = work / name
    shutil.copytree(lake, copy)
    try:
        out = subprocess.run([sys.executable, str(tool), str(copy)], capture_output=True, text=True, timeout=60)
        lines = out.stdout.strip().splitlines()
        return json.loads(lines[-1])["value"] if out.returncode == 0 and lines else None
    except (subprocess.TimeoutExpired, ValueError, KeyError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--save", help="copy the run's JSON files (result, detail, spans) into this directory")
    a = ap.parse_args()
    if not a.pin and a.workload is None:
        ap.error("--workload is required")
    try:
        classes = build.build()
    except (OSError, subprocess.CalledProcessError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    work = build.BUILD / f"run-{a.workload or 'pin'}-{os.getpid()}"
    try:
        if a.pin:
            PINS.parent.mkdir(parents=True, exist_ok=True)
            for _ in range(2):
                if jvm(classes, work, ["--pin", str(PINS)], 900) != 0:
                    return 3
            return 0
        out = work / "out"
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", str(out), "--pins", str(PINS)]
        try:
            rc = jvm(classes, work, args, JVM_OVERHEAD_S + a.seconds)
        except subprocess.TimeoutExpired:
            print("perfbench: run timed out", file=sys.stderr)
            return 3
        if rc != 0 or not (out / "result.json").exists():
            print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
            return 3
        if a.save:
            shutil.copytree(out, a.save, dirs_exist_ok=True)
        result = json.loads((out / "result.json").read_text())
        context = json.loads((out / "detail.json").read_text())
        if a.trace == 0 and a.workload == "lake":
            for part in ("deep_leaves", "swarm"):
                name = f"{part}_ref_compact_s"
                lake = work / "fixture" / part / "lake"
                context["detail"][name] = {"value": reference_compact(lake, work, name), "unit": "s"}
        print(json.dumps({"context": context}, allow_nan=False))
        print(json.dumps(result, allow_nan=False))
        return 0 if result["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
