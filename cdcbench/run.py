#!/usr/bin/env python3
"""Run one workload of the CDC benchmark and print its metrics.

    python3 cdcbench/run.py --workload backfill|tail --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark JVM program from source (sbt, offline) into `cdcbench/target`; later
runs reuse that build while the sources are unchanged. Each run launches
one JVM (local[4]) that drives the engine through its public entry points
and writes a raw record; this script turns the record into metrics
(`analysis.py`), prints every metric by name with its unit, and prints as
its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json;
with `--trace 1` the run is traced and the metrics are the per-layer ones.
All files a run writes stay under `.bench_build/` in the checkout.
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
sys.path.insert(0, HERE)
import analysis  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DEADLINE_S = 175  # a run must end within 180 s after its build

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(code)


def on_signal(signum, _frame):
    # SystemExit unwinds through the build and the JVM launch, which kill
    # their child process on the way out
    sys.exit(128 + signum)


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; returns the classpath."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    print("cdcbench: building engine + benchmark (sbt)", file=sys.stderr)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's own state (global base, boot, temp files) stays in the checkout
    r = subprocess.run(
        ["sbt", "--batch", "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={tmp}",
         f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
         "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    cps = [ln.strip() for ln in r.stdout.splitlines()
           if ln.strip().startswith("/") and ".jar" in ln]
    if r.returncode != 0 or not cps:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_jvm(cp, args, work, out, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap is not pinned: it starts small and grows as the run needs
    # it, so the memory figures follow the engine, not a fixed size; the
    # cap only guards the host
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "cdcbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out])
    log_path = os.path.join(BUILD, f"{args.workload}-{args.seed}-{args.trace}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {budget_s:.0f} s; log in {log_path}")
        finally:  # also on a signal: the JVM never outlives this script
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with {code}; log in {log_path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(analysis.WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")

    cp = build()
    t_built = time.monotonic()
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    try:
        run_jvm(cp, args, work, out, DEADLINE_S - (time.monotonic() - t_built))
        with open(out) as f:
            record = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["build"] = source_stamp()
    with open(os.path.join(BUILD, f"record-{args.workload}-{args.seed}-{args.trace}.json"),
              "w") as f:
        json.dump(record, f)

    try:
        report = analysis.report(record)
    except ValueError as e:  # e.g. too few samples for a tail percentile
        fail(f"cannot report this run: {e}")
    for line in analysis.describe(record, report):
        print(line)
    untraced = os.path.join(BUILD, f"record-{args.workload}-{args.seed}-0.json")
    base_rec = None
    if args.trace and os.path.exists(untraced):
        with open(untraced) as f:
            base_rec = json.load(f)
    if base_rec is not None and base_rec.get("build") == record["build"]:
        base = analysis.end_to_end(base_rec)
        print("tracing overhead vs the untraced run of this workload and seed:")
        for k, v in analysis.end_to_end(record).items():
            print(f"  {k}: {v:.6g} traced vs {base[k]:.6g} untraced ({v / base[k] - 1:+.1%})")
    metrics = report["per_layer"] if args.trace else report["end_to_end"]
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {name: {"value": v, "unit": analysis.UNITS[name]}
                    for name, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
