#!/usr/bin/env python3
"""The repo's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload rolling --seed 1 --seconds 20 --trace 0

Run from the repo root. It builds the library and the harness from source
(sbt, once per source state), generates the workload's inputs from the
seed (once per seed, size and generator source), runs the harness JVM --
one session set-up, a cold pass, a warm-up pass, then at least two
measured warm passes and more until `--seconds` have passed since the
cold pass began -- checks every result at full size against its DuckDB
oracle twin, and prints the metrics. The last line of stdout is one JSON
object: `correct`, `attempted`, `failed` and `metrics` -- the end-to-end
metrics with `--trace 0`, the per-layer ones with `--trace 1`. The exit
code is 0 only when every output is correct. Everything it writes stays
under `perfbench/.work/`; the full record of a run is
`perfbench/.work/runs/<workload>-s<seed>-t<trace>/artifact.json`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

DEADLINE_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for rel in SOURCES:
        p = os.path.join(ROOT, rel)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compiles the library and harness when their sources changed."""
    stamp_file = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building library and harness with sbt")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp,
               SBT_OPTS=(os.environ.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"))
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    lines = [ln for ln in r.stdout.splitlines() if ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("build failed")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def driver_heap():
    """The tier-1 formula: half the machine's memory, clamped to 2..8 GiB."""
    try:
        kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo")
                  if ln.startswith("MemTotal:"))
        return f"{min(max(kb // 2097152, 2), 8)}g"
    except (OSError, StopIteration):
        return "2g"


def run_harness(cp, wl, data, work, args, deadline):
    cores = os.cpu_count()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = driver_heap()
    # A fixed heap (-Xms = -Xmx) keeps the collector from resizing it
    # differently run to run, which made warm-pass times bimodal; lower JIT
    # thresholds let the cold and warm-up passes reach compiled code.
    cmd = (["java", f"-Xmx{heap}", f"-Xms{heap}", "-XX:CompileThresholdScaling=0.1",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness",
              f"data={data}", f"work={work}", f"cores={cores}",
              f"queries={','.join(wl['queries'])}",
              f"tables={','.join(wl['tables'])}",
              f"seconds={args.seconds}", f"trace={args.trace}"])
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    env["TMPDIR"] = tmp
    with open(os.path.join(work, "harness.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env)
        try:
            p.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("harness exceeded the run deadline")
    if p.returncode != 0:
        sys.stderr.write(open(os.path.join(work, "harness.log")).read()[-6000:])
        raise SystemExit(f"harness exited with {p.returncode}")
    return json.load(open(os.path.join(work, "raw.json")))


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for rel in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            raise SystemExit(f"not a checkout of the library: {rel} is missing")
    workloads = json.load(open(os.path.join(HERE, "workloads.json")))["workloads"]
    if args.workload not in workloads:
        raise SystemExit(f"unknown workload {args.workload}")
    wl = workloads[args.workload]

    cp = classpath()
    deadline = time.monotonic() + DEADLINE_S

    # the generator's source is part of the key: a changed generator never
    # reuses inputs an older one wrote
    key = hashlib.sha256(json.dumps([wl["tables"], wl["sizes"]], sort_keys=True).encode()
                         + open(gen.__file__, "rb").read()).hexdigest()[:10]
    data = os.path.join(WORK, "data", f"{key}-s{args.seed}")
    manifest = gen.write(data, args.seed, wl["sizes"], wl["tables"])

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    t0 = time.monotonic()
    raw = run_harness(cp, wl, data, run_dir, args, deadline)
    t1 = time.monotonic()
    checked = oracle.check(data, os.path.join(run_dir, "check"), raw["oracle_sql"])
    log(f"harness {t1 - t0:.1f} s, oracle {time.monotonic() - t1:.1f} s")
    for q, why in checked.items():
        if why is not None:
            log(f"oracle mismatch {q}: {why}")
    attempted, failed = metrics.failures(raw, checked)
    e2e, info = metrics.end_to_end(raw) if args.trace == 0 else ({}, {})
    layers = metrics.per_layer(raw) if args.trace == 1 else {}
    units = dict(metrics.END_TO_END if args.trace == 0 else metrics.PER_LAYER)
    shown = e2e if args.trace == 0 else layers
    correct = failed == 0

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "command": sys.argv, "nproc": os.cpu_count(),
        "heap": driver_heap(), "inputs": manifest, "correct": correct,
        "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted, "info": info,
        "oracle": checked, "metrics": shown, "raw": raw,
    }
    with open(os.path.join(run_dir, "artifact.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    for k, v in shown.items():
        print(f"{k:28s} {v:16.6g} {units[k]}")
    print(f"{'failed_frac':28s} {failed / attempted:16.6g} ratio")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": units[k]}
                    for k, v in shown.items()},
    }))
    log(f"done in {time.monotonic() - t_start:.1f} s")
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
