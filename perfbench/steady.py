#!/usr/bin/env python3
"""Steadiness check: is the benchmark's spread within its own bounds?

    python3 perfbench/steady.py run --workload W --seeds 1-10 [--out set.json]
    python3 perfbench/steady.py compare first.json second.json

`run` runs `run.py` once per seed (trace off) and reports, for every
end-to-end metric, the median, the quartiles of
`statistics.quantiles(values, n=4)` and the spread (q3 - q1) / median
next to the metric's bound in BENCHMARK.json. `compare` says whether the
second set's median is worse than the first's by more than the bound.
Both exit 1 when a check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


NOTE = ("comparable only with runs on the same host, cores and heap; not with "
        "the 32-core round-19 or 100x v14 artifacts at the repo root")


def host():
    """CPU model and memory of the machine the runs measured."""
    try:
        info = open("/proc/cpuinfo").read()
        model = next(ln.split(":", 1)[1].strip() for ln in info.splitlines()
                     if ln.startswith("model name"))
        kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo")
                  if ln.startswith("MemTotal:"))
        return f"{model}, {os.cpu_count()} cores, {kb / 1048576:.0f} GiB"
    except (OSError, StopIteration):
        return "unknown"


def bench():
    return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += range(int(a), int(b or a) + 1)
    return out


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "values": values}


def cmd_run(a):
    b = bench()
    runs = []
    for s in seeds(a.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(a.seconds or b["run_seconds"]),
                            "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
        res = json.loads(last)
        if r.returncode != 0 or not res.get("correct"):
            sys.stderr.write(r.stderr[-3000:])
            raise SystemExit(f"seed {s}: run failed (exit {r.returncode})")
        runs.append({k: v["value"] for k, v in res["metrics"].items()})
        print(f"seed {s}: " + " ".join(f"{k}={v:.4g}" for k, v in runs[-1].items()),
              file=sys.stderr, flush=True)
    wl = json.load(open(os.path.join(HERE, "workloads.json")))["workloads"][a.workload]
    out = {"workload": a.workload, "seeds": seeds(a.seeds),
           "command": ["python3", "perfbench/run.py", "--workload", a.workload,
                       "--seed", "<seed>", "--seconds", str(a.seconds or b["run_seconds"]),
                       "--trace", "0"],
           "nproc": os.cpu_count(), "heap": run.driver_heap(), "host": host(),
           "sizes": wl["sizes"], "queries": wl["queries"],
           "note": NOTE,
           "metrics": {}}
    ok = True
    for m in b["end_to_end"]:
        s = summarize([r[m["name"]] for r in runs])
        s["bound"] = m["bound"]
        s["ok"] = s["spread"] <= m["bound"]
        s["steady"] = s["spread"] < m["bound"] / 3
        ok &= s["ok"]
        out["metrics"][m["name"]] = s
        print(f"{m['name']:18s} median {s['median']:12.5g}  q1 {s['q1']:12.5g}  "
              f"q3 {s['q3']:12.5g}  spread {s['spread']:.3f}  bound {m['bound']}"
              f"  {'ok' if s['ok'] else 'TOO WIDE'}{'' if s['steady'] else ' (above bound/3)'}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(out, f, indent=1)
    return ok


def cmd_compare(a):
    b = {m["name"]: m for m in bench()["end_to_end"]}
    first, second = json.load(open(a.first)), json.load(open(a.second))
    ok = True
    for name, m in b.items():
        m1, m2 = first["metrics"][name]["median"], second["metrics"][name]["median"]
        worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
        good = worse <= m["bound"]
        ok &= good
        print(f"{name:18s} {m1:12.5g} -> {m2:12.5g}  worse by {worse:+.3f}"
              f"  bound {m['bound']}  {'ok' if good else 'REGRESSION'}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=int)
    r.add_argument("--out")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = ap.parse_args()
    sys.exit(0 if (cmd_run(a) if a.cmd == "run" else cmd_compare(a)) else 1)


if __name__ == "__main__":
    main()
