"""Turns the harness's raw measurements into the benchmark's metrics.

End-to-end metrics come from every run; per-layer metrics from the traced
warm passes of a `--trace 1` run. A step (one query execution, or the
corpus write) fails when it throws, when its output digest differs from
the checked result's, when the oracle rejects that result, or, for the
write, when the read-back row count differs. Failed steps count in
`failed` and their times are left out of every timing.
"""
import statistics

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("cold_pass_s", "s"), ("pass_s", "s"),
    ("query_p50_s", "s"), ("query_max_s", "s"),
    ("input_rows_per_s", "rows/s"), ("cpu_s", "CPU-s"),
    ("peak_heap_mb", "MB"),
]

KERNEL_FAMILIES = ["catch22", "kde", "lyap_e"]

PER_LAYER = [  # name, unit
    ("api.plan_s", "s"), ("api.eager_jobs", "count"), ("plan.catalyst_s", "s"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.task_failures", "count"), ("sched.idle_slot_frac", "ratio"),
    ("scan.count", "count"), ("scan.rows", "rows"), ("scan.bytes", "bytes"),
    ("scan.s", "s"),
    ("segment.rows_in", "rows"), ("segment.rows_out", "rows"),
    ("segment.fanout", "ratio"), ("segment.kept_frac", "ratio"),
    ("exchange.count", "count"), ("exchange.write_bytes", "bytes"),
    ("exchange.read_bytes", "bytes"), ("exchange.write_s", "s"),
    ("exchange.fetch_wait_s", "s"), ("exchange.broadcast_count", "count"),
    ("exchange.broadcast_bytes", "bytes"), ("join.smj_count", "count"),
    ("join.bhj_count", "count"), ("join.out_over_in", "ratio"),
    ("agg.s", "s"), ("sort.s", "s"), ("stage.pipeline_s", "s"),
    ("spill.bytes", "bytes"), ("mem.peak_exec_bytes", "bytes"),
    ("pinned.checkpoints", "count"), ("pinned.bytes", "bytes"),
    ("expr.kernel_s", "s"),
] + [(f"expr.{f}_s", "s") for f in KERNEL_FAMILIES] + [
    ("output.rows", "rows"), ("output.write_bytes", "bytes"),
    ("output.write_s", "s"),
    ("jvm.gc_s", "s"), ("jvm.codegen_s", "s"), ("jvm.codegen_warm_compiles", "count"),
    ("trace.overhead", "ratio"),
]


def failures(raw, oracle_result):
    """Marks every step of every pass ok/failed; returns (attempted, failed)."""
    checked = raw["check"]
    sink = {c["pass"]: c for c in raw.get("sink_check", [])}
    attempted = failed = 0
    for p in raw["passes"]:
        for s in p["steps"]:
            q = s["query"]
            bad = not s["ok"]
            if not bad and q in checked:
                c = checked[q]
                bad = (not c["ok"] or oracle_result.get(q) is not None
                       or (not p["cold"] and c["digest"] != s["digest"]))
            elif not bad:  # the corpus write
                c = sink.get(p["pass"])
                bad = c is None or c["read_back"] != c["expected"]
            s["failed"] = bad
            attempted += 1
            failed += bad
    return attempted, failed


def end_to_end(raw):
    warm = [p for p in raw["passes"]
            if not p["cold"] and not p["warmup"] and not p["traced"]]
    clean = [p for p in warm if not any(s["failed"] for s in p["steps"])]
    cold = raw["passes"][0]
    steps = [s["wall_s"] for p in warm for s in p["steps"] if not s["failed"]]
    by_query = {}
    for p in warm:
        for s in p["steps"]:
            if not s["failed"]:
                by_query.setdefault(s["query"], []).append(s["wall_s"])
    pass_s = statistics.median(p["wall_s"] for p in clean) if clean else float("nan")
    m = {
        "setup_s": raw["setup_s"],
        "cold_pass_s": cold["wall_s"],
        "pass_s": pass_s,
        "query_p50_s": statistics.median(steps) if steps else float("nan"),
        "query_max_s": max((statistics.median(v) for v in by_query.values()),
                           default=float("nan")),
        "input_rows_per_s": raw["input_rows"] / pass_s,
        "cpu_s": statistics.median(p["cpu_s"] for p in clean) if clean else float("nan"),
        "peak_heap_mb": raw["peak_heap_mb"],
    }
    info = {"query_samples": len(steps), "warm_passes": len(warm)}
    return m, info


def per_layer(raw):
    traced = [p for p in raw["passes"] if not p["cold"] and p["traced"]]
    plain = [p for p in raw["passes"]
             if not p["cold"] and not p["warmup"] and not p["traced"]]
    cores = raw["cores"]

    def mean(k):
        return statistics.fmean(p["layers"][k] for p in traced)

    def ratio(a, b):
        return a / b if b else 0.0

    m = {k: mean(k) for k, _ in PER_LAYER if k in traced[0]["layers"]}
    m["sched.idle_slot_frac"] = 1.0 - ratio(
        mean("sched.action_task_s"), cores * mean("sched.action_wall_s"))
    m["segment.fanout"] = ratio(mean("segment.rows_out"), mean("segment.rows_in"))
    m["segment.kept_frac"] = ratio(mean("segment.rows_kept"), mean("segment.rows_out"))
    m["join.out_over_in"] = ratio(mean("join.rows_out"), mean("join.rows_in"))
    for f in KERNEL_FAMILIES:
        m[f"expr.{f}_s"] = raw["expr"].get(f, 0.0)
    m["expr.kernel_s"] = sum(raw["expr"].values())
    m["jvm.codegen_s"] = raw["passes"][0]["compile_s"]
    m["jvm.codegen_warm_compiles"] = sum(p["compiles"] for p in traced + plain)
    m["trace.overhead"] = ratio(statistics.median(p["wall_s"] for p in traced),
                                statistics.median(p["wall_s"] for p in plain))
    return {k: m[k] for k, _ in PER_LAYER}
