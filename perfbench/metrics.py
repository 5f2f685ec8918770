"""Metric definitions and the report of one run.

End-to-end metrics come only from untraced passes. Per-layer metrics
come from traced passes; a per-pass value is the median over the
traced passes of the run. Every per-layer metric is printed on every
workload (0 where its layer does no work there); ``LAYER_TARGETS``
names the end-to-end metric, and the workloads, that each per-layer
metric is expected to move.

The op latencies, ``op_p50_s`` (median latency of one operation) and
``op_tail_s`` (highest percentile of op latency with at least 10
samples beyond it), are printed and written to the detail file but
are not in the result line: a run has only 3 to 10 ops of mixed
kinds, so their median and tail move by up to a quarter between seeds
on an otherwise unchanged host, too much for a regression bound.
"""

from __future__ import annotations

import math
import statistics

END_TO_END = {
    "setup_s": ("s", "session start + table registration + warm-up + state build "
                "(each phase's median over its repeats in the run)"),
    "run_s": ("s", "wall time of one timed pass, median over passes"),
    "peak_rss_mb": ("MB", "peak resident memory of the driver process tree"),
}

# per-layer metric -> (unit, end-to-end metric it should move, workloads)
_ALL = ("batch_sql", "batch_llm", "ivm_steps", "delta_state_loop")
_BATCH = ("batch_sql", "batch_llm")
LAYER_TARGETS = {
    "session.start_s": ("s", "setup_s", _ALL),
    "queries.build_s": ("s", "op_p50_s", _BATCH),
    "queries.build_jobs": ("count", "op_p50_s", _BATCH),
    "sink.exec_s": ("s", "run_s", _BATCH),
    "spark.jobs": ("count", "run_s", _ALL),
    "spark.stages": ("count", "run_s", _ALL),
    "spark.tasks": ("count", "run_s", _ALL),
    "spark.cpu_s": ("s", "run_s", _ALL),
    "spark.run_s": ("s", "run_s", _ALL),
    "spark.idle_core_s": ("s", "run_s", _ALL),
    "spark.shuffle_read_mb": ("MB", "run_s", _ALL),
    "spark.shuffle_write_mb": ("MB", "run_s", _ALL),
    "spark.spill_mb": ("MB", "run_s", _ALL),
    "sources.scan_rows": ("count", "run_s", ("batch_sql", "delta_state_loop")),
    "sources.scan_mb": ("MB", "run_s", ("batch_sql", "delta_state_loop")),
    "sources.files_read": ("count", "run_s", ("batch_sql", "delta_state_loop")),
    "operators.agg_build_s": ("s", "run_s", _BATCH),
    "operators.sort_s": ("s", "run_s", _BATCH),
    "operators.broadcast_build_s": ("s", "run_s", _BATCH),
    "operators.peak_mem_mb": ("MB", "run_s", _BATCH),
    "compiler.parse_s": ("s", "setup_s", ("ivm_steps",)),
    "compiler.construct_s": ("s", "setup_s", ("ivm_steps",)),
    "compiler.recognized_views": ("count", "run_s", ("ivm_steps",)),
    "compiler.naive_views": ("count", "run_s", ("ivm_steps",)),
    "plans.step_call_s": ("s", "op_p50_s", ("ivm_steps",)),
    "plans.emit_s": ("s", "op_p50_s", ("ivm_steps",)),
    "plans.step_jobs": ("count", "op_p50_s", ("ivm_steps",)),
    "plans.plan_nodes": ("count", "op_p50_s", ("ivm_steps",)),
    "plans.delta_rows": ("count", "op_p50_s", ("ivm_steps",)),
    "plans.step_max_s": ("s", "op_tail_s", ("ivm_steps",)),
    "plans.delta_slope_ms_per_krow": ("ms/krow", "run_s", ("ivm_steps",)),
    "plans.step_growth_ms_per_step": ("ms/step", "run_s", ("ivm_steps",)),
    "llm.apply_s": ("s", "op_p50_s", ("delta_state_loop",)),
    "llm.commit_s": ("s", "op_p50_s", ("delta_state_loop",)),
    "llm.retract_s": ("s", "op_p50_s", ("delta_state_loop",)),
    "llm.retract_commit_s": ("s", "op_p50_s", ("delta_state_loop",)),
    "llm.ivf_assign_s": ("s", "op_p50_s", ("delta_state_loop",)),
    "llm.ivf_append_s": ("s", "op_p50_s", ("delta_state_loop",)),
    "llm.ivf_delete_s": ("s", "op_p50_s", ("delta_state_loop",)),
    "llm.ivf_compact_s": ("s", "op_p50_s", ("delta_state_loop",)),
    "llm.ivf_query_s": ("s", "op_p50_s", ("delta_state_loop",)),
    "llm.state_files": ("count", "run_s", ("delta_state_loop",)),
    "llm.state_mb": ("MB", "run_s", ("delta_state_loop",)),
    "llm.tombstones": ("count", "op_tail_s", ("delta_state_loop",)),
    "trace.overhead_s": ("s", "run_s", _ALL),
    "baseline_1core.run_s": ("s", "run_s", ("batch_sql", "ivm_steps")),
}
_SPARK_KEYS = ("jobs", "stages", "tasks", "cpu_s", "run_s", "shuffle_read_mb",
               "shuffle_write_mb", "spill_mb")
_SOURCE_KEYS = ("scan_rows", "scan_mb", "files_read")
_OPERATOR_KEYS = ("agg_build_s", "sort_s", "broadcast_build_s")
_LLM_OPS = ("apply", "commit", "retract", "retract_commit", "ivf_assign", "ivf_append",
            "ivf_delete", "ivf_compact", "ivf_query")


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(samples: list[float]) -> tuple[float, str, int]:
    """(value, percentile label, n): the highest percentile of the
    samples that has at least 10 samples beyond it. With fewer than 11
    samples no percentile qualifies and the maximum is reported."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return (xs[-1] if xs else 0.0), "max", n
    pct = math.floor(1000 * (n - 10) / n) / 10
    # the sample at that percentile has exactly 10 samples above it
    return xs[n - 11], f"p{pct:g}", n


def _fit(points: list[tuple[float, float, float]]) -> tuple[float, float]:
    """Least squares y = a + b*x1 + c*x2; returns (b, c)."""
    import numpy as np

    if len(points) < 3:
        return 0.0, 0.0
    arr = np.array(points, dtype=float)
    design = np.column_stack([np.ones(len(arr)), arr[:, 0], arr[:, 1]])
    coef, *_ = np.linalg.lstsq(design, arr[:, 2], rcond=None)
    return float(coef[1]), float(coef[2])


def _pass_layers(p: dict, spans: list, cores: int) -> dict:
    """Per-layer values of one traced pass."""
    lo, hi = p["spans"]
    window = spans[lo:hi]
    out = {f"spark.{k}": sum(s.stats.get(k, 0.0) for s in window) for k in _SPARK_KEYS}
    out.update({f"sources.{k}": sum(s.stats.get(k, 0.0) for s in window) for k in _SOURCE_KEYS})
    out.update({f"operators.{k}": sum(s.stats.get(k, 0.0) for s in window) for k in _OPERATOR_KEYS})
    out["operators.peak_mem_mb"] = max((s.stats.get("peak_mem_mb", 0.0) for s in window), default=0.0)
    op_wall = sum(o.seconds for o in p["ops"])
    out["spark.idle_core_s"] = op_wall * cores - out["spark.run_s"]

    def dur(name):
        return sum(s.end - s.start for s in window if s.name == name)

    def jobs(name):
        return sum(s.stats.get("jobs", 0.0) for s in window if s.name == name)

    out["queries.build_s"] = dur("queries.build")
    out["queries.build_jobs"] = jobs("queries.build")
    out["sink.exec_s"] = dur("sink.exec")
    out["plans.step_call_s"] = dur("plans.step")
    out["plans.emit_s"] = dur("plans.emit")
    out["plans.step_jobs"] = jobs("plans.step")
    steps = [o for o in p["ops"] if "step" in o.extra]
    out["plans.plan_nodes"] = max((o.extra.get("plan_nodes", 0) for o in steps), default=0)
    out["plans.delta_rows"] = sum(o.extra.get("out_rows", 0) for o in steps)
    out["plans.step_max_s"] = max((o.seconds for o in steps), default=0.0)
    for name in _LLM_OPS:
        out[f"llm.{name}_s"] = sum(o.seconds for o in p["ops"] if o.name == name)
    return out


def _self_times(tracer, passes: list[dict]) -> dict:
    """Self time per span name, summed over the traced passes."""
    acc: dict[str, float] = {}
    for p in passes:
        lo, hi = p["spans"]
        for i in range(lo, hi):
            name = tracer.spans[i].name
            name = "op" if name.startswith("op.") else name
            acc[name] = acc.get(name, 0.0) + tracer.self_time(i)
    return {k: round(v, 4) for k, v in sorted(acc.items(), key=lambda kv: -kv[1])}


def report(workload_name, passes, gate, setup_phases, workload, tracer, rss, cores,
           baseline) -> dict:
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    all_ops = [o for p in passes for o in p["ops"]]
    failed_ops = [o.name for o in all_ops if not o.ok]
    failed_checks = [(n, why) for n, why in gate if why is not None]
    attempted = len(all_ops) + len(gate)
    failed = len(failed_ops) + len(failed_checks)
    lines = [f"workload {workload_name}: {len(untraced)} untraced and {len(traced)} traced "
             f"passes, {len(all_ops)} ops, {len(gate)} oracle checks"]
    for n, why in failed_checks:
        lines.append(f"ORACLE MISMATCH {n}: {why}")
    detail = {
        "setup_phases": setup_phases,
        "gate": [{"check": n, "problem": why} for n, why in gate],
        "passes": [
            {"traced": p["traced"], "wall_s": p["wall"],
             "ops": [{"name": o.name, "s": o.seconds, "ok": o.ok, **o.extra} for o in p["ops"]]}
            for p in passes
        ],
        "failed_frac": failed / attempted,
    }
    if getattr(workload, "plan", None):
        detail["ivm_plan"] = workload.plan
        lines.append(f"plan(): {workload.plan}")
    if getattr(workload, "state_log", None):
        detail["state_log"] = workload.state_log

    if tracer is None:
        ops = [o.seconds for p in untraced for o in p["ops"]]
        tail_v, tail_p, n = tail(ops)
        values = {
            "setup_s": sum(_median(v) for v in setup_phases.values()),
            "run_s": _median(p["wall"] for p in untraced),
            "peak_rss_mb": rss,
        }
        units = {k: u for k, (u, _d) in END_TO_END.items()}
        detail["op_latency"] = {"op_p50_s": _median(ops), "op_tail_s": tail_v,
                                "tail_percentile": tail_p, "samples": n}
        lines.append(f"op_p50_s = {_median(ops):.6g} s; op_tail_s = {tail_v:.6g} s, "
                     f"the {tail_p} of {n} op samples")
        lines.append(f"failed_frac {failed}/{attempted} = {failed / attempted:.4f}")
    else:
        per_pass = [_pass_layers(p, tracer.spans, cores) for p in traced]
        values = {k: _median(pp[k] for pp in per_pass) for k in per_pass[0]}
        values["session.start_s"] = setup_phases["session"][0]
        comp = getattr(workload, "compiler", {"parse_s": [], "construct_s": []})
        values["compiler.parse_s"] = _median(comp["parse_s"])
        values["compiler.construct_s"] = _median(comp["construct_s"])
        plan = getattr(workload, "plan", {}) or {}
        values["compiler.recognized_views"] = sum(1 for k in plan.values() if k != "naive")
        values["compiler.naive_views"] = sum(1 for k in plan.values() if k == "naive")
        pts = [(o.extra["delta_rows"] / 1000.0, o.extra["step"], o.seconds * 1000.0)
               for p in traced for o in p["ops"] if "step" in o.extra]
        slope, growth = _fit(pts)
        values["plans.delta_slope_ms_per_krow"] = slope
        values["plans.step_growth_ms_per_step"] = growth
        last = (getattr(workload, "state_log", None) or [{}])[-1]
        values["llm.state_files"] = last.get("state_files", 0)
        values["llm.state_mb"] = last.get("state_mb", 0.0)
        values["llm.tombstones"] = last.get("tombstones", 0)
        values["trace.overhead_s"] = (
            _median(p["wall"] for p in traced) - _median(p["wall"] for p in untraced)
        )
        values["baseline_1core.run_s"] = baseline["run_s"] if baseline else 0.0
        values = {k: values[k] for k in LAYER_TARGETS}
        units = {k: u for k, (u, _t, _w) in LAYER_TARGETS.items()}
        detail["self_time_s"] = _self_times(tracer, traced)
        detail["baseline_1core"] = baseline
        detail["layer_targets"] = {
            k: {"moves": t, "workloads": list(w)} for k, (_u, t, w) in LAYER_TARGETS.items()
        }
        lines.append("self time by span (s): " + ", ".join(
            f"{k} {v}" for k, v in list(detail["self_time_s"].items())[:8]))
        applies = [k for k, (_u, _t, w) in LAYER_TARGETS.items() if workload_name in w]
        lines.append(f"layer metrics that apply to {workload_name}: {', '.join(applies)}")
    for k, v in values.items():
        lines.append(f"{k} = {v:.6g} {units[k]}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }
    return {"result": result, "detail": detail, "lines": lines}
