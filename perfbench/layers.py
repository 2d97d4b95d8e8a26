"""Per-layer metrics of a traced run: names, units and how each is
derived from the spans, the boundary counters and Spark's status store.

Every value is per timed round of the traced phase (totals divided by
the number of rounds), so runs of different lengths compare.  A layer a
workload does not reach reports 0.
"""

from __future__ import annotations

import gen
from spans import OPERATOR_FNS

# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "lower"),
    "session.warm_s": ("s", "lower"),
    "sources.discover_s": ("s", "lower"),
    "sources.files": ("count", "lower"),
    "sources.probe_s": ("s", "lower"),
    "sources.probe_jobs": ("count", "lower"),
    "plans.unify_s": ("s", "lower"),
    "plans.align_s": ("s", "lower"),
    "plans.read_groups": ("count", "lower"),
    "engine.run_self_s": ("s", "lower"),
    "engine.passthrough_frac": ("ratio", "higher"),
    "sinks.write_s": ("s", "lower"),
    "sinks.transcode_s": ("s", "lower"),
    "sinks.files_out": ("count", "lower"),
    "sinks.out_per_in": ("ratio", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.trigger_s": ("s", "lower"),
    "streaming.commit_s": ("s", "lower"),
    "gate.llm.build_s": ("s", "lower"),
    "gate.llm.exec_s": ("s", "lower"),
    "gate.rel.build_s": ("s", "lower"),
    "gate.rel.exec_s": ("s", "lower"),
    **{f"gate.{g}.{p}_s": ("s", "lower")
       for g in gen.LLM_GATES for p in ("build", "exec")},
    **{f"op.{f}.{k}": (u, "lower")
       for f in OPERATOR_FNS for k, u in (("s", "s"), ("calls", "count"))},
    "staging.count": ("count", "lower"),
    "staging.rows": ("count", "lower"),
    "staging.mb": ("MB", "lower"),
    "staging.partitions": ("count", "lower"),
    "concurrency.calls": ("count", "lower"),
    "concurrency.branches": ("count", "lower"),
    "concurrency.overlap": ("ratio", "higher"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.run_s": ("s", "lower"),
    "spark.cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.busy_frac": ("ratio", "higher"),
    "cand.rows": ("count", "lower"),
    "ops_failed_frac": ("ratio", "lower"),
    "overhead.bulk_s": ("s", "lower"),
    "overhead.small_s": ("s", "lower"),
    "overhead.bulk_cpu_s": ("s", "lower"),
    "overhead.small_cpu_s": ("s", "lower"),
}

# span name -> layer metric fed by the span's self time
SELF_TIME = {
    "Engine.discover": "sources.discover_s",
    "Engine.probe_schemas": "sources.probe_s",
    "unify_schemas": "plans.unify_s",
    "concat_aligned": "plans.align_s",
    "Engine.run": "engine.run_self_s",
    "StreamEngine.run": "engine.run_self_s",
    "write_parquet": "sinks.write_s",
    "write_csv": "sinks.write_s",
    "transcode_parquet": "sinks.transcode_s",
}


def per_layer(run, tracer, session: dict, overhead: dict) -> dict[str, dict]:
    rounds = max(1, len(run.rounds.get("traced", {}).get("bulk", {}).get("s", [])))
    times = tracer.layer_times()
    v = dict.fromkeys(PER_LAYER, 0.0)
    for span, metric in SELF_TIME.items():
        v[metric] += times.get(f"{span}.self_s", 0.0)
    for f in OPERATOR_FNS:
        v[f"op.{f}.s"] = times.get(f"{f}.self_s", 0.0)
        v[f"op.{f}.calls"] = times.get(f"{f}.calls", 0.0)
    for k, x in {**tracer.counts, **run.layer}.items():
        if k in v:
            v[k] += x
    runs = times.get("Engine.run.calls", 0.0)
    if runs:
        v["engine.passthrough_frac"] = times.get("transcode_parquet.calls", 0.0) / runs
    if run.layer.get("sinks.bytes_in"):
        v["sinks.out_per_in"] = run.layer["sinks.bytes_out"] / run.layer["sinks.bytes_in"]
    if tracer.counts.get("concurrency.wall_s"):
        v["concurrency.overlap"] = (
            tracer.counts["concurrency.branch_s"] / tracer.counts["concurrency.wall_s"]
        )
    wall = sum(o["s"] for o in run.ops if o["phase"] == "traced")
    if wall:
        v["spark.busy_frac"] = v["spark.run_s"] / (wall * 4)
    # totals become per-round figures; ratios and set-up times stay as is
    ratios = {"engine.passthrough_frac", "sinks.out_per_in", "concurrency.overlap",
              "spark.busy_frac", "ops_failed_frac"}
    for k in v:
        if k not in ratios and not k.startswith(("session.", "overhead.")):
            v[k] /= rounds
    v["session.start_s"] = session["start_s"]
    v["session.warm_s"] = session["warm_s"]
    for k, x in overhead.items():
        v[f"overhead.{k}"] = x
    failed = sum(1 for o in run.ops if o["error"])
    v["ops_failed_frac"] = failed / max(1, len(run.ops))
    return {k: {"value": x, "unit": PER_LAYER[k][0]} for k, x in v.items()}
