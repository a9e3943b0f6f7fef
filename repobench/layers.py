"""Per-layer metrics of a traced run: spans, the Spark event log and
the workload's direct probes, reduced to the names in PER_LAYER."""

from __future__ import annotations

import os

from . import measure, trace

# every per-layer metric a traced run prints, with its unit
PER_LAYER = {
    "kernel.forward_ns_per_row": "ns",
    "kernel.backward_ns_per_row": "ns",
    "mesh.point_to_digits_ns_per_row": "ns",
    "mesh.quadkey_ns_per_row": "ns",
    "grid.parse_s": "s",
    "grid.nodes": "count",
    "grid.broadcast_bytes": "B",
    "grid.lookup_ns_per_row": "ns",
    "engine.python_boot_s": "s",
    "engine.python_run_s": "s",
    "engine.arrow_mb_to_python": "MB",
    "engine.arrow_mb_from_python": "MB",
    "engine.build_s": "s",
    "spatial.cover_rows": "count",
    "spatial.cover_s": "s",
    "spatial.candidate_rows": "count",
    "spatial.hit_rows": "count",
    "spatial.hit_ratio": "ratio",
    "spatial.knn_ns_per_row": "ns",
    "spatial.salted_task_skew": "ratio",
    "plans.plan_s": "s",
    "plans.newton_sql_plan_s": "s",
    "plans.pip_sql_plan_nodes": "count",
    "pages.extract_s": "s",
    "pages.text_mismatch_rows": "count",
    "sink.write_s": "s",
    "sink.metrics_s": "s",
    "sink.resume_s": "s",
    "sink.bytes_per_row": "B",
    "sink.files_written": "count",
    "dedup.minhash_s": "s",
    "dedup.minhash_candidate_rows": "count",
    "dedup.minhash_pair_ratio": "ratio",
    "dedup.components_s": "s",
    "dedup.components_shuffle_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.cpu_busy_ratio": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.cached_rdds": "count",
    **{f"spark.plan.{k}": "count" for k in trace.CENSUS},
    "op.ingest_s": "s",
    "op.resume_s": "s",
    "op.roundtrip_s": "s",
    "op.pip_broadcast_s": "s",
    "op.pip_salted_s": "s",
    "op.pip_sql_s": "s",
    "op.knn_s": "s",
    "status.ok": "count",
    "status.out_of_bounds": "count",
    "status.param_not_found": "count",
    "status.corr_not_found": "count",
    "status.roundtrip_inexact": "count",
    "setup.cold_s": "s",
    "host.calib_ms": "ms",
    "wall.rows_per_s": "1/s",
    "jvm.jit_cpu_s": "s",
    "trace.overhead_ratio": "ratio",
}
OPS = ("ingest", "resume", "roundtrip", "pip_broadcast", "pip_salted", "pip_sql", "knn")
JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")


def op_key(timed: set[int]):
    """Event-log description -> op key: ``pass:<op>`` for timed passes,
    ``probe:<name>`` for layer probes, None otherwise."""
    def key_of(desc):
        if not desc or not desc.startswith("rb:"):
            return None
        _, p, op = desc.split(":", 2)
        if int(p) < 0:
            return f"probe:{op}"
        return f"pass:{op}" if int(p) in timed else None
    return key_of


def _spans_in(tracer, name: str, traced_passes: set[int]) -> float:
    """Summed duration of ``name`` spans inside the given passes."""
    spans = tracer.spans
    total = 0.0
    for s in spans:
        if s["name"] != name:
            continue
        q = s
        while q["parent"] is not None and q["name"] != "pass":
            q = spans[q["parent"]]
        if q["name"] == "pass" and q["attrs"]["p"] in traced_passes:
            total += s["end"] - s["start"]
    return total


def layer_metrics(ctx, wl, log, info: dict, results: dict) -> dict:
    """Name -> (value, unit) for every PER_LAYER metric."""
    timed = sorted({e["pass"] for e in log.ops})
    n = len(timed)
    passes = {x["p"]: x for x in info["passes"]}
    traced_passes = {p for p in timed if passes[p]["spans"]}
    out = wl.layer_probes()
    ctx.spark.sparkContext.setLocalProperty("spark.job.description", None)
    red = trace.reduce_eventlog(trace.read_eventlog(os.path.join(ctx.work, "eventlog")),
                                op_key(set(timed)))
    ops, execs, accum = red["ops"], red["executions"], red["accum"]
    info["eventlog"] = {k: {"jobs": o.jobs, "tasks": o.tasks, "py": dict(o.py),
                            "stage_tasks": {str(s): len(v) for s, v in o.stage_tasks.items()}}
                        for k, o in ops.items()}
    pass_ops = [o for k, o in ops.items() if k.startswith("pass:")]

    def per_pass(fn) -> float:
        return sum(fn(o) for o in pass_ops) / n

    walls = [passes[p]["wall_s"] for p in timed]
    out.update({
        "engine.python_boot_s": per_pass(lambda o: o.py["py_start_ms"]) / 1e3,
        "engine.python_run_s": per_pass(lambda o: o.py["py_run_ms"]) / 1e3,
        "engine.arrow_mb_to_python": per_pass(lambda o: o.py["py_bytes_to"]) / 2**20,
        "engine.arrow_mb_from_python": per_pass(lambda o: o.py["py_bytes_from"]) / 2**20,
        "engine.build_s": _spans_in(ctx.tracer, "build", traced_passes) / max(len(traced_passes), 1),
        "plans.plan_s": measure.median([passes[p]["plan_s"] for p in timed]),
        "spark.executor_run_s": per_pass(lambda o: o.run_ms) / 1e3,
        "spark.executor_cpu_s": per_pass(lambda o: o.cpu_ns) / 1e9,
        "spark.gc_s": per_pass(lambda o: o.gc_ms) / 1e3,
        "spark.cpu_busy_ratio": per_pass(lambda o: o.cpu_ns) / 1e9
        / (ctx.slots * measure.median(walls)),
        "spark.jobs": per_pass(lambda o: o.jobs),
        "spark.tasks": per_pass(lambda o: o.tasks),
        "spark.task_failures": per_pass(lambda o: o.task_failures),
        "spark.shuffle_write_mb": per_pass(lambda o: o.shuffle_write) / 2**20,
        "spark.shuffle_read_mb": per_pass(lambda o: o.shuffle_read) / 2**20,
        "spark.shuffle_fetch_wait_s": per_pass(lambda o: o.fetch_wait_ms) / 1e3,
        "spark.cached_rdds": per_pass(lambda o: len(o.cached_rdds)),
        "setup.cold_s": info["cold_setup_s"],
        "host.calib_ms": measure.median([passes[p]["host_ms"] for p in timed]),
        "wall.rows_per_s": measure.median([wl.rows / w for w in walls]),
        "jvm.jit_cpu_s": measure.median([passes[p]["jit_s"] for p in timed]),
    })
    census = dict.fromkeys(trace.CENSUS, 0)
    for o in pass_ops:
        for eid in o.executions:
            for k, v in trace.census(execs[eid]["plan"]).items():
                census[k] += v
    out.update({f"spark.plan.{k}": v / n for k, v in census.items()})
    for op in OPS:
        s = log.seconds(op)
        out[f"op.{op}_s"] = measure.median(s) if s else 0.0
    with_spans = [passes[p]["wall_s"] for p in traced_passes]
    without = [passes[p]["wall_s"] for p in timed if p not in traced_passes]
    out["trace.overhead_ratio"] = (measure.median(with_spans) / measure.median(without)
                                   if with_spans and without else 1.0)

    # dedup probe executions
    mh = ops.get("probe:minhash")
    cand = sum(trace.output_rows(execs[e], accum, JOIN_NODES) for e in mh.executions) if mh else 0
    out["dedup.minhash_candidate_rows"] = cand
    out["dedup.minhash_pair_ratio"] = out.pop("_minhash_pairs", 0) / cand if cand else 0.0
    comp = ops.get("probe:components")
    out["dedup.components_shuffle_mb"] = comp.shuffle_write / 2**20 if comp else 0.0

    # sink: the partitioned write inside run_checkpointed vs the rest
    ing = ops.get("pass:ingest")
    if ing is not None:
        write_ms = sum(execs[e]["end"] - execs[e]["start"] for e in ing.executions
                       if execs[e]["end"] is not None and any(
                           nd["nodeName"].startswith("Execute InsertIntoHadoopFsRelationCommand")
                           for nd in trace.walk(execs[e]["plan"])))
        sink_s = sum(results[(p, "ingest")]["sink_s"] for p in timed)
        out["sink.write_s"] = write_ms / 1e3 / n
        out["sink.metrics_s"] = (sink_s - write_ms / 1e3) / n
        out["sink.resume_s"] = measure.median(log.seconds("resume"))
    else:
        out.update({"sink.write_s": 0.0, "sink.metrics_s": 0.0, "sink.resume_s": 0.0})

    # salted path: skew of its task times; SQL path: plan size
    sal = ops.get("pass:pip_salted")
    skews = [max(d) / max(measure.median(d), 1)
             for d in (sal.stage_tasks.values() if sal else []) if len(d) > 1]
    out["spatial.salted_task_skew"] = max(skews) if skews else 0.0
    sq = ops.get("pass:pip_sql")
    out["plans.pip_sql_plan_nodes"] = max(
        (trace.plan_nodes(execs[e]["plan"]) for e in sq.executions), default=0) if sq else 0

    missing = set(PER_LAYER) - set(out)
    if missing:
        raise RuntimeError(f"per-layer metrics not produced: {sorted(missing)}")
    return {k: (out[k], PER_LAYER[k]) for k in PER_LAYER}
