"""Turn one run's raw record into the benchmark's metrics.

End-to-end metrics are defined for every workload (see README.md for
what each means per workload); per-layer metrics of a layer a workload
does not exercise read 0.
"""
from . import checkpoint, stats
from .modules import MODULES

END_TO_END = {  # name -> unit
    "setup_s": "s", "latency_p50_s": "s", "latency_p75_s": "s",
    "throughput_per_s": "1/s", "busy_s": "s", "read_back_s": "s",
    "peak_rss_mb": "MB", "ok_share": "ratio",
}

SPARK = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "compute_share",
         "max_task_share", "shuffle_write_bytes", "shuffle_read_bytes",
         "spill_bytes", "peak_exec_mem_bytes")
MODULE_METRICS = ("wall_s", "construct_s", "plan_ms", "jobs", "tasks",
                  "task_cpu_s", "shuffle_bytes", "max_task_share")

PER_LAYER = {  # name -> unit
    "sources.list_ms_p50": "ms", "sources.files_per_batch": "count",
    "sources.rows_per_batch": "count",
    "pipeline.add_batch_ms_p50": "ms", "pipeline.add_batch_ms_p90": "ms",
    "pipeline.plan_ms_p50": "ms", "pipeline.commit_ms_p50": "ms",
    "pipeline.batches": "count", "pipeline.dlq_rows": "count",
    "cdc.parse_s_per_batch": "s",
    "sinks.upsert_s_p50": "s", "sinks.state_rows_written_per_batch": "count",
    "sinks.write_amplification": "ratio", "sinks.state_bytes": "bytes",
    "sinks.state_files": "count",
    **{f"spark.{m}": ("s" if m.endswith("_s") else "ratio" if m.endswith("share")
                      else "bytes" if m.endswith("bytes") else "count") for m in SPARK},
    **{f"{mod}.{m}": ("s" if m.endswith("_s") else "ms" if m.endswith("_ms")
                      else "ratio" if m.endswith("share")
                      else "bytes" if m.endswith("bytes") else "count")
       for mod in MODULES for m in MODULE_METRICS},
    "generator.late_ms_max": "ms", "generator.latency_drift": "ratio",
    "latency.samples": "count",
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}


def _p(values, q):
    return stats.percentile(values, q) if values else 0.0


def _sum_ledger(entries):
    tot = {}
    for e in entries:
        for k, v in e.items():
            tot[k] = tot.get(k, 0) + v
    return tot


def _spark(entries, wall_s, cpus):
    tot = _sum_ledger(entries)
    shares = [e["max_task_ms"] / e["task_run_ms"] for e in entries if e.get("task_run_ms")]
    cpu_s = tot.get("task_cpu_ns", 0) / 1e9
    return {
        "jobs": tot.get("jobs", 0), "stages": tot.get("stages", 0), "tasks": tot.get("tasks", 0),
        "task_run_s": tot.get("task_run_ms", 0) / 1e3, "task_cpu_s": cpu_s,
        "compute_share": cpu_s / (wall_s * cpus) if wall_s > 0 else 0.0,
        "max_task_share": _p(shares, 0.5),
        "shuffle_write_bytes": tot.get("shuffle_write_bytes", 0),
        "shuffle_read_bytes": tot.get("shuffle_read_bytes", 0),
        "spill_bytes": tot.get("spill_bytes", 0),
        "peak_exec_mem_bytes": max([e.get("peak_exec_mem_bytes", 0) for e in entries] or [0]),
    }


def stream(raw, source_log, attempted, failed):
    """(end-to-end, per-layer) for a stream workload."""
    drops = raw["drops"]
    applied = checkpoint.attribute(drops, source_log, raw["progress"])
    timed = [(d, p) for d, p in zip(drops, applied) if d["timed"]]
    missing = [d["name"] for d, p in timed if p is None]
    if missing:
        raise RuntimeError(f"{len(missing)} timed drops have no committed batch, e.g. {missing[:3]}")
    lat = [(checkpoint.commit_ms(p) - d["due_ms"]) / 1e3 for d, p in timed]
    batches = {}
    for _, p in timed:
        batches[p["batchId"]] = p
    batches = [batches[b] for b in sorted(batches)]
    dur = [p["durationMs"] for p in batches]
    window_s = (raw["timed_end_ms"] - raw["timed_start_ms"]) / 1e3
    events = sum(d["events"] for d, _ in timed)
    busy = sum(x.get("triggerExecution", 0) for x in dur) / 1e3
    e2e = {
        "setup_s": (raw["timed_start_ms"] - raw["jvm_start_ms"]) / 1e3,
        "latency_p50_s": _p(lat, 0.5), "latency_p75_s": _p(lat, 0.75),
        "throughput_per_s": events / window_s,
        "busy_s": busy, "read_back_s": stats.median(raw["scan_s"]),
        "peak_rss_mb": raw["peak_rss_mb"], "ok_share": 1.0 - failed / attempted,
    }

    files_per = {}
    for name, b in source_log.items():
        files_per[b] = files_per.get(b, 0) + 1
    ledger = raw.get("ledger", {})
    keys = [ledger[f"batch:{p['batchId']}"] for p in batches if f"batch:{p['batchId']}" in ledger]
    written = sum(k.get("records_written", 0) for k in keys)
    # events the timed batches applied; numInputRows counts each re-read of
    # the micro-batch (the DLQ write and the upsert both scan it)
    rows = sum(d["events"] for d, _ in timed)
    late = [d["written_ms"] - d["due_ms"] for d, _ in timed]
    layer = {k: 0 for k in PER_LAYER if not k.startswith("traced.")}
    layer.update({
        "sources.list_ms_p50": _p([x.get("latestOffset", 0) + x.get("getBatch", 0) for x in dur], 0.5),
        "sources.files_per_batch": stats.mean(
            [files_per.get(checkpoint.log_offset(p["sources"][0]["endOffset"]), 0) for p in batches]),
        "sources.rows_per_batch": rows / len(batches),
        "pipeline.add_batch_ms_p50": _p([x.get("addBatch", 0) for x in dur], 0.5),
        "pipeline.add_batch_ms_p90": _p([x.get("addBatch", 0) for x in dur], 0.9),
        "pipeline.plan_ms_p50": _p([x.get("queryPlanning", 0) for x in dur], 0.5),
        "pipeline.commit_ms_p50": _p([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in dur], 0.5),
        "pipeline.batches": len(batches), "pipeline.dlq_rows": len(raw["dlq"]),
        "cdc.parse_s_per_batch": _p(raw.get("replay_parse_s", []), 0.5),
        "sinks.upsert_s_p50": _p(raw.get("replay_upsert_s", []), 0.5),
        "sinks.state_rows_written_per_batch": written / len(batches),
        "sinks.write_amplification": written / rows,
        "sinks.state_bytes": raw["state_bytes"], "sinks.state_files": raw["state_files"],
        **{f"spark.{k}": v for k, v in _spark(keys, window_s, raw["cpus"]).items()},
        "generator.late_ms_max": max(late),
        "generator.latency_drift": stats.quarter_drift(lat),
        "latency.samples": len(lat),
    })
    return e2e, layer


def batch(raw, groups, attempted, failed):
    """(end-to-end, per-layer) for batch_mix; `groups` maps query -> module.
    A query's wall is its median over the timed passes, so one pass slowed
    by the host does not move it; busy_s is the sum of those medians.
    Per-layer work is summed per pass and reported as the mean over passes."""
    walls = raw["walls"]
    per_query = {}
    for w in walls:
        per_query.setdefault(w["query"], []).append((w["end_ms"] - w["start_ms"]) / 1e3)
    wall_of = {q: stats.median(v) for q, v in per_query.items()}
    lat = list(wall_of.values())
    passes = sorted({w.get("pass", 0) for w in walls})
    busy = sum(lat)
    e2e = {
        "setup_s": (raw["timed_start_ms"] - raw["jvm_start_ms"]) / 1e3,
        "latency_p50_s": _p(lat, 0.5), "latency_p75_s": _p(lat, 0.75),
        "throughput_per_s": len(lat) / busy, "busy_s": busy,
        "read_back_s": stats.median(raw["scan_s"]),
        "peak_rss_mb": raw["peak_rss_mb"], "ok_share": 1.0 - failed / attempted,
    }
    ledger = raw.get("ledger", {})
    plans = raw.get("plans", [])
    rows = []  # (module, wall, ledger entry, plan ms) per timed query run
    for w in walls:
        entry = ledger.get(f"group:timed:{w.get('pass', 0)}:{w['query']}", {})
        plan_ms = sum(p["plan_ms"] for p in plans if w["start_ms"] <= p["start_ms"] <= w["end_ms"])
        rows.append((groups.get(w["query"]), w, entry, plan_ms))
    n = len(passes)
    layer = {k: 0 for k in PER_LAYER if not k.startswith("traced.")}
    spark = _spark([e for _, _, e, _ in rows if e], busy * n, raw["cpus"])
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        spark[k] /= n
    layer.update({f"spark.{k}": v for k, v in spark.items()})
    for mod in MODULES:
        mine = [r for r in rows if r[0] == mod]
        entries = [e for _, _, e, _ in mine if e]
        tot = _sum_ledger(entries)
        shares = [e["max_task_ms"] / e["task_run_ms"] for e in entries if e.get("task_run_ms")]
        layer.update({
            f"{mod}.wall_s": sum(x for q, x in wall_of.items() if groups.get(q) == mod),
            f"{mod}.construct_s": sum(w["construct_ms"] / 1e3 for _, w, _, _ in mine) / n,
            f"{mod}.plan_ms": sum(p for _, _, _, p in mine) / n,
            f"{mod}.jobs": tot.get("jobs", 0) / n, f"{mod}.tasks": tot.get("tasks", 0) / n,
            f"{mod}.task_cpu_s": tot.get("task_cpu_ns", 0) / 1e9 / n,
            f"{mod}.shuffle_bytes": tot.get("shuffle_write_bytes", 0) / n,
            f"{mod}.max_task_share": _p(shares, 0.5),
        })
    layer["latency.samples"] = len(lat)
    return e2e, layer
