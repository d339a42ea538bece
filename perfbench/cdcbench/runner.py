"""One benchmark run: set up, generate inputs, measure, verify, report."""

from __future__ import annotations

import json
import math
import os
import statistics
import time

from . import layers, machine
from .trace import Tracer
from .workloads import WORKLOADS, _quantile, _untraced, clean_work

# End-to-end metrics: name -> unit. Every workload reports every one.
END_TO_END = {
    "setup_s": "s",
    "apply_events_per_s": "events/s",
    "latency_p50_ms": "ms",
    "compact_s": "s",
    "full_read_s": "s",
}

# Per-layer metrics reported in the traced run's JSON line: the ones
# every workload exercises. The per-layer table file holds all of them.
PER_LAYER = [
    "pipeline.apply_batch.ms",
    "pipeline.apply_batch.self_ms",
    "pipeline.infer_payload_schema.ms",
    "feed.scan_ms",
    "filters.exec_ms",
    "pipeline.normalize.exec_ms",
    "transform.exec_ms",
    "dedup.exec_ms",
    "laketable.merge.ms",
    "laketable.merge.self_ms",
    "laketable.merge.write_ms",
    "laketable.compact.ms",
    "laketable.read.ms",
    "commitlog.commit_snapshot.ms",
    "commitlog.load_snapshot.calls",
    "commitlog.load_snapshot.ms",
    "commitlog.load_snapshot.per_batch",
    "commitlog.snapshot_bytes",
    "metrics.append_metrics.ms",
    "metrics.append_lineage.ms",
    "metrics.log_bytes",
    "laketable.files_written",
    "laketable.bytes_written",
    "laketable.delta_chain_max",
    "laketable.compactions",
    "spark.jobs_per_batch",
]
PER_LAYER_UNITS = {"calls": "count", "ms": "ms", "self_ms": "ms", "exec_ms": "ms", "write_ms": "ms"}


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last in PER_LAYER_UNITS:
        return PER_LAYER_UNITS[last]
    if "bytes" in last:
        return "bytes"
    if last.endswith("_share"):
        return "ratio"
    if last.endswith("_ms"):
        return "ms"
    return "count"


def _results_dir() -> str:
    d = os.path.join(machine.WORK, "results")
    os.makedirs(d, exist_ok=True)
    return d


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    clean_work()
    ticks = machine.cpu_ticks()
    t0 = time.perf_counter()
    spark = machine.start_spark()
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    try:
        return _run(spark, session_s, workload, seed, seconds, trace, ticks)
    finally:
        machine.stop_spark(spark)


def _run(spark, session_s, workload, seed, seconds, trace, ticks) -> dict:
    facts = machine.facts(spark, seed)
    wl = WORKLOADS[workload](spark, seed, seconds, None)
    t0 = time.perf_counter()
    wl.inputs()
    gen_s = time.perf_counter() - t0

    tracer = None
    if trace:
        tracer = Tracer(spark)
        tracer.install()
        wl.tracer = tracer
    t_origin = time.perf_counter()
    setup_samples = wl.setup()
    table_s = time.perf_counter() - t_origin
    setup_s = _quantile(setup_samples[1:], 0.5)

    t0 = time.perf_counter()
    r = wl.measure()
    measure_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    fin = r.maintenance
    orc = r.oracle
    state = orc.check_state(fin["actual_glob"], fin["watermark"])
    lk_n, lk_bad = orc.check_lookups(*r.lookups)
    pl_n, pl_bad = orc.check_polls(*r.polls)
    orc.close()
    verify_s = time.perf_counter() - t0

    rss_mb, rss_by_process = machine.peak_rss_mb()
    steal, total = (b - a for a, b in zip(ticks, machine.cpu_ticks()))
    attempted = r.attempted_ops + 2 + state["rows_checked"]
    failed = state["rows_mismatched"] + lk_bad + pl_bad
    e2e = {
        "setup_s": setup_s,
        "apply_events_per_s": r.apply_rate,
        "latency_p50_ms": _quantile(r.latency_ms, 0.5),
        "compact_s": fin["compact_s"],
        "full_read_s": fin["full_read_s"],
    }
    n_latency = len(r.latency_ms)
    info = {k: {"value": v, "n": n} for k, (v, n) in r.info.items()}
    info["op_error_rate"] = {"value": failed / attempted, "n": attempted}
    info["session_start_s"] = {"value": session_s, "n": 1}
    info["setup_cold_s"] = {"value": setup_samples[0], "n": 1}
    info["peak_rss_mb"] = {"value": rss_mb, "n": 1}
    result = {
        "workload": workload,
        "trace": int(trace),
        "facts": {
            **facts,
            "peak_rss_by_process_mb": rss_by_process,
            # CPU time the hypervisor gave to other guests during the run:
            # a validity check, high values mean a contended host
            "cpu_steal_share": steal / total if total else 0.0,
        },
        "phases_s": {
            "session": session_s, "inputs": gen_s, "workload_setup": table_s,
            "measure": measure_s, "verify": verify_s,
        },
        "end_to_end": e2e,
        "samples": {
            "setup_s": len(setup_samples) - 1,
            "latency_p50_ms": n_latency,
            "compact_s": len(fin["compact_samples_s"]),
            "full_read_s": len(fin["full_read_samples_s"]),
        },
        "info": info,
        "detail": {
            **r.detail,
            "setup_s": setup_samples,
            "compact_s": fin["compact_samples_s"],
            "full_read_s": fin["full_read_samples_s"],
        },
        "invalid": r.invalid,
        "oracle": {**state, "lookups": lk_n, "lookups_bad": lk_bad, "polls": pl_n, "polls_bad": pl_bad},
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0 and state["selftest_caught"] and not r.invalid,
    }
    if tracer is not None:
        tracer.uninstall()
        result["layers"] = _layers(spark, wl, r, tracer)
        spans = os.path.join(_results_dir(), f"spans-{workload}-s{seed}.jsonl")
        tracer.dump(spans, t_origin)
        result["spans_file"] = spans
        untraced = os.path.join(_results_dir(), f"{workload}-s{seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            result["trace_overhead"] = {
                k: {"untraced": base[k], "traced": e2e[k], "share": e2e[k] / base[k] - 1}
                for k in e2e
            }
    with open(os.path.join(_results_dir(), f"{workload}-s{seed}-t{int(trace)}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    return result


def _layers(spark, wl, r, tracer) -> dict:
    from .workloads import _snapshots

    out: dict = {}
    for name, a in tracer.layer_table().items():
        out[f"{name}.calls"] = a["calls"]
        out[f"{name}.ms"] = a["ms"]
        out[f"{name}.self_ms"] = a["self_ms"]
    staged = layers.staged_pass(spark, r.table, r.staged, r.partial)
    ex = staged["exec_ms"]
    out["feed.scan_ms"] = ex["scan"]
    out["filters.exec_ms"] = ex["filters"]
    out["pipeline.normalize.exec_ms"] = ex["pipeline.normalize"]
    out["transform.exec_ms"] = ex["transform"]
    out["dedup.exec_ms"] = ex["dedup"]
    merge_self = tracer.self_ms_by_req("laketable.merge")
    writes = [merge_self[q] - ms for q, ms in staged["prefix_ms"].items() if q in merge_self]
    out["laketable.merge.write_ms"] = statistics.fmean(writes) if writes else 0.0
    rows = staged["rows"]
    out["filters.rows_in"], out["filters.rows_out"] = rows["scan"], rows["filters"]
    out["dedup.rows_in"], out["dedup.rows_out"] = rows["transform"], rows["dedup"]
    applies = tracer.apply_results
    out["pipeline.schema_retries"] = sum(res.schema_retries for _q, res, _j in applies)
    snaps = _untraced(tracer, _snapshots, r.table.root)
    out.update(layers.table_counts(r.table.root, snaps))
    lf = getattr(wl, "lookup_files", [])
    out["laketable.lookup.files_scanned"] = statistics.fmean(lf) if lf else 0.0
    pf = getattr(wl, "poll_files", [])
    out["laketable.read_changes.files_scanned"] = statistics.fmean(s for s, _t in pf) if pf else 0.0
    out["laketable.read_changes.files_pruned_share"] = (
        statistics.fmean(1 - s / t for s, t in pf if t) if pf else 0.0
    )
    n_apply = len(applies)
    out["commitlog.load_snapshot.per_batch"] = (
        tracer.count_under("commitlog.load_snapshot", "pipeline.apply_batch") / n_apply
        if n_apply
        else 0.0
    )
    out["spark.jobs_per_batch"] = statistics.fmean(j for _q, _r, j in applies) if applies else 0.0
    lj = getattr(wl, "jobs", {}).get("lookup", [])
    out["spark.jobs_per_lookup"] = statistics.fmean(lj) if lj else 0.0
    out.update(
        layers.stream_metrics(getattr(wl, "progress", []), getattr(wl, "stream_timeline", (0, [], {})))
    )
    return out


def report(result: dict) -> tuple[list[str], dict]:
    """Human-readable lines and the final JSON object."""
    f = result["facts"]
    lines = [
        f"# perfbench {result['workload']} seed={f['seed']} trace={result['trace']} "
        f"cpus={f['cpus']} heap_mb={f['heap_mb']} spark={f['spark']} "
        f"python={f['python']} duckdb={f['duckdb']} cpu_steal_share={f['cpu_steal_share']:.3f}",
        "# phases_s " + " ".join(f"{k}={v:.2f}" for k, v in result["phases_s"].items()),
    ]
    for k, v in result["end_to_end"].items():
        n = result["samples"].get(k)
        lines.append(f"{k:<32} {v:>14.4f} {END_TO_END[k]:<9}" + (f" n={n}" if n else ""))
    for k, d in result["info"].items():
        lines.append(f"{k:<32} {d['value']:>14.4f}           n={d['n']}")
    o = result["oracle"]
    lines.append(
        f"# oracle rows={o['rows_checked']} mismatched={o['rows_mismatched']} "
        f"lookups={o['lookups']} bad={o['lookups_bad']} polls={o['polls']} bad={o['polls_bad']} "
        f"selftest_caught={o['selftest_caught']} sha256={o['actual_sha256'][:16]}"
    )
    if result["invalid"]:
        lines.append(f"# INVALID RUN: {result['invalid']}")
    if "layers" in result:
        lines.append("# per-layer (traced run)")
        for k, v in result["layers"].items():
            lines.append(f"  {k:<46} {v:>16.3f} {_unit(k)}")
        if "trace_overhead" in result:
            for k, d in result["trace_overhead"].items():
                lines.append(
                    f"# trace overhead {k}: untraced={d['untraced']:.4f} traced={d['traced']:.4f} "
                    f"({d['share'] * 100:+.1f}%)"
                )
        else:
            lines.append("# trace overhead: run --trace 0 with the same seed first to compare")
        lines.append(f"# spans: {result['spans_file']}")
    if result["trace"]:
        metrics = {k: {"value": float(result["layers"][k]), "unit": _unit(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in result["end_to_end"].items()}
    for k, m in metrics.items():
        if not math.isfinite(m["value"]):
            raise ValueError(f"metric {k} is not finite")
    final = {
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }
    return lines, final
