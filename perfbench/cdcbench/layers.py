"""Per-layer metrics for the traced run.

Spans (trace.py) time each layer's entry point, but the lazy layers —
filter, normalize, transform, dedup — only build plans when called; their
work runs later inside the merge's write. The staged pass measures that
work: it materializes cumulative prefixes of the same batches the run
applied (scan, +filter, +normalize, +transform, +dedup) into the noop
sink, and each layer's exec time is the difference between consecutive
prefixes. ``laketable.merge.write_ms`` is merge self time minus the whole
prefix. The rest are counts read from the table's files and the
stream's checkpoint after the run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

STAGES = ("scan", "filters", "pipeline.normalize", "transform", "dedup")
REPEATS = 3  # each prefix is materialized this many times; the median counts


def stream_batch_files(ckpt: str) -> dict[int, list[str]]:
    """Micro-batch id -> feed files it consumed (file source metadata log)."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        name = os.path.basename(p)
        if not name.isdigit():
            continue
        with open(p) as f:
            lines = f.read().splitlines()[1:]
        out[int(name)] = [json.loads(x)["path"] for x in lines if x.strip()]
    return out


def lookup_files(table, repo: str) -> int:
    from replicator_spark import commitlog as cl

    snap = cl.load_snapshot(table.root)
    b = str(table.bucket_of(repo, snap))
    return len(snap.files.get(b, [])) + len((snap.props or {}).get("deltas", {}).get(b, []))


def poll_files(table, floor: int) -> tuple[int, int]:
    """(files the poll scans, files in the snapshot)."""
    from replicator_spark import commitlog as cl

    snap = cl.load_snapshot(table.root)
    total = sum(len(v) for v in snap.files.values()) + sum(
        len(v) for v in (snap.props or {}).get("deltas", {}).values()
    )
    return len(table.changed_files(floor)), total


def staged_pass(spark, table, batches, partial: bool) -> dict:
    """Cumulative-prefix materialization of ``batches`` ((req, df factory)).
    Returns per-stage mean ms per batch, row counts, and the full-prefix
    ms per request."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from replicator_spark.dedup import lww_collapse_partial, lww_latest
    from replicator_spark.pipeline import infer_payload_schema, normalize

    from . import job

    key_cols = table.key_columns()
    filt, xf = job.event_filter(), job.transform_engine(partial)
    stage_ms = {s: [] for s in STAGES}
    rows = {s: 0 for s in STAGES}
    prefix_ms = {}
    for req, factory in batches:
        raw = factory()
        schema = infer_payload_schema(raw)
        f = filt.apply(raw)
        n = normalize(f, schema, key_cols=key_cols, partial_updates=partial)
        t = xf.apply(n)[0]
        d = (lww_collapse_partial if partial else lww_latest)(t, key_cols, "seq")
        prev = 0.0
        for name, df in zip(STAGES, (raw, f, n, t, d)):
            times = []
            for i in range(REPEATS):
                obs = Observation(f"staged-{req}-{name}-{i}")
                t0 = time.perf_counter()
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                    "overwrite"
                ).save()
                times.append((time.perf_counter() - t0) * 1000)
            ms = statistics.median(times)
            rows[name] += int(obs.get["n"] or 0)
            stage_ms[name].append(ms - prev)
            prev = ms
        prefix_ms[req] = prev
    return {
        "exec_ms": {s: statistics.fmean(v) if v else 0.0 for s, v in stage_ms.items()},
        "rows": rows,
        "prefix_ms": prefix_ms,
    }


def table_counts(root: str, snaps) -> dict:
    data = [p for p in glob.glob(os.path.join(root, "data", "**", "*.parquet"), recursive=True)]
    snap_files = glob.glob(os.path.join(root, "metadata", "v*.json"))
    logs = [
        p
        for d in ("_metrics", "_lineage")
        for p in glob.glob(os.path.join(root, d, "*.jsonl"))
    ]
    chain = 0
    for s in snaps:
        deltas = (s.props or {}).get("deltas", {})
        chain = max([chain] + [len(v) for v in deltas.values()])
    return {
        "laketable.files_written": len(data),
        "laketable.bytes_written": sum(os.path.getsize(p) for p in data),
        "laketable.delta_chain_max": chain,
        "laketable.compactions": sum(1 for s in snaps if (s.props or {}).get("compaction")),
        "commitlog.snapshot_bytes": (
            statistics.fmean(os.path.getsize(p) for p in snap_files) if snap_files else 0.0
        ),
        "metrics.log_bytes": sum(os.path.getsize(p) for p in logs),
    }


def stream_metrics(progress, timeline) -> dict:
    """streaming.* from StreamingQueryProgress and the release log."""
    out = {
        "streaming.trigger_ms": 0.0,
        "streaming.add_batch_ms": 0.0,
        "streaming.latest_offset_ms": 0.0,
        "streaming.wal_commit_ms": 0.0,
        "streaming.files_per_trigger": 0.0,
        "streaming.backlog_files_max": 0,
    }
    if not progress:
        return out

    def mean(key):
        return statistics.fmean(p.durationMs.get(key, 0) for p in progress)

    out["streaming.trigger_ms"] = mean("triggerExecution")
    out["streaming.add_batch_ms"] = mean("addBatch")
    out["streaming.latest_offset_ms"] = mean("latestOffset")
    out["streaming.wal_commit_ms"] = mean("walCommit")
    _t_start, released, batch_files = timeline
    sizes = [len(v) for b, v in sorted(batch_files.items()) if v]
    out["streaming.files_per_trigger"] = statistics.fmean(sizes) if sizes else 0.0
    out["streaming.backlog_files_max"] = max(
        (n for _t, n in backlog_files(progress, released, batch_files)), default=0
    )
    return out


def backlog_files(progress, released, batch_files) -> list[tuple[float, int]]:
    """Per micro-batch with input (``progress``, in order): its start
    time and the feed files released before it started and not consumed
    by an earlier batch."""
    from datetime import datetime

    by_id = {p.batchId: p for p in progress}
    out, consumed = [], 0
    for b, files in sorted(batch_files.items()):
        p = by_id.get(b)
        if p is not None:
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            out.append((start, sum(1 for r in released if r <= start) - consumed))
        consumed += len(files)
    return out
