"""Seeded input generation for the workloads.

All inputs are built on ``replicator_spark.feedgen.gen_changes`` (the
canonical change record with skew, ~5% redelivered duplicates and
out-of-order hash batching): one Spark job computes the feed, and
pyarrow cuts it into the files each workload delivers. The program under
test only ever sees those files. Re-batching by seq range (live_tail,
the serving writes of bulk_replay) keeps per-key delivery in order,
which partial updates require.

Generated inputs are cached under ``perfbench/.cache`` keyed by workload,
seed and size; generation is the load generator's work and is never part
of a timed phase.
"""

from __future__ import annotations

import json
import os
import random
import shutil

from .machine import CACHE

# Feed shape shared by every workload: 50 repos with one hot repo taking
# 30% of events, 100 paths x 16 dirs x 4 commits per repo.
FEED_KW = dict(n_repos=50, hot_repo_pct=30, paths_per_repo=100, dup_pct=5)


def _cached(name: str, build) -> tuple[str, dict]:
    """Build into ``.cache/<name>`` once; return (dir, meta)."""
    d = os.path.join(CACHE, name)
    marker = os.path.join(d, "_META.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return d, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    meta = build(d)
    with open(marker + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(marker + ".tmp", marker)
    return d, meta


def _mark_partials(df, seed: int):
    """A third of updates become Mongo ``$set``-style partials: the doc
    keeps only ``content`` or only ``lang`` and ``meta.partial='true'``.
    A pure function of (seed, seq), so a redelivered duplicate is marked
    exactly like its original."""
    from pyspark.sql import functions as F

    h = F.xxhash64(F.lit(seed), F.lit("partial"), F.col("seq"))
    partial = (F.col("op") == "update") & (F.pmod(h, F.lit(3)) == 0)
    only_content = F.pmod(F.xxhash64(F.lit(seed), F.lit("pcol"), F.col("seq")), F.lit(2)) == 0
    pdoc = F.when(
        only_content,
        F.to_json(F.struct(F.get_json_object("doc", "$.content").alias("content"))),
    ).otherwise(F.to_json(F.struct(F.get_json_object("doc", "$.lang").alias("lang"))))
    return df.withColumn("doc", F.when(partial, pdoc).otherwise(F.col("doc"))).withColumn(
        "meta",
        F.when(
            partial, F.map_concat(F.col("meta"), F.create_map(F.lit("partial"), F.lit("true")))
        ).otherwise(F.col("meta")),
    )


def _arrow(df):
    """The generated feed as one seq-sorted Arrow table."""
    import pyarrow.compute as pc

    t = df.toArrow()
    return t.take(pc.sort_indices(t, sort_keys=[("seq", "ascending"), ("event_id", "ascending")]))


def _write(table, path: str) -> int:
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table.drop_columns([c for c in ("batch_id",) if c in table.column_names]), path)
    return table.num_rows


def _by_batch(t, feed: str) -> dict[str, int]:
    """``feed/batch_id=K/part-0.parquet`` per hash batch (the
    ``feedgen.write_feed`` layout); returns events per batch."""
    import pyarrow.compute as pc

    out = {}
    for b in sorted(pc.unique(t["batch_id"]).to_pylist()):
        part = t.filter(pc.equal(t["batch_id"], b))
        out[str(b)] = _write(part, os.path.join(feed, f"batch_id={b}", "part-0.parquet"))
    return out


def _by_seq_range(t, lo: int, per_file: int, n_files: int, dst: str, fmt: str) -> list[tuple[str, int]]:
    """Files of ``per_file`` consecutive seqs from ``lo`` (duplicates stay
    with their original); returns (name, events) in delivery order."""
    import pyarrow.compute as pc

    out = []
    for k in range(n_files):
        a, b = lo + k * per_file, lo + (k + 1) * per_file
        part = t.filter(pc.and_(pc.greater_equal(t["seq"], a), pc.less(t["seq"], b)))
        name = fmt % k
        out.append((name, _write(part, os.path.join(dst, name))))
    return out


def tail_files(spark, seed: int, n_files: int, events_per_file: int) -> tuple[str, dict]:
    """Seq-ranged feed files ``<dir>/staged/f00000.parquet`` ..., each
    holding ``events_per_file`` consecutive seqs, with partial updates
    marked. Released in name order by the workload."""
    from replicator_spark.feedgen import gen_changes

    def build(d):
        n = n_files * events_per_file
        t = _arrow(_mark_partials(gen_changes(spark, n, seed=seed, n_batches=1, **FEED_KW), seed))
        files = _by_seq_range(
            t, 0, events_per_file, n_files, os.path.join(d, "staged"), "f%05d.parquet"
        )
        return {
            "events": sum(n for _, n in files),
            "files": [name for name, _ in files],
            "file_events": [n for _, n in files],
        }

    return _cached(f"tail-s{seed}-f{n_files}-e{events_per_file}", build)


def bulk_inputs(
    spark, seed: int, n_warm: int, n_pre: int, pre_batches: int, n_writes: int, write_events: int
) -> tuple[str, dict]:
    """bulk_replay inputs: a seq-ranged warm-up delivery over seqs
    ``[0, n_warm)`` (``<dir>/warm.parquet``), a hash-batched backlog above
    it (``<dir>/pre/batch_id=K``) and ``n_writes`` seq-ranged write
    batches above that (``<dir>/writes/w00000.parquet`` ...) for the
    serving phase."""
    import pyarrow.compute as pc

    from replicator_spark.feedgen import gen_changes

    def build(d):
        n = n_warm + n_pre + n_writes * write_events
        t = _arrow(gen_changes(spark, n, seed=seed, n_batches=pre_batches, **FEED_KW))
        _write(t.filter(pc.less(t["seq"], n_warm)), os.path.join(d, "warm.parquet"))
        backlog = t.filter(
            pc.and_(pc.greater_equal(t["seq"], n_warm), pc.less(t["seq"], n_warm + n_pre))
        )
        pre = _by_batch(backlog, os.path.join(d, "pre"))
        writes = _by_seq_range(
            t, n_warm + n_pre, write_events, n_writes, os.path.join(d, "writes"), "w%05d.parquet"
        )
        return {
            "batch_events": pre,
            "writes": [name for name, _ in writes],
            "write_events": [n for _, n in writes],
        }

    return _cached(
        f"bulk-s{seed}-w{n_warm}-p{n_pre}-b{pre_batches}-w{n_writes}x{write_events}", build
    )


def lookup_keys(feed_glob: str, seed: int, n: int, absent_share: float) -> list[tuple[str, str]]:
    """(repo, path) lookup keys: events sampled uniformly from the feed,
    so keys follow the feed's repo skew and include keys whose last event
    is a delete, plus ``absent_share`` keys that never occur."""
    import duckdb

    counts = duckdb.sql(
        f"SELECT key.repo, key.path, count(*) FROM read_parquet('{feed_glob}') "
        "GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    rng = random.Random(seed)
    picked = rng.choices([(r, p) for r, p, _ in counts], weights=[c for _, _, c in counts], k=n)
    return [
        (f"repo-absent-{i % 7}", k[1]) if rng.random() < absent_share else k
        for i, k in enumerate(picked)
    ]
