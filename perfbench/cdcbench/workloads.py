"""The benchmark's workloads, each driven through the engine's public API.

* ``bulk_replay`` — a replica catching up, then serving. Closed-loop
  ``pipeline.replay_feed`` over a hash-batched full-image backlog (mor,
  auto-compaction on) exercises the bulk layers: filter, normalize,
  transform, LWW shuffle, delta write, compaction. Then one closed-loop
  client cycles a small seq-ranged write, point lookups and a
  ``read_changes`` poll on the caught-up table, exercising the read path:
  bucket pruning, merge-on-read resolve, manifest pruning.
* ``live_tail`` — open-loop live replication: ``streaming.run_stream``
  (processing-time trigger, mor, partial updates) while a generator
  thread releases small seq-ranged files on a fixed schedule. Exercises
  per-batch fixed costs: file source and checkpoint, snapshot load and
  commit, metrics append, partial collapse and upgrade, compaction stalls.

A set-up is an empty table plus the workload's first delivery (bulk:
one warm-up batch; live_tail: a started stream and one warm-up file). It
runs once cold, so class loading, code generation and JIT warm-up of a
fresh JVM land there rather than in the measured phase, then
``SETUP_REPEATS`` more times for ``setup_s``; the last table is measured.

Both run the same maintenance step (``maintain``): an explicit
compaction that also expires tombstones older than a fixed retention, so
it rewrites every tombstone-bearing bucket however the run's delta
chains happened to fall, then resolved full reads materialized into the
client. The oracle checks the last read, and every lookup and poll.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from . import inputs, job, layers
from .machine import WORK
from .oracle import Oracle

BUCKETS = 16
TOMBSTONE_RETENTION = 2000  # seqs; the final compaction expires older tombstones
FULL_READS, FULL_READS_WARM = 5, 1  # timed reads (the median counts), untimed ones before
COMPACT_REPEATS = 3  # the final compaction runs on this many copies of the table
# set-up runs once cold (the fresh JVM's class loading, code generation
# and JIT land there; reported as setup_cold_s), then this many times on
# fresh tables; the median of those is setup_s
SETUP_REPEATS = 3

WARM_EVENTS = 400  # the warm-up delivery every set-up applies

BULK_EVENTS, BULK_BATCHES, BULK_COMPACT_AFTER = 32_000, 4, 4

TAIL_FILES_PER_S, TAIL_EVENTS_PER_FILE = 4, 40  # 160 events/s offered
TAIL_TRIGGER = "200 milliseconds"
TAIL_MAX_FILES_PER_TRIGGER = 64
TAIL_DRAIN_TIMEOUT_S = 90
# a run is invalid when the backlog grows: the backlog (files released
# but not yet consumed) at the last micro-batch that starts within the
# release window exceeds TAIL_BACKLOG_GROWTH times the backlog at the
# first batch after the warm-up one plus TAIL_BACKLOG_SLACK files
TAIL_BACKLOG_GROWTH, TAIL_BACKLOG_SLACK = 2.0, 2

SERVE_WRITES, SERVE_WRITE_EVENTS = 12, 400
SERVE_LOOKUPS_PER_CYCLE = 24
SERVE_WARM_LOOKUPS = 3
SERVE_ABSENT_SHARE = 0.1


@dataclass
class Run:
    """What a workload hands back to the runner."""

    table: object
    apply_rate: float  # events/s over the engine's apply calls
    latency_ms: list[float]  # foreground latency samples
    maintenance: dict = field(default_factory=dict)  # from maintain()
    info: dict = field(default_factory=dict)  # extra named metrics with sample counts
    detail: dict = field(default_factory=dict)  # raw samples, written to the results file
    oracle: Oracle | None = None
    lookups: tuple = ((), ())
    polls: tuple = ((), ())
    staged: list = field(default_factory=list)  # (req, df factory) for the staged pass
    partial: bool = False
    attempted_ops: int = 0
    invalid: str = ""  # why the run's figures do not measure what they should


def _snapshots(root: str) -> list:
    from replicator_spark import commitlog as cl

    return [cl.load_snapshot(root, v) for v in sorted(cl.list_versions(root))]


def _max_seq(root: str) -> int:
    from replicator_spark import commitlog as cl

    return int((cl.load_snapshot(root).props or {}).get("max_seq") or -1)


def new_table(spark, name: str):
    from replicator_spark.laketable import LakeTable
    from replicator_spark.model import REPOS_SCHEMA

    root = os.path.join(WORK, "tables", name)
    shutil.rmtree(root, ignore_errors=True)
    t = LakeTable(spark, root)
    t.create(REPOS_SCHEMA, num_buckets=BUCKETS)
    return t


# -- bulk_replay ----------------------------------------------------------


class BulkReplay:
    """Catch-up replay of a hash-batched backlog, maintenance, then serving
    reads on the caught-up table beside small live writes."""

    name = "bulk_replay"

    def __init__(self, spark, seed: int, seconds: int, tracer):
        self.spark, self.seed, self.seconds, self.tracer = spark, seed, seconds, tracer

    def inputs(self) -> None:
        self.dir, self.meta = inputs.bulk_inputs(
            self.spark, self.seed, WARM_EVENTS, BULK_EVENTS, BULK_BATCHES, SERVE_WRITES,
            SERVE_WRITE_EVENTS,
        )
        self.feed = os.path.join(self.dir, "pre")
        self.keys = inputs.lookup_keys(
            os.path.join(self.dir, "**", "*.parquet"), self.seed, 2000, SERVE_ABSENT_SHARE
        )

    def setup(self) -> list[float]:
        """``1 + SETUP_REPEATS`` times: an empty table, then the warm-up
        delivery applied as one batch. The last table is the one measured;
        returns the set-up times, the cold one first."""
        from replicator_spark.pipeline import apply_batch

        times = []
        for _ in range(1 + SETUP_REPEATS):
            t0 = time.perf_counter()
            self.table = new_table(self.spark, self.name)
            apply_batch(
                self.table, self.spark.read.parquet(os.path.join(self.dir, "warm.parquet")), "warm",
                mode="mor", event_filter=job.event_filter(), transform_engine=job.transform_engine(False),
            )
            times.append(time.perf_counter() - t0)
        return times

    def measure(self) -> Run:
        from replicator_spark.pipeline import replay_feed

        batches = list(range(BULK_BATCHES))
        t0 = time.time()
        results = replay_feed(
            self.spark,
            self.feed,
            self.table,
            batches=batches,
            mode="mor",
            compact_after_deltas=BULK_COMPACT_AFTER,
            event_filter=job.event_filter(),
            transform_engine=job.transform_engine(False),
            stream_name="feed",
        )
        apply_s = time.time() - t0
        snaps = _untraced(self.tracer, _snapshots, self.table.root)
        commit_ms = {s.version: s.committed_at_ms for s in snaps}
        # catch-up visibility: every event was due when the replay started
        lags = [commit_ms[r.merge.version] - t0 * 1000 for r in results]
        weights = [self.meta["batch_events"][str(b)] for b in batches]
        events = sum(weights)
        walls = [r.wall_ms for r in results]
        rates = [n / (w / 1000) for n, w in zip(weights, walls)]
        m = maintain(self.table, self.tracer)
        serve = self._serve()
        feed = [
            os.path.join(self.dir, "warm.parquet"),
            os.path.join(self.feed, "*", "*.parquet"),
        ] + [os.path.join(self.dir, "writes", n) for n in self.meta["writes"][: serve["writes"]]]
        return Run(
            table=self.table,
            apply_rate=events / (sum(walls) / 1000),
            latency_ms=serve["lookup_ms"],
            maintenance=m,
            info={
                "replay_events_per_s": (events / apply_s, len(results)),
                "batch_events_per_s_p50": (_quantile(rates, 0.5), len(rates)),
                "catchup_visible_p50_ms": (_quantile(lags, 0.5, weights), events),
                "batch_apply_p50_ms": (_quantile(walls, 0.5), len(walls)),
                **serve["info"],
            },
            oracle=Oracle(feed, False, os.path.join(WORK, "oracle")),
            detail={"batch_wall_ms": walls, "batch_events": weights, **serve["detail"]},
            lookups=serve["lookups"],
            polls=serve["polls"],
            staged=[
                (f"feed-{b}", lambda b=b: self.spark.read.parquet(f"{self.feed}/batch_id={b}"))
                for b in batches[:2]
            ],
            attempted_ops=len(results) + 1 + serve["ops"],
        )

    def _serve(self) -> dict:
        """One closed-loop client for ``seconds``: a small seq-ranged write,
        one ``read_changes`` poll from the previous poll's watermark, then
        up to ``SERVE_LOOKUPS_PER_CYCLE`` lookups. Every call records the
        snapshot watermark it read, for the oracle."""
        from replicator_spark.pipeline import SchemaTracker, apply_batch

        tr, table = self.tracer, self.table
        tracker = SchemaTracker()
        filt, xf = job.event_filter(), job.transform_engine(False)
        write_ms, lookup_ms, poll_ms = [], [], []
        lk_calls, lk_rows, pl_calls, pl_rows = [], [], [], []
        self.lookup_files, self.poll_files, self.jobs = [], [], {"lookup": [], "poll": []}
        floor = _untraced(tr, _max_seq, table.root)
        # the first calls of each kind pay code generation and JIT warm-up
        for key in self.keys[-SERVE_WARM_LOOKUPS:]:
            table.lookup(*key).collect()
        table.read_changes(since_seq=floor).collect()
        applied, ki = 0, 0
        t_end = time.time() + self.seconds
        # the window is checked before each cycle and each lookup, so the
        # phase overruns by at most a write and its poll
        while time.time() < t_end:
            if applied == len(self.meta["writes"]):
                raise RuntimeError("serve phase ran out of pre-generated writes; raise SERVE_WRITES")
            name = self.meta["writes"][applied]
            bdf = self.spark.read.parquet(os.path.join(self.dir, "writes", name))
            with _request(tr, f"serve-{applied}"):
                t0 = time.perf_counter()
                apply_batch(
                    table, bdf, f"serve-{applied}", mode="mor", schema_tracker=tracker,
                    event_filter=filt, transform_engine=xf,
                )
                write_ms.append((time.perf_counter() - t0) * 1000)
            applied += 1
            w = _untraced(tr, _max_seq, table.root)
            pi = len(pl_calls)
            req = f"poll-{pi}"
            with _request(tr, req):
                t0 = time.perf_counter()
                rows = table.read_changes(since_seq=floor).collect()
                poll_ms.append((time.perf_counter() - t0) * 1000)
            if tr is not None:
                self.jobs["poll"].append(tr.jobs(req))
                with tr.untraced():
                    self.poll_files.append(layers.poll_files(table, floor))
            pl_calls.append((pi, w, floor))
            pl_rows += [
                (pi, r["repo"], r["path"], r["commit"], r["lang"], r["content"],
                 r["_last_seq"], r["_deleted"])
                for r in rows
            ]
            floor = w
            for _ in range(SERVE_LOOKUPS_PER_CYCLE):
                if time.time() >= t_end:
                    break
                repo, path = self.keys[ki % len(self.keys)]
                w = _untraced(tr, _max_seq, table.root)
                req = f"lookup-{ki}"
                with _request(tr, req):
                    t0 = time.perf_counter()
                    rows = table.lookup(repo, path).collect()
                    lookup_ms.append((time.perf_counter() - t0) * 1000)
                if tr is not None:
                    self.jobs["lookup"].append(tr.jobs(req))
                    with tr.untraced():
                        self.lookup_files.append(layers.lookup_files(table, repo))
                lk_calls.append((ki, w, repo, path))
                lk_rows += [(ki, r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rows]
                ki += 1
        return {
            "writes": applied,
            "lookup_ms": lookup_ms,
            "lookups": (lk_calls, lk_rows),
            "polls": (pl_calls, pl_rows),
            "ops": applied + len(lk_calls) + len(pl_calls),
            "detail": {"lookup_ms": lookup_ms, "poll_ms": poll_ms, "write_ms": write_ms},
            "info": {
                "lookup_p50_ms": (_quantile(lookup_ms, 0.5), len(lookup_ms)),
                "lookup_p90_ms": (_quantile(lookup_ms, 0.9), len(lookup_ms)),
                "changes_poll_p50_ms": (_quantile(poll_ms, 0.5), len(poll_ms)),
                "serve_write_p50_ms": (_quantile(write_ms, 0.5), len(write_ms)),
            },
        }


# -- live_tail ------------------------------------------------------------


class LiveTail:
    name = "live_tail"

    def __init__(self, spark, seed: int, seconds: int, tracer):
        self.spark, self.seed, self.seconds, self.tracer = spark, seed, seconds, tracer
        self.n_files = TAIL_FILES_PER_S * seconds + 1  # file 0 is the warm-up

    def inputs(self) -> None:
        self.dir, self.meta = inputs.tail_files(
            self.spark, self.seed, self.n_files, TAIL_EVENTS_PER_FILE
        )
        # a file is visible once a snapshot's max_seq reaches the highest
        # seq in it that survives the job's filter (per the oracle)
        self.orc = Oracle(os.path.join(self.dir, "staged", "*.parquet"), True, os.path.join(WORK, "oracle"))
        per_file = dict(
            self.orc.con.execute(
                f"SELECT seq // {TAIL_EVENTS_PER_FILE}, max(seq) FROM ev GROUP BY 1"
            ).fetchall()
        )
        self.file_max_seq = [per_file[k] for k in range(self.n_files)]

    def setup(self) -> list[float]:
        """``1 + SETUP_REPEATS`` times: an empty table and checkpoint, the
        stream started, and the warm-up file released and waited for. The
        last stream is the one measured; the earlier ones are stopped.
        Returns the set-up times, the cold one first."""
        times = []
        for i in range(1 + SETUP_REPEATS):
            if i:
                self.query.stop()
                self.query.awaitTermination(30)
            base = os.path.join(WORK, "tail")
            shutil.rmtree(base, ignore_errors=True)
            self.in_dir = os.path.join(base, "in")
            self.staging = os.path.join(base, "staging")
            self.ckpt = os.path.join(base, "checkpoint")
            os.makedirs(self.in_dir)
            shutil.copytree(os.path.join(self.dir, "staged"), self.staging)
            t0 = time.perf_counter()
            self._start()
            times.append(time.perf_counter() - t0)
        return times

    def _start(self) -> None:
        from replicator_spark.streaming import run_stream

        self.table = new_table(self.spark, self.name)
        self.query = run_stream(
            self.spark,
            self.in_dir,
            self.table,
            self.ckpt,
            available_now=False,
            mode="mor",
            partial_updates=True,
            event_filter=job.event_filter(),
            transform_engine=job.transform_engine(True),
            max_files_per_trigger=TAIL_MAX_FILES_PER_TRIGGER,
            processing_time=TAIL_TRIGGER,
        )
        name = self.meta["files"][0]
        os.rename(os.path.join(self.staging, name), os.path.join(self.in_dir, name))
        self._wait_for_seq(self.file_max_seq[0])

    def _wait_for_seq(self, seq: int) -> None:
        deadline = time.time() + TAIL_DRAIN_TIMEOUT_S
        while _untraced(self.tracer, _max_seq, self.table.root) < seq:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if time.time() > deadline:
                raise RuntimeError(f"stream did not reach seq {seq}")
            time.sleep(0.2)

    def _generate(self, t_start: float, due: list, released: list) -> None:
        """Open-loop release: file k is due at t_start + k/rate whatever
        the engine is doing. Touch, then rename, so the file appears
        atomically with an mtime that orders it."""
        period = 1.0 / TAIL_FILES_PER_S
        for k, name in enumerate(self.meta["files"][1:]):
            d = t_start + k * period
            delay = d - time.time()
            if delay > 0:
                time.sleep(delay)
            src = os.path.join(self.staging, name)
            now = time.time()
            os.utime(src, (now, now))
            os.rename(src, os.path.join(self.in_dir, name))
            due.append(d)
            released.append(time.time())

    def measure(self) -> Run:
        due, released = [], []
        t_start = time.time() + 0.05
        gen = threading.Thread(target=self._generate, args=(t_start, due, released), daemon=True)
        gen.start()
        gen.join(timeout=self.seconds + 60)
        if gen.is_alive():
            raise RuntimeError("generator thread did not finish")
        fmax = self.file_max_seq
        self._wait_for_seq(fmax[-1])
        self.query.stop()
        self.query.awaitTermination(30)
        batch_files = layers.stream_batch_files(self.ckpt)
        warm_name = "/" + self.meta["files"][0]
        warm = {b for b, fs in batch_files.items() if any(f.endswith(warm_name) for f in fs)}
        progress = [
            p for p in self.query.recentProgress if p.numInputRows > 0 and p.batchId not in warm
        ]

        snaps = sorted(
            ((s.committed_at_ms, (s.props or {}).get("max_seq")) for s in _untraced(self.tracer, _snapshots, self.table.root)),
        )
        lags = []
        for k, d in enumerate(due, start=1):
            seen = min(ts for ts, ms in snaps if ms is not None and ms >= fmax[k])
            lags.append(seen - d * 1000)
        add_ms = [p.durationMs.get("addBatch", 0) for p in progress]
        late = max((r - d) * 1000 for r, d in zip(released, due))
        backlog = layers.backlog_files(progress, released, batch_files)
        # the first batch starts on an idle stream; later ones find what
        # accumulated while the previous batch ran
        window = [n for t, n in backlog[1:] if t <= released[-1]]
        period_ms = 1000.0 / TAIL_FILES_PER_S
        invalid = ""
        if window and window[-1] > TAIL_BACKLOG_GROWTH * window[0] + TAIL_BACKLOG_SLACK:
            invalid = f"the backlog grew from {window[0]} to {window[-1]} files: the engine fell behind"
        elif late > period_ms:
            invalid = f"the generator released a file {late:.0f} ms late (> one period, {period_ms:.0f} ms)"
        info = {
            "tail_lag_p50_ms": (_quantile(lags, 0.5), len(lags)),
            "tail_lag_p90_ms": (_quantile(lags, 0.9), len(lags)),
            "tail.gen_late_max_ms": (late, len(released)),
            "tail.backlog_files_first": (window[0] if window else 0, len(window)),
            "tail.backlog_files_last": (window[-1] if window else 0, len(window)),
            "tail.micro_batches": (len(progress), len(progress)),
            "tail.offered_events_per_s": (TAIL_FILES_PER_S * TAIL_EVENTS_PER_FILE, len(due)),
        }
        self.progress = progress
        self.stream_timeline = (t_start, released, batch_files)
        first = sorted(b for b, fs in batch_files.items() if fs and b not in warm)[:2]
        m = maintain(self.table, self.tracer)
        return Run(
            table=self.table,
            apply_rate=sum(p.numInputRows for p in progress) / (sum(add_ms) / 1000.0),
            latency_ms=lags,
            info=info,
            detail={
                "lag_ms": lags,
                "backlog_files": [n for _t, n in backlog],
                "batches": [
                    (p.batchId, p.numInputRows, p.durationMs.get("addBatch"),
                     p.durationMs.get("triggerExecution"))
                    for p in progress
                ],
            },
            maintenance=m,
            oracle=self.orc,
            staged=[(f"cdc-{b}", lambda b=b: self._batch_df(batch_files[b])) for b in first],
            partial=True,
            attempted_ops=len(progress),
            invalid=invalid,
        )

    def _batch_df(self, paths: list[str]):
        from replicator_spark.streaming import feed_stream_schema

        return self.spark.read.schema(feed_stream_schema()).parquet(*paths)


WORKLOADS = {w.name: w for w in (BulkReplay, LiveTail)}


# -- helpers --------------------------------------------------------------


def _untraced(tracer, fn, *args):
    if tracer is None:
        return fn(*args)
    with tracer.untraced():
        return fn(*args)


def _request(tracer, req: str):
    return contextlib.nullcontext() if tracer is None else tracer.request(req)


def _quantile(xs, q: float, weights=None) -> float:
    """Lower-interpolated quantile; ``weights`` repeats each sample."""
    if not xs:
        return float("nan")
    if weights is None:
        s = sorted(xs)
        pos = q * (len(s) - 1)
        lo = int(pos)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (pos - lo)
    pairs = sorted(zip(xs, weights))
    total = sum(weights)
    acc = 0
    for x, w in pairs:
        acc += w
        if acc >= q * total:
            return x
    return pairs[-1][0]


def maintain(table, tracer) -> dict:
    """Explicit compaction that also expires tombstones older than
    ``TOMBSTONE_RETENTION`` seqs, then resolved full reads materialized
    into the client, the last written out for the oracle (not timed).

    Compaction is timed ``COMPACT_REPEATS`` times on the same input: the
    table itself and copies of its metadata (snapshots name data files by
    absolute path, so a copy compacts the same files into its own
    directory). The median compaction and the median of ``FULL_READS``
    reads, after ``FULL_READS_WARM`` untimed ones, are reported."""
    import pyarrow.parquet as pq
    from replicator_spark import commitlog as cl
    from replicator_spark.laketable import LakeTable

    max_seq = _untraced(tracer, _max_seq, table.root)
    copies = []
    for i in range(1, COMPACT_REPEATS):
        root = f"{table.root}-copy{i}"
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(cl.meta_dir(table.root), cl.meta_dir(root))
        copies.append(LakeTable(table.spark, root))
    compacts = []
    for t in copies + [table]:
        t0 = time.perf_counter()
        t.compact(expire_tombstones_below_seq=max_seq - TOMBSTONE_RETENTION)
        compacts.append(time.perf_counter() - t0)
    for t in copies:
        shutil.rmtree(t.root)
    reads = []
    for i in range(FULL_READS_WARM + FULL_READS):
        t0 = time.perf_counter()
        arrow = table.read().toArrow()
        if i >= FULL_READS_WARM:
            reads.append(time.perf_counter() - t0)
    out = os.path.join(WORK, "actual")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    pq.write_table(arrow, os.path.join(out, "part-0.parquet"))
    return {
        "compact_s": _quantile(compacts, 0.5),
        "full_read_s": _quantile(reads, 0.5),
        "actual_glob": os.path.join(out, "*.parquet"),
        "watermark": max_seq,
        "compact_samples_s": compacts,
        "full_read_samples_s": reads,
    }


def clean_work() -> None:
    for d in ("tables", "tail", "actual", "oracle"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    for p in glob.glob(os.path.join(WORK, "spark-local", "*")):
        shutil.rmtree(p, ignore_errors=True)
