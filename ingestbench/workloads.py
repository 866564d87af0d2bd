"""The ingest workloads, driven through the engine's public API.

Load model: one closed-loop client. A batch is committed, the client waits,
and only then sends the next — the way ``replay()``'s loop and
``stream_replay``'s ``foreachBatch`` call the engine. The seed reaches the
program only through ``ChangeLogParams.seed`` and the point-read key draw.

Sizes are scaled so that one invocation, set-up included, takes about a
minute on 4 quiet cores; the reasons for each workload are in README.md.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field, replace

from pyspark.sql import functions as F

from dibbs_ecr_refiner_spark.engine import ReplayEngine, batch_oracle, final_state_matches
from dibbs_ecr_refiner_spark.fixtures import changelog
from dibbs_ecr_refiner_spark.fixtures.changelog import BASE_TS, ChangeLogParams
from dibbs_ecr_refiner_spark.lake import maintenance
from dibbs_ecr_refiner_spark.lake.feed import ChangeFeedReader
from dibbs_ecr_refiner_spark.lake.table import LakeTable

# Module attributes (``changelog.write_changes``, ``maintenance.should_fold``)
# are looked up at call time so the traced run's wrappers see these calls.

CONVERSATIONS = 2000
TURNS = 24
BUCKETS = 16
FILES_PER_BATCH = 4      # one file per core: scan parallelism = cores
ZIPF_BOOST = 3.0         # the fixture's default conversation skew
OOO_WINDOW_S = 3600      # the fixture's default out-of-order ts window
BASE_EVENTS = 16_000     # the base table: 8x a mixed-workload batch
TAIL_LSN = 10_000_000    # follow-up logs start strictly after the base log
WARM_SHRINK = 20         # the backfill warm-up's batches are this much smaller


@dataclass(frozen=True)
class Workload:
    name: str
    batches: int
    events_per_batch: int
    on_base: bool           # starts from a copy of the folded base table
    point_reads: int        # per rep after a replay; per batch in mixed
    tail_reads: int = 5     # per rep after a replay (mixed: one per batch)
    feed_polls: int = 5     # per rep after a replay (mixed: one per batch)
    fold_every: int = 0     # mixed only: should_fold cadence in batches
    fold_threshold: int = 0  # mixed only: should_fold's max deltas per bucket


WORKLOADS = {
    w.name: w
    for w in (
        Workload("backfill", batches=4, events_per_batch=25_000, on_base=False, point_reads=24),
        Workload(
            "mixed", batches=4, events_per_batch=2000, on_base=True,
            point_reads=6, fold_every=4, fold_threshold=3,
        ),
    )
}


class OpFailed(Exception):
    """An engine call raised; already counted in ``Ctx.failed``."""


@dataclass
class Ctx:
    spark: object
    plan: object
    work: str
    seed: int
    tracer: object = None
    base_root: str | None = None
    base_params: ChangeLogParams | None = None
    attempted: int = 0
    failed: int = 0

    def op(self, fn):
        """One attempted engine call; a raise counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise OpFailed() from None

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)


@dataclass
class State:
    tag: str
    log: str
    table: LakeTable
    engine: ReplayEngine
    cursor: str
    batch_ids: list[str]
    batch_events: dict[str, int]
    input_bytes: int
    data_bytes0: int
    manifest_bytes0: int
    snapshot0: int


@dataclass
class Rep:
    events: int = 0
    ingest_s: float = 0.0   # wall of the ingest calls, folds included
    fold_s: float = 0.0
    batch_s: list[float] = field(default_factory=list)
    point_s: list[float] = field(default_factory=list)
    tail_s: list[float] = field(default_factory=list)
    poll_s: list[float] = field(default_factory=list)
    data_added: int = 0
    input_bytes: int = 0
    commits: int = 0
    manifest_added: int = 0
    timed_wall: float = 0.0  # the whole timed section, reads included

    @property
    def events_per_s(self) -> float:
        return self.events / self.ingest_s


def du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _params(wl: Workload, seed: int, **kw) -> ChangeLogParams:
    return ChangeLogParams(
        n_conversations=CONVERSATIONS,
        turns_per_conv=TURNS,
        n_events=wl.batches * wl.events_per_batch,
        n_batches=wl.batches,
        files_per_batch=FILES_PER_BATCH,
        seed=seed,
        **kw,
    )


def build_base(ctx: Ctx) -> float:
    """Once per invocation: the folded base table the steady-state
    workloads start from. One bulk batch, replayed straight from the
    (deterministic) generator, then a fold of every bucket, so each bucket
    is one stats-stamped base file — the layout the completion fold of a
    backfill leaves."""
    t = time.perf_counter()
    ctx.base_root = os.path.join(ctx.work, "base", "table")
    ctx.base_params = ChangeLogParams(
        n_conversations=CONVERSATIONS,
        turns_per_conv=TURNS,
        n_events=BASE_EVENTS,
        n_batches=1,
        seed=ctx.seed * 100 + 99,
        batch_prefix="base",
    )
    table = LakeTable(ctx.spark, ctx.base_root, num_buckets=BUCKETS)
    eng = ReplayEngine(ctx.spark, table, ctx.plan)
    eng.replay(changelog.generate_changes(ctx.spark, ctx.base_params))
    eng.fold_deltas(buckets=list(range(BUCKETS)))
    return time.perf_counter() - t


def warmup_workload(wl: Workload) -> Workload:
    """The workload shrunk for the throwaway warm-up rep, run through the
    same timed path: the same engine calls, commit modes, fold and reads
    on less data, so every plan the timed reps build is compiled first."""
    if wl.on_base:
        # one batch, then a should_fold check that folds every touched bucket
        return replace(wl, batches=1, fold_every=1, fold_threshold=0)
    # as many batches (auto mode then still commits merge-on-read and runs
    # the completion fold), each smaller, and each kind of read a few times
    return replace(
        wl, events_per_batch=wl.events_per_batch // WARM_SHRINK, point_reads=6, tail_reads=1, feed_polls=1
    )


def setup(ctx: Ctx, wl: Workload, rep: int) -> State:
    """Per-rep set-up: write this rep's seeded log, give it a fresh table
    (empty, or a copy of the base — the table is files plus manifests, so a
    copy is an identical fresh start), open the engine and park a
    change-feed cursor at the starting snapshot."""
    tag = f"rep{rep}"
    d = os.path.join(ctx.work, tag)
    log = os.path.join(d, "log")
    kw = {"base_lsn": TAIL_LSN, "batch_prefix": f"tail{rep}"} if wl.on_base else {}
    changelog.write_changes(ctx.spark, log, _params(wl, ctx.seed * 100 + rep, **kw))
    root = os.path.join(d, "table")
    if wl.on_base:
        shutil.copytree(ctx.base_root, root)
    table = LakeTable(ctx.spark, root, num_buckets=BUCKETS)
    eng = ReplayEngine(ctx.spark, table, ctx.plan)
    cursor = os.path.join(d, "cursor")
    if wl.on_base:
        reader = ChangeFeedReader(table, cursor)
        reader.poll()
        reader.commit()
    counts = (
        ctx.spark.read.parquet(log).groupBy("ingest_file").count().collect()
    )
    batch_events = {r["ingest_file"]: r["count"] for r in counts}
    snap = table.current_snapshot()
    return State(
        tag=tag,
        log=log,
        table=table,
        engine=eng,
        cursor=cursor,
        batch_ids=sorted(batch_events),
        batch_events=batch_events,
        input_bytes=du(log),
        data_bytes0=du(os.path.join(root, "data")),
        manifest_bytes0=du(os.path.join(root, "_manifests")),
        snapshot0=snap["snapshot_id"] if snap else 0,
    )


def _point_keys(seed: int, n: int) -> list[str]:
    """Conversation ids drawn with the generator's own Zipf skew, so hot
    conversations are looked up as often as they are written."""
    rng = random.Random(seed)
    return [
        f"conv-{min(int(rng.random() ** ZIPF_BOOST * CONVERSATIONS), CONVERSATIONS - 1)}"
        for _ in range(n)
    ]


def _tail_ts(wl: Workload, batch_index: int) -> datetime.datetime:
    """Start of the tail read: the first event time of batch ``batch_index``
    less the out-of-order window, i.e. roughly the last batch and a bit."""
    lsn = (TAIL_LSN if wl.on_base else 0) + batch_index * wl.events_per_batch
    base = datetime.datetime.fromisoformat(BASE_TS)
    return base + datetime.timedelta(seconds=lsn - OOO_WINDOW_S)


def _point_read(ctx: Ctx, st: State, key: str, rep: Rep) -> None:
    with ctx.span("bench.read_point") as s:
        t = time.perf_counter()
        rows = ctx.op(lambda: st.table.read_conversation(key).collect())
        rep.point_s.append(time.perf_counter() - t)
        if s is not None:
            s.attrs["rows"] = len(rows)


def _tail_read(ctx: Ctx, st: State, wl: Workload, batch_index: int, rep: Rep) -> None:
    since = _tail_ts(wl, batch_index)
    with ctx.span("bench.read_tail"):
        t = time.perf_counter()
        ctx.op(lambda: _noop(st.table.read_since(since)))
        rep.tail_s.append(time.perf_counter() - t)


def _feed_poll(ctx: Ctx, reader: ChangeFeedReader, rep: Rep) -> None:
    with ctx.span("bench.feed_poll"):
        t = time.perf_counter()
        ctx.op(lambda: (_noop(reader.poll()), reader.commit()))
        rep.poll_s.append(time.perf_counter() - t)


def _replay_ingest(ctx: Ctx, st: State, rep: Rep) -> None:
    with ctx.span("bench.ingest"):
        t = time.perf_counter()
        stats = ctx.op(lambda: st.engine.replay_path(st.log))
        rep.ingest_s = time.perf_counter() - t
    rep.events = stats.events
    rep.fold_s = stats.fold_seconds
    rep.batch_s = list(stats.batch_seconds)


def _probe_reads(ctx: Ctx, wl: Workload, st: State, rep: Rep, seed: int) -> None:
    """Reads after a replay: point lookups, tail reads, and feed polls that
    each deliver the whole ingest span from a cursor parked at set-up."""
    for key in _point_keys(seed, wl.point_reads):
        _point_read(ctx, st, key, rep)
    for _ in range(wl.tail_reads):
        _tail_read(ctx, st, wl, len(st.batch_ids) - 1, rep)
    for i in range(wl.feed_polls):
        cursor = f"{st.cursor}-{i}"
        if os.path.exists(st.cursor):
            shutil.copyfile(st.cursor, cursor)
        _feed_poll(ctx, ChangeFeedReader(st.table, cursor), rep)


def _mixed(ctx: Ctx, wl: Workload, st: State, rep: Rep, seed: int) -> None:
    """apply_batch exactly as ``stream_replay``'s foreachBatch calls it,
    a should_fold → fold_deltas check every ``fold_every`` batches, and
    after each batch: point reads, one tail read, one feed poll. The fold
    threshold sits just under the cadence, so the check folds the buckets
    every batch touched, as the engine's replay loop does with its default
    cadence and threshold of 8 once deltas pile up."""
    eng = st.engine
    reader = ChangeFeedReader(st.table, st.cursor)
    keys = iter(_point_keys(seed, wl.point_reads * len(st.batch_ids)))
    log = ctx.spark.read.parquet(st.log)
    for i, bid in enumerate(st.batch_ids):
        df = log.where(F.col("ingest_file") == bid)
        with ctx.span("bench.batch"):
            t = time.perf_counter()
            ctx.op(lambda: eng.apply_batch(df, bid, mode="auto"))
            dt = time.perf_counter() - t
        rep.batch_s.append(dt)
        rep.ingest_s += dt
        rep.events += st.batch_events[bid]
        if (i + 1) % wl.fold_every == 0:
            with ctx.span("bench.fold"):
                t = time.perf_counter()
                over = ctx.op(
                    lambda: maintenance.should_fold(st.table, max_deltas_per_bucket=wl.fold_threshold)
                )
                tf = time.perf_counter()
                if over:
                    ctx.op(lambda: eng.fold_deltas(buckets=over))
                rep.fold_s += time.perf_counter() - tf
                rep.ingest_s += time.perf_counter() - t
        for _ in range(wl.point_reads):
            _point_read(ctx, st, next(keys), rep)
        _tail_read(ctx, st, wl, i, rep)
        _feed_poll(ctx, reader, rep)


def run_rep(ctx: Ctx, wl: Workload, st: State, seed: int) -> Rep:
    """The timed part of one rep — ingest, then reads — under the
    ``bench.timed`` span, plus the table growth it caused."""
    rep = Rep(input_bytes=st.input_bytes)
    t = time.perf_counter()
    with ctx.span("bench.timed"):
        if wl.name == "mixed":
            _mixed(ctx, wl, st, rep, seed)
        else:
            _replay_ingest(ctx, st, rep)
            _probe_reads(ctx, wl, st, rep, seed)
    rep.timed_wall = time.perf_counter() - t
    root = st.table.root
    rep.data_added = du(os.path.join(root, "data")) - st.data_bytes0
    rep.manifest_added = du(os.path.join(root, "_manifests")) - st.manifest_bytes0
    snap = st.table.current_snapshot()
    rep.commits = (snap["snapshot_id"] if snap else 0) - st.snapshot0
    return rep


def gate(ctx: Ctx, wl: Workload, st: State) -> bool:
    """Correctness gate, outside the timing: the final table equals the
    batch oracle over every log the table consumed."""
    def check():
        changes = ctx.spark.read.parquet(st.log)
        if wl.on_base:
            base = changelog.generate_changes(ctx.spark, ctx.base_params)
            changes = base.unionByName(changes)
        return final_state_matches(st.table.read(), batch_oracle(changes, ctx.plan))

    ok = ctx.op(check)
    if not ok:
        ctx.failed += 1
        print(f"oracle mismatch: {wl.name} {st.tag}", file=sys.stderr)
    return ok
