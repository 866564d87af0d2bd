"""Per-layer metrics from one traced rep: spans joined with the Spark event
log. Every metric is a list of samples; the summary gives each one's
median, spread (IQR / median) and sample count. README.md maps each metric
to the end-to-end metric and workload it should move.

Scopes: the timed root's children are bench spans. ``bench.ingest``,
``bench.batch`` and ``bench.fold`` are the ingest scope; ``bench.read_*``
and ``bench.feed_poll`` the read scope. "Per batch" samples come from each
``engine.apply_batch`` span, "per merge" from each ingest ``lake.merge``
(merges inside ``lake.compact`` are fold work), "per rep" metrics are one
total over the rep's ingest scope.
"""

from __future__ import annotations

import statistics

from .trace import Job, Span, Task, children, covered, self_time

INGEST = ("bench.ingest", "bench.batch", "bench.fold")

LAYER_UNITS = {
    "session.start_s": "s",
    "setup.base_build_s": "s",
    "fixtures.changelog.write_changes.s": "s",
    "trace.events_per_s": "1/s",
    "trace.overhead_ratio": "ratio",
    "trace.self_share": "ratio",
    "trace.unattributed_share": "ratio",
    "trace.nesting_errors": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.jvm_gc_s": "s",
    "spark.task_skew": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_overhead_s": "s",
    "spark.output_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "driver_only_s": "s",
    "driver_only_share": "ratio",
    "spark.executor_run_share": "ratio",
    "py4j.calls": "count",
    "py4j.s": "s",
    "operators.plan_build_s": "s",
    "engine.replay.self_s": "s",
    "engine.apply_batch.self_s": "s",
    "engine.fold_deltas.s": "s",
    "lake.merge.s": "s",
    "lake.merge.write_s": "s",
    "lake.merge.finalize_s": "s",
    "lake.merge.driver_s": "s",
    "lake.merge.rows_written_per_event": "ratio",
    "lake.current_snapshot.calls": "count",
    "lake.current_snapshot.s": "s",
    "lake.read.s": "s",
    "lake.read.records_scanned_per_row_returned": "ratio",
    "lake.manifests.inflate.calls": "count",
    "lake.manifests.inflate.s": "s",
    "lake.manifests.deflate.calls": "count",
    "lake.manifests.deflate.s": "s",
    "lake.manifests.bytes_written": "bytes",
    "lake.compact.calls": "count",
    "lake.compact.s": "s",
    "lake.compact.buckets": "count",
    "lake.compact.bytes_rewritten": "bytes",
    "lake.should_fold.s": "s",
    "lake.feed.poll.s": "s",
    "lake.feed.rows": "count",
    "lake.feed.commit.s": "s",
}


class Index:
    """Span tree + event log, indexed for subtree queries."""

    def __init__(self, spans: list[Span], jobs: dict[int, Job], stage_job: dict[int, int], tasks: list[Task]):
        self.by_id = {s.id: s for s in spans}
        self.kids = children(spans)
        self.jobs_by_span: dict[int, list[Job]] = {}
        for j in jobs.values():
            if j.span is not None:
                self.jobs_by_span.setdefault(j.span, []).append(j)
        self.tasks_by_job: dict[int, list[Task]] = {}
        for t in tasks:
            jid = stage_job.get(t.stage)
            if jid is not None:
                self.tasks_by_job.setdefault(jid, []).append(t)

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.kids.get(s.id, []))
        return out

    def outermost(self, span: Span, prefix: str) -> list[Span]:
        """Spans under ``span`` whose name starts with ``prefix`` and that
        have no ancestor of the same prefix below ``span``."""
        out, todo = [], list(self.kids.get(span.id, []))
        while todo:
            s = todo.pop()
            if s.name.startswith(prefix):
                out.append(s)
            else:
                todo.extend(self.kids.get(s.id, []))
        return out

    def jobs(self, spans: list[Span]) -> list[Job]:
        return [j for s in spans for j in self.jobs_by_span.get(s.id, [])]

    def tasks(self, jobs: list[Job]) -> list[Task]:
        return [t for j in jobs for t in self.tasks_by_job.get(j.id, [])]

    def under(self, span: Span, name: str) -> bool:
        p = span.parent
        while p is not None:
            if self.by_id[p].name == name:
                return True
            p = self.by_id[p].parent
        return False


def _skew(tasks: list[Task]) -> float | None:
    """Largest over median task run time in the stage that wrote the most
    output bytes (the merge's write stage)."""
    by_stage: dict[int, list[Task]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t)
    writes = [ts for ts in by_stage.values() if sum(t.out_bytes for t in ts) > 0]
    if not writes:
        return None
    stage = max(writes, key=lambda ts: sum(t.out_bytes for t in ts))
    runs = [t.run_s for t in stage]
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else None


def per_layer(
    ix: Index, root: Span, cores: int, events: int, commits: int, manifest_added: int, compact_bytes: int
) -> dict[str, list[float]]:
    top = ix.kids.get(root.id, [])
    ingest = [s for s in top if s.name in INGEST]
    ingest_spans = [x for s in ingest for x in ix.subtree(s)]
    ingest_jobs = ix.jobs(ingest_spans)
    ingest_tasks = ix.tasks(ingest_jobs)
    m: dict[str, list[float]] = {}

    def total(name: str, value: float) -> None:
        m[name] = [value]

    # spark, ingest scope, one total per rep
    total("spark.executor_run_s", sum(t.run_s for t in ingest_tasks))
    total("spark.executor_cpu_s", sum(t.cpu_s for t in ingest_tasks))
    total("spark.shuffle_write_bytes", sum(t.shuffle_write for t in ingest_tasks))
    total("spark.shuffle_read_bytes", sum(t.shuffle_read for t in ingest_tasks))
    total("spark.spill_bytes", sum(t.spill for t in ingest_tasks))
    total("spark.jvm_gc_s", sum(t.gc_s for t in ingest_tasks))
    total("spark.output_bytes", sum(t.out_bytes for t in ingest_tasks))

    # per batch
    batches = [
        s for s in ingest_spans if s.name == "engine.apply_batch" and not s.attrs.get("skipped")
    ]
    for name in (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.task_overhead_s", "driver_only_s",
        "driver_only_share", "spark.executor_run_share", "py4j.calls", "py4j.s",
        "operators.plan_build_s", "engine.apply_batch.self_s",
        "lake.current_snapshot.calls", "lake.current_snapshot.s",
    ):
        m[name] = []
    for b in batches:
        sub = ix.subtree(b)
        jobs = ix.jobs(sub)
        tasks = ix.tasks(jobs)
        snaps = ix.outermost(b, "lake.current_snapshot")
        m["spark.jobs"].append(len(jobs))
        m["spark.stages"].append(len({t.stage for t in tasks}))
        m["spark.tasks"].append(len(tasks))
        m["spark.task_overhead_s"].append(sum(t.finish - t.launch - t.run_s for t in tasks))
        driver_only = b.dur - covered([(j.submit, j.end) for j in jobs], b.start, b.end)
        m["driver_only_s"].append(driver_only)
        # where the batch's wall goes: the driver alone, or busy executor cores
        m["driver_only_share"].append(driver_only / b.dur)
        m["spark.executor_run_share"].append(sum(t.run_s for t in tasks) / (cores * b.dur))
        m["py4j.calls"].append(b.py4j_calls)
        m["py4j.s"].append(b.py4j_s)
        m["operators.plan_build_s"].append(sum(s.dur for s in ix.outermost(b, "operators.")))
        m["engine.apply_batch.self_s"].append(self_time(b, ix.kids))
        m["lake.current_snapshot.calls"].append(len(snaps))
        m["lake.current_snapshot.s"].append(sum(s.dur for s in snaps))

    # merges of ingest batches (compaction merges are fold work)
    merges = [
        s for s in ingest_spans if s.name == "lake.merge" and not ix.under(s, "lake.compact")
    ]
    m["spark.task_skew"] = []
    m["lake.merge.s"] = [s.dur for s in merges]
    m["lake.merge.write_s"] = [s.attrs.get("write_s", 0.0) for s in merges]
    m["lake.merge.finalize_s"] = [s.attrs.get("finalize_s", 0.0) for s in merges]
    m["lake.merge.driver_s"] = []
    records = 0
    for s in merges:
        jobs = ix.jobs(ix.subtree(s))
        tasks = ix.tasks(jobs)
        records += sum(t.out_records for t in tasks)
        m["lake.merge.driver_s"].append(s.dur - covered([(j.submit, j.end) for j in jobs], s.start, s.end))
        skew = _skew(tasks)
        if skew is not None:
            m["spark.task_skew"].append(skew)
    total("lake.merge.rows_written_per_event", records / events)

    # engine
    m["engine.replay.self_s"] = [self_time(s, ix.kids) for s in ingest_spans if s.name == "engine.replay"]
    folds = [x for s in ingest for x in ix.outermost(s, "engine.fold_deltas")]
    total("engine.fold_deltas.s", sum(s.dur for s in folds))

    # manifests, per commit
    def calls(prefix: str) -> list[Span]:
        return [x for s in ingest for x in ix.outermost(s, prefix)]

    inflates, deflates = calls("lake.manifests.inflate"), calls("lake.manifests.deflate")
    n = max(commits, 1)
    total("lake.manifests.inflate.calls", len(inflates) / n)
    total("lake.manifests.inflate.s", sum(s.dur for s in inflates) / n)
    total("lake.manifests.deflate.calls", len(deflates) / n)
    total("lake.manifests.deflate.s", sum(s.dur for s in deflates) / n)
    total("lake.manifests.bytes_written", manifest_added / n)

    # maintenance, per rep
    compacts = calls("lake.compact")
    total("lake.compact.calls", len(compacts))
    total("lake.compact.s", sum(s.dur for s in compacts))
    total("lake.compact.buckets", sum(s.attrs.get("buckets", 0) for s in compacts))
    total("lake.compact.bytes_rewritten", compact_bytes)
    total("lake.should_fold.s", sum(s.dur for s in calls("lake.should_fold")))

    # read scope
    def reads(name: str) -> list[Span]:
        return [s for s in top if s.name == name]

    m["spark.input_bytes"] = [
        sum(t.in_bytes for t in ix.tasks(ix.jobs(ix.subtree(s)))) for s in reads("bench.read_tail")
    ]
    points = reads("bench.read_point")
    m["lake.read.s"] = [sum(x.dur for x in ix.outermost(s, "lake.read")) for s in points]
    m["lake.read.records_scanned_per_row_returned"] = [
        sum(t.in_records for t in ix.tasks(ix.jobs(ix.subtree(s)))) / max(1, s.attrs.get("rows", 0))
        for s in points
    ]
    polls = reads("bench.feed_poll")
    m["lake.feed.poll.s"] = [x.dur for s in polls for x in ix.outermost(s, "lake.feed.poll")]
    m["lake.feed.commit.s"] = [x.dur for s in polls for x in ix.outermost(s, "lake.feed.commit")]
    m["lake.feed.rows"] = [
        sum(t.in_records for t in ix.tasks(ix.jobs(ix.subtree(s)))) for s in polls
    ]
    return m


def summarize(samples: dict[str, list[float]]) -> dict[str, dict]:
    """{metric: {median, spread, n}} for every metric in LAYER_UNITS; a
    metric with no samples in this workload (no replay() call in the
    mixed workload, no base table in backfill) reads 0 with n = 0."""
    out = {}
    for name in LAYER_UNITS:
        xs = samples.get(name, [])
        if not xs:
            out[name] = {"median": 0.0, "spread": 0.0, "n": 0}
            continue
        med = statistics.median(xs)
        spread = 0.0
        if len(xs) >= 2 and med:
            q = statistics.quantiles(xs, n=4)
            spread = (q[2] - q[0]) / abs(med)
        out[name] = {"median": med, "spread": spread, "n": len(xs)}
    return out
