"""Self-checks for the benchmark's tracing. Run from the repository root:

    python -m pytest ingestbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import re
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

from ingestbench import run
from ingestbench.layers import INGEST, LAYER_UNITS, Index, per_layer
from ingestbench.workloads import WORKLOADS
from ingestbench.trace import (
    SPAN_PROP,
    Span,
    Tracer,
    check_nesting,
    children,
    parse_event_log,
    self_time,
    unattributed_share,
)

ROOT = Path(__file__).resolve().parent.parent
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_spans_nest_and_self_time_adds_up():
    tr = Tracer()
    with tr.span("root") as root:
        with tr.span("a"):
            time.sleep(0.01)
            with tr.span("a.inner"):
                time.sleep(0.01)
        with tr.span("b"):
            time.sleep(0.01)
    assert check_nesting(tr.spans) == []
    kids = children(tr.spans)
    for s in tr.spans:
        assert self_time(s, kids) + sum(c.dur for c in kids.get(s.id, [])) == pytest.approx(s.dur)
    assert [s.parent for s in tr.spans] == [None, root.id, 2, root.id]


def test_check_nesting_flags_overlap_and_escape():
    spans = [
        Span(1, "root", None, None, 0.0, 10.0),
        Span(2, "a", 1, None, 1.0, 5.0),
        Span(3, "b", 1, None, 4.0, 6.0),     # overlaps a
        Span(4, "c", 2, None, 4.5, 7.0),     # ends after its parent a
    ]
    errs = check_nesting(spans)
    assert any("overlap" in e for e in errs)
    assert any("escapes" in e for e in errs)


def _batch_loop(tr: Tracer, engine) -> Span:
    with tr.span("bench.timed") as root:
        for _ in range(3):
            with tr.span("bench.batch"):
                engine.apply()
            with tr.span("bench.fold"):
                engine.fold()
    return root


def test_unattributed_share_flags_a_missing_wrapper():
    def engine():
        return SimpleNamespace(apply=lambda: time.sleep(0.02), fold=lambda: time.sleep(0.01))

    tr = Tracer()
    eng = engine()
    tr.wrap(eng, "apply", "engine.apply")
    tr.wrap(eng, "fold", "engine.fold")
    root = _batch_loop(tr, eng)
    assert unattributed_share(tr.spans, root, INGEST) < 0.05

    # the same loop with the fold wrapper left out: a third of the wall
    # is no longer accounted for by any layer
    tr = Tracer()
    eng = engine()
    tr.wrap(eng, "apply", "engine.apply")
    root = _batch_loop(tr, eng)
    assert check_nesting(tr.spans) == []
    assert unattributed_share(tr.spans, root, INGEST) > 0.25


def test_wrap_patches_and_restores():
    owner = SimpleNamespace(f=lambda x: x + 1)
    orig = owner.f
    tr = Tracer()
    tr.wrap(owner, "f", "layer.f", on_result=lambda s, out: s.attrs.update(out=out))
    assert owner.f(1) == 2
    tr.uninstall()
    assert owner.f is orig
    assert [(s.name, s.attrs["out"]) for s in tr.spans] == [("layer.f", 2)]


def test_metric_names_match_benchmark_json():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layers == LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    for name in [*e2e, *layers]:
        assert NAME.fullmatch(name), name


@pytest.fixture(scope="module")
def traced_replay(tmp_path_factory):
    """A tiny replay with every layer wrapped and the event log on."""
    tmp = tmp_path_factory.mktemp("ingestbench")
    for d in ("local", "tmp", "eventlog"):
        (tmp / d).mkdir()
    spark = run._start_spark(tmp, cores=2, trace=True)
    from dibbs_ecr_refiner_spark.engine import ReplayEngine
    from dibbs_ecr_refiner_spark.fixtures.changelog import ChangeLogParams, write_changes
    from dibbs_ecr_refiner_spark.lake.table import LakeTable
    from dibbs_ecr_refiner_spark.plans.config import default_plan

    log = str(tmp / "log")
    write_changes(spark, log, ChangeLogParams(n_conversations=20, n_events=400, n_batches=4, files_per_batch=1))
    sc = spark.sparkContext
    tr = Tracer(set_span_property=lambda v: sc.setLocalProperty(SPAN_PROP, v))
    tr.count_py4j(sc._gateway._gateway_client)
    run._install(tr)
    try:
        with tr.span("bench.timed") as root:
            table = LakeTable(spark, str(tmp / "table"), num_buckets=4)
            engine = ReplayEngine(spark, table, default_plan())
            with tr.span("bench.ingest"):
                stats = engine.replay_path(log)
            with tr.span("bench.read_point"):
                probe = spark.range(7).collect()
    finally:
        tr.uninstall()
    run._stop_spark(spark)
    jobs, stage_job, tasks = parse_event_log(run._event_log(tmp))
    return SimpleNamespace(
        spans=tr.spans, root=root, stats=stats, probe=probe, jobs=jobs, stage_job=stage_job, tasks=tasks
    )


def test_event_log_jobs_attributed_to_submitting_span(traced_replay):
    t = traced_replay
    by_id = {s.id: s for s in t.spans}
    attributed = [j for j in t.jobs.values() if j.span is not None]
    assert attributed, "no job carried the span property"
    names = {by_id[j.span].name for j in attributed}
    # the replay pre-pass collect runs in replay() itself; the staged parquet
    # write runs inside merge; the probe's collect inside its bench span
    assert "engine.replay" in names
    assert "lake.merge" in names
    assert "bench.read_point" in names
    for j in attributed:
        s = by_id[j.span]
        assert s.start - 0.002 <= j.submit <= s.end + 0.002, (s.name, j)
    # every job that wrote files while traced ran under lake.merge (the
    # fixture log was written before tracing started)
    traced_writes = [
        t.jobs[t.stage_job[tk.stage]]
        for tk in t.tasks
        if tk.out_bytes > 0 and t.jobs[t.stage_job[tk.stage]].submit >= t.root.start
    ]
    assert traced_writes
    for j in traced_writes:
        assert j.span is not None and by_id[j.span].name == "lake.merge"


def test_engine_spans_nest_and_cover_wall(traced_replay):
    t = traced_replay
    assert check_nesting(t.spans) == []
    # every engine call the replay makes is under a wrapped layer span
    assert unattributed_share(t.spans, t.root, INGEST) < 0.05
    names = {s.name for s in t.spans}
    for want in (
        "engine.replay_path", "engine.replay", "engine.apply_batch", "engine.fold_deltas",
        "operators.normalize_changes", "operators.lww_resolve", "operators.refine",
        "operators.enrich_displays", "lake.merge", "lake.current_snapshot",
        "lake.manifests.inflate", "lake.manifests.deflate", "lake.compact",
    ):
        assert want in names, want


def test_per_layer_metrics_from_tiny_replay(traced_replay):
    t = traced_replay
    ix = Index(t.spans, t.jobs, t.stage_job, t.tasks)
    m = per_layer(
        ix, t.root, 2, t.stats.events, commits=t.stats.batches + 1, manifest_added=1, compact_bytes=1
    )
    assert set(m) <= set(LAYER_UNITS)
    assert len(m["spark.jobs"]) == t.stats.batches
    assert min(m["spark.jobs"]) >= 1
    assert m["spark.output_bytes"][0] > 0
    assert all(0 <= d <= s for d, s in zip(m["lake.merge.driver_s"], m["lake.merge.s"]))
    assert all(0 <= x <= 1 for x in m["driver_only_share"] + m["spark.executor_run_share"])
