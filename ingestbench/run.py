"""Ingest benchmark for the CDC engine: one seeded workload per invocation.

    python3 ingestbench/run.py --workload backfill --seed 1 --seconds 8 --trace 0

Run from the repository root. With ``--trace 0`` the last stdout line is
the end-to-end metrics; with ``--trace 1`` it is the per-layer metrics of
a traced rep, preceded by a ``{"per_layer_summary": ...}`` line. Every
invocation also writes ``.ingestbench/results/<workload>-seed<n>-trace<t>.json``
(environment, metrics, summary; spans when traced). All scratch data
lives under ``.ingestbench/`` in the repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DRIVER_MEMORY = "2g"   # heap + the run's on-disk data fit a 15 GB box
BUDGET_S = 110         # stop adding timed reps past this (limit is 180 s)
MIN_SETUPS = 3         # the per-rep part of setup_s is a median of this many
MAX_UNATTRIBUTED = 0.05  # traced spans must account for the timed wall

E2E_UNITS = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "batch_commit_s.p50": "s",
    "fold_s": "s",
    "read_point_s.p50": "s",
    "read_tail_s.p50": "s",
    "feed_poll_s.p50": "s",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}


def _pin_environment(run_dir: Path) -> None:
    """Same settings on every side of a comparison: fixed heap, scratch
    inside the checkout, no experiment hooks from the caller's shell."""
    for k in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_MAX_PART_BYTES", "SPARK_GRAFT_CPUS", "JAVA_TOOL_OPTIONS"):
        os.environ.pop(k, None)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    # spark-submit's launcher JVM would otherwise leave perf data in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def _start_spark(run_dir: Path, cores: int, trace: bool):
    from dibbs_ecr_refiner_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(run_dir / "local"),
        # the package's own GC flags; the heap fixed at its maximum from the
        # start, so its growth (and so peak RSS) does not depend on when GC
        # happened to run; JVM scratch kept in the checkout
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+UseG1GC -XX:MaxGCPauseMillis=300 -XX:-UsePerfData "
            f"-Djava.io.tmpdir={run_dir / 'tmp'}"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(run_dir / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="ingestbench", cores=cores, extra_conf=conf)


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs (a noisy
    host shows here, not in the benchmark's own numbers)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb(proc) -> float:
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit (it exits on
    EOF on its stdin)."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _e2e(reps, once_s: float, rep_setups: list[float], rss: float) -> dict[str, float]:
    return {
        # everything before the first timed rep: session start, base table,
        # warm-up, and one rep's set-up (the median of several)
        "setup_s": once_s + statistics.median(rep_setups),
        "events_per_s": sum(r.events for r in reps) / sum(r.ingest_s for r in reps),
        "batch_commit_s.p50": statistics.median(x for r in reps for x in r.batch_s),
        "fold_s": statistics.median(r.fold_s for r in reps),
        "read_point_s.p50": statistics.median(x for r in reps for x in r.point_s),
        "read_tail_s.p50": statistics.median(x for r in reps for x in r.tail_s),
        "feed_poll_s.p50": statistics.median(x for r in reps for x in r.poll_s),
        "write_amp": sum(r.data_added for r in reps) / sum(r.input_bytes for r in reps),
        "peak_rss_mb": rss,
    }


def _compact_bytes(table, snapshot0: int) -> int:
    """Bytes of the files maintenance rewrites committed after
    ``snapshot0`` (a rewritten file stays listed in later snapshots, so
    each path counts once)."""
    seen: dict[str, int] = {}
    for v in range(snapshot0 + 1, table.current_snapshot()["snapshot_id"] + 1):
        for f in table.snapshot(v)["files"]:
            if f.get("rewrite"):
                seen[f["path"]] = f["bytes"]
    return sum(seen.values())


def _traced_rep(ctx, wl, W, rep_index: int, reps, init: dict, cores: int):
    """One more rep with every layer wrapped. Returns per-layer samples
    that need no event log, and the spans."""
    from ingestbench.layers import INGEST
    from ingestbench.trace import SPAN_PROP, Tracer, check_nesting, unattributed_share

    sc = ctx.spark.sparkContext
    tracer = Tracer(set_span_property=lambda v: sc.setLocalProperty(SPAN_PROP, v))
    tracer.run = f"rep{rep_index}"
    tracer.count_py4j(sc._gateway._gateway_client)
    _install(tracer)
    ctx.tracer = tracer
    try:
        with tracer.span("bench.setup"):
            st = W.setup(ctx, wl, rep_index)
        own0 = tracer.own_s
        rep = W.run_rep(ctx, wl, st, ctx.seed * 100 + rep_index)
        own = tracer.own_s - own0
        with tracer.span("bench.gate"):
            W.gate(ctx, wl, st)
    finally:
        tracer.uninstall()
        ctx.tracer = None
    compact_bytes = _compact_bytes(st.table, st.snapshot0)
    shutil.rmtree(os.path.join(ctx.work, st.tag))
    spans = tracer.spans
    root = next(s for s in spans if s.name == "bench.timed")
    nesting = check_nesting(spans)
    lost = unattributed_share(spans, root, INGEST)
    if nesting or lost > MAX_UNATTRIBUTED:
        # the trace cannot be trusted: fail the run rather than report it
        ctx.failed += 1
        print(f"ingestbench: trace self-check failed: unattributed {lost:.3f}, {nesting[:5]}", file=sys.stderr)
    untraced = statistics.median(r.events_per_s for r in reps)
    samples = {
        "trace.events_per_s": [rep.events_per_s],
        "trace.overhead_ratio": [untraced / rep.events_per_s],
        "trace.self_share": [own / rep.timed_wall],
        "trace.unattributed_share": [lost],
        "trace.nesting_errors": [len(nesting)],
        "fixtures.changelog.write_changes.s": [
            s.dur for s in spans if s.name == "fixtures.changelog.write_changes"
        ],
        **{k: [v] for k, v in init.items()},
        "_rep": (root, cores, rep, compact_bytes),
    }
    return samples, spans


def _join_event_log(run_dir: Path, spans, rep_info) -> dict[str, list[float]]:
    from ingestbench.layers import Index, per_layer
    from ingestbench.trace import parse_event_log

    root, cores, rep, compact_bytes = rep_info
    ix = Index(spans, *parse_event_log(_event_log(run_dir)))
    return per_layer(ix, root, cores, rep.events, rep.commits, rep.manifest_added, compact_bytes)


def _install(tracer) -> None:
    """Wrap each layer's public functions on the name its caller looks up."""
    from dibbs_ecr_refiner_spark import engine
    from dibbs_ecr_refiner_spark.fixtures import changelog
    from dibbs_ecr_refiner_spark.lake import feed, maintenance, manifests, table
    from dibbs_ecr_refiner_spark.operators import cdc, enrich

    def batch_result(span, out):
        span.attrs["skipped"] = bool(out.get("skipped"))

    def merge_result(span, out):
        span.attrs["write_s"] = out.get("write_sec", 0.0)
        span.attrs["finalize_s"] = out.get("finalize_sec", 0.0)

    def compact_result(span, out):
        span.attrs["buckets"] = out.get("compacted_buckets", 0)

    RE = engine.ReplayEngine
    tracer.wrap(changelog, "write_changes", "fixtures.changelog.write_changes")
    tracer.wrap(RE, "replay_path", "engine.replay_path")
    tracer.wrap(RE, "replay", "engine.replay")
    tracer.wrap(RE, "apply_batch", "engine.apply_batch", batch_result)
    tracer.wrap(RE, "fold_deltas", "engine.fold_deltas")
    # operators only build plans on the driver; engine.py imported these
    # names at load time, so its module globals are what apply_batch sees
    tracer.wrap(engine, "normalize_changes", "operators.normalize_changes")
    tracer.wrap(engine, "enrich_displays", "operators.enrich_displays")
    tracer.wrap_factory(engine, "compile_refinement", "operators.refine")
    tracer.wrap(cdc, "lww_resolve", "operators.lww_resolve")
    tracer.wrap(enrich, "enrich_displays", "operators.enrich_displays")
    tracer.wrap(enrich, "narrative_index", "operators.narrative_index")
    tracer.wrap(enrich, "config_display_expr", "operators.config_display_expr")
    LT = table.LakeTable
    tracer.wrap(LT, "merge", "lake.merge", merge_result)
    tracer.wrap(LT, "current_snapshot", "lake.current_snapshot")
    tracer.wrap(LT, "read", "lake.read")
    # table.py calls these through its ``_mf`` module alias
    tracer.wrap(manifests, "inflate", "lake.manifests.inflate")
    tracer.wrap(manifests, "deflate", "lake.manifests.deflate")
    # engine.py imports these at call time, from the module
    tracer.wrap(maintenance, "compact", "lake.compact", compact_result)
    tracer.wrap(maintenance, "should_fold", "lake.should_fold")
    tracer.wrap(feed.ChangeFeedReader, "poll", "lake.feed.poll")
    tracer.wrap(feed.ChangeFeedReader, "commit", "lake.feed.commit")


def _event_log(run_dir: Path) -> str:
    files = [p for p in (run_dir / "eventlog").iterdir() if not p.name.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log, found {files}")
    return str(files[0])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = ROOT / ".ingestbench"
    run_dir = work / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    # scratch dirs exist before anything imports tempfile or starts a JVM,
    # so nothing falls back to the system temp dir
    for d in ("local", "tmp", "eventlog"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    _pin_environment(run_dir)
    sys.path.insert(0, str(ROOT))
    try:
        try:
            import dibbs_ecr_refiner_spark  # noqa: F401
            from ingestbench import workloads as W
        except ImportError as e:
            print(f"ingestbench: cannot import the engine: {e}", file=sys.stderr)
            return 2
        if args.workload not in W.WORKLOADS:
            print(f"ingestbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        return _run(args, W.WORKLOADS[args.workload], W, run_dir, work)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _setup(W, ctx, wl, i: int, samples: list[float]):
    t = time.perf_counter()
    st = W.setup(ctx, wl, i)
    samples.append(time.perf_counter() - t)
    return st


def _run(args, wl, W, run_dir: Path, work: Path) -> int:
    import pyspark

    from dibbs_ecr_refiner_spark.plans.config import default_plan

    t_start = time.perf_counter()
    steal0 = _steal_s()
    cores = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = _start_spark(run_dir, cores, bool(args.trace))
    init = {"session.start_s": time.perf_counter() - t}
    gateway_proc = spark.sparkContext._gateway.proc
    ctx = W.Ctx(spark=spark, plan=default_plan(), work=str(run_dir / "data"), seed=args.seed)
    env = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "driver_memory": DRIVER_MEMORY,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "batches": wl.batches,
        "events_per_batch": wl.events_per_batch,
    }
    result: dict = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    reps, layer_samples, spans, phases, rep_setups = [], {}, [], {}, []
    stopped = False
    try:
        if wl.on_base:
            init["setup.base_build_s"] = ctx.op(lambda: W.build_base(ctx))
            env["base_events"] = W.BASE_EVENTS
            env["base_table_bytes"] = W.du(ctx.base_root)
        # warm-up: the workload run once, smaller, on a throwaway table, so
        # timed reps start with compiled plans and a warm JIT
        phases["init"] = time.perf_counter() - t_start
        warm = W.warmup_workload(wl)
        st = W.setup(ctx, warm, 0)
        W.run_rep(ctx, warm, st, args.seed * 100)
        shutil.rmtree(os.path.join(ctx.work, st.tag))
        phases["warmup"] = time.perf_counter() - t_start - sum(phases.values())
        setup_once = time.perf_counter() - t_start
        env["table_bytes_after_setup"] = st.data_bytes0

        i = 1
        while True:
            st = _setup(W, ctx, wl, i, rep_setups)
            rep = W.run_rep(ctx, wl, st, args.seed * 100 + i)
            tg = time.perf_counter()
            W.gate(ctx, wl, st)
            phases["gate"] = phases.get("gate", 0.0) + time.perf_counter() - tg
            shutil.rmtree(os.path.join(ctx.work, st.tag))
            reps.append(rep)
            i += 1
            timed = sum(r.timed_wall for r in reps)
            if timed >= args.seconds or time.perf_counter() - t_start > BUDGET_S:
                break
        if args.trace:
            layer_samples, spans = _traced_rep(ctx, wl, W, i, reps, init, cores)
            i += 1
        while not args.trace and len(rep_setups) < MIN_SETUPS:  # only setup_s needs them
            st = _setup(W, ctx, wl, i, rep_setups)
            shutil.rmtree(os.path.join(ctx.work, st.tag))
            i += 1
        phases["rest"] = time.perf_counter() - t_start - sum(phases.values())
        rss = _peak_rss_mb(gateway_proc)
        _stop_spark(spark)
        stopped = True
        if args.trace:
            layer_samples.update(_join_event_log(run_dir, spans, layer_samples.pop("_rep")))
    except W.OpFailed:
        pass
    finally:
        if not stopped:
            _stop_spark(spark)

    result["attempted"], result["failed"] = ctx.attempted, ctx.failed
    result["correct"] = ctx.failed == 0 and bool(reps)
    env["events"] = [r.events for r in reps]
    env["input_bytes"] = [r.input_bytes for r in reps]
    env["rep_setup_s"] = rep_setups
    env["init"] = init
    env["phase_s"] = phases
    env["host_steal_s"] = _steal_s() - steal0
    env["failed_op_ratio"] = ctx.failed / max(1, ctx.attempted)
    record = {"env": env, "samples": [vars(r) for r in reps]}
    if result["correct"]:
        if args.trace:
            from ingestbench.layers import LAYER_UNITS, summarize

            summary = summarize(layer_samples)
            record["per_layer_summary"] = summary
            record["spans"] = [vars(s) for s in spans]
            print(json.dumps({"per_layer_summary": summary}))
            result["metrics"] = {
                k: {"value": v["median"], "unit": LAYER_UNITS[k]} for k, v in summary.items()
            }
        else:
            metrics = _e2e(reps, setup_once, rep_setups, rss)
            result["metrics"] = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    record["result"] = result
    (work / "results").mkdir(parents=True, exist_ok=True)
    out = work / "results" / f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(record, indent=1))
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
