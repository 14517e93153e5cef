#!/usr/bin/env python3
"""Closed-loop, single-client benchmark of the engine in this checkout.

    python3 perfbench/run.py --workload {rest_backfill,lake_analytics}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Set-up (session start, staging,
reference answers, shared stages, warm-up ops) is timed as ``setup_s``;
then a fixed number of ops, set by ``--seconds`` and the workload's
nominal op time, runs one after another, and every op's output is
checked after its timed region. Human-readable report lines go to
standard output first; the last line is one JSON object. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics.

Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit; the Spark JVM and its Python workers
are stopped and waited for before the result is printed. Spark writes
through the OS page cache without fsync, on both sides of any
comparison.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PKG = "fitness_data_ingest_spark"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "1/s",
    "cpu_s_per_mrow": "s",
    "peak_rss_mb": "MB",
    "ok_op_share": "share",
}
PER_LAYER = {
    "session.start_s": "s",
    "ingest.work_items": "count",
    "ingest.fetch_s_per_item": "s",
    "ingest.rows_per_item": "count",
    "ingest.plan_s": "s",
    "ingest.pending_share": "share",
    "io.manifest_s": "s",
    "io.manifest_files": "count",
    "io.write_s": "s",
    "io.files_written": "count",
    "io.bytes_per_row": "B",
    "io.commit_s": "s",
    "io.commit_retries": "count",
    "registry.plan_s": "s",
    "registry.stage_build_s": "s",
    "registry.stage_reads": "count",
    "ops.exec_s": "s",
    "stream.exec_s": "s",
    "sql.exec_s": "s",
    "ext.dedup.exec_s": "s",
    "ext.dedup.candidate_pairs": "count",
    "ext.dedup.candidate_precision": "share",
    "ext.similarity.exec_s": "s",
    "ext.similarity.candidates_per_query": "count",
    "ext.text.exec_s": "s",
    "spark.tasks_per_op": "count",
    "spark.task_p50_ms": "ms",
    "spark.shuffle_write_mb": "MB",
    "spark.python_wait_s": "s",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "spark.executor_cpu_s": "s",
    "host.steal_share": "share",
    "bench.tracing_overhead_share": "share",
}
# local[nproc]: without an explicit master the engine defaults to local[32]
CPUS = len(os.sched_getaffinity(0))


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples above it,
    but never below p75: a run that fits the benchmark's time budget
    (BENCHMARK.json's run count within 3,420 s) holds 5 to 34 ops, too
    few for ten samples beyond p75."""
    return max(75, (100 * (n - 10)) // n) if n else 75


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, -(-p * len(s) // 100) - 1)]


class Context:
    """What a workload needs from the run: seed, work dir, session,
    tracer, and the registry's queries once loaded."""

    def __init__(self, args, work: str, tracer) -> None:
        self.seed = args.seed
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.queries = None


def start_session(work: str, trace: bool):
    from fitness_data_ingest_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the Spark driver JVM commits its whole heap up front, so resident
        # memory does not hinge on when the heap happened to grow
        "spark.driver.extraJavaOptions": "-Xms1g",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            # zstd, the default codec, needs a module this image lacks
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app_name="perfbench", master=f"local[{CPUS}]", shuffle_partitions=32,
        extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    import procstat

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 20
    while len(procstat.tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in procstat.tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def hermetic_env(work: str) -> None:
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers import the engine (the fitness_rest reader lives there)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the launcher starts keeps its temp files in the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]


def run(args) -> dict:
    import procstat
    import workloads
    from tracing import Tracer, median0, read_event_log

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    hermetic_env(work)
    trace = bool(args.trace)
    tracer = Tracer(enabled=trace)
    ctx = Context(args, work, tracer)
    rss = procstat.PeakRss(os.getpid())
    steal0, total0 = procstat.host_cpu()
    psi0 = procstat.cpu_pressure_total_us()
    wall0 = time.perf_counter()
    try:
        wl = {
            "rest_backfill": workloads.RestBackfill,
            "lake_analytics": workloads.LakeAnalytics,
        }[args.workload](ctx)
        t0 = time.perf_counter()
        # staging and reference answers need no session: overlap them
        # with the JVM start
        with ThreadPoolExecutor(max_workers=1) as pool:
            staged = pool.submit(wl.prepare)
            with tracer.span("session.start"):
                ctx.spark = start_session(work, trace)
            session_s = time.perf_counter() - t0
            staged.result()
        # set-up runs engine calls on several threads: no spans
        tracer.enabled = False
        wl.setup()
        setup_s = time.perf_counter() - t0

        rng = random.Random(args.seed)
        n_ops = max(1, round(args.seconds / wl.nominal_op_s))
        # a traced run needs every op kind at least twice, see below
        schedule = wl.schedule(n_ops, rng)
        if trace and len({op.kind for op in schedule}) * 2 > len(schedule):
            schedule += wl.schedule(len(schedule), random.Random(args.seed))
        rss.reset()
        times, cpus, rows_in, oks, op_ids = [], [], [], [], []
        seen: dict[str, int] = {}
        kinds = sorted({op.kind for op in schedule})
        for i, op in enumerate(schedule):
            # in a traced run each op kind alternates between spans on and
            # spans off, so the span cost shows as the gap between the two;
            # half the kinds start with spans on, half with spans off, so
            # the first pass's lead does not read as overhead
            traced = trace and (seen.get(op.kind, 0) + kinds.index(op.kind)) % 2 == 0
            seen[op.kind] = seen.get(op.kind, 0) + 1
            tracer.enabled = traced
            tracer.op = i
            ctx.spark.sparkContext.setLocalProperty("perfbench.op", str(i))
            c0 = procstat.tree_cpu_s(os.getpid())
            s0 = time.perf_counter()
            try:
                outcome = wl.execute(op)
            except Exception as exc:  # a failing op is counted, not fatal
                print(f"op {i} {op.kind} failed: {exc!r}", file=sys.stderr)
                outcome = None
            dt = time.perf_counter() - s0
            cpu = procstat.tree_cpu_s(os.getpid()) - c0
            tracer.enabled = False
            try:
                ok = outcome is not None and wl.check(op, outcome)
            except Exception as exc:
                print(f"op {i} {op.kind} check raised: {exc!r}", file=sys.stderr)
                ok = False
            times.append(dt)
            cpus.append(cpu)
            rows_in.append(outcome.rows_in if outcome else 0)
            oks.append(ok)
            if traced:
                op_ids.append(i)
        ctx.spark.sparkContext.setLocalProperty("perfbench.op", None)
        try:
            finished = wl.finish(schedule)
        except Exception as exc:
            print(f"end-of-run check raised: {exc!r}", file=sys.stderr)
            finished = False
        if not finished:  # counted against the last op
            oks[-1] = False
        rss.sample()
        peak_mb = rss.peak_mb
        stored = getattr(wl, "stored_bytes_per_row", lambda: 0.0)()
        quality = {k: statistics.median(v) for k, v in getattr(wl, "quality", {}).items()}
        extra = getattr(wl, "layer_counts", lambda: {})()
    finally:
        rss.close()
        if ctx.spark is not None:
            stop_session(ctx.spark)
    steal1, total1 = procstat.host_cpu()
    psi1 = procstat.cpu_pressure_total_us()
    wall = time.perf_counter() - wall0

    n = len(times)
    p_tail = tail_percentile(n)
    ok_times = [t for t, ok in zip(times, oks) if ok]
    # throughput and CPU cost per pass of the workload's op mix, then the
    # median over passes, so a steal burst in one pass does not move them
    passes = [range(i, min(i + wl.pass_len, n)) for i in range(0, n, wl.pass_len)]
    pass_rates, pass_cpu = [], []
    for ix in passes:
        good = [i for i in ix if oks[i]]
        rows = sum(rows_in[i] for i in good)
        if rows:
            pass_rates.append(rows / sum(times[i] for i in good))
            pass_cpu.append(sum(cpus[i] for i in good) / rows * 1e6)
    host = {
        "host.steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        "host.cpu_psi_some_s": ((psi1 - psi0) / 1e6) if psi0 is not None and psi1 else 0.0,
    }
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": percentile(ok_times or times, 50),
        "op_tail_s": percentile(ok_times or times, p_tail),
        "rows_per_s": median0(pass_rates),
        "cpu_s_per_mrow": median0(pass_cpu),
        "peak_rss_mb": peak_mb,
        "ok_op_share": sum(oks) / n,
    }
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} ops={n} "
          f"failed={n - sum(oks)} wall_s={wall:.1f} session_start_s={session_s:.2f} "
          f"steal_share={host['host.steal_share']:.4f} "
          f"cpu_psi_some_s={host['host.cpu_psi_some_s']:.2f}")
    for i, op in enumerate(schedule):
        print(f"# op {i} {op.kind} {times[i]:.4f} s cpu={cpus[i]:.3f} s rows={rows_in[i]} ok={oks[i]}")
    for k, v in e2e.items():
        extra_txt = f" (p{p_tail}, n={n})" if k == "op_tail_s" else ""
        extra_txt = extra_txt or (" (n=1)" if k in ("setup_s", "peak_rss_mb") else f" (n={n})")
        print(f"# {k} = {v:.6g} {END_TO_END[k]}{extra_txt}")
    if stored:
        print(f"# stored_bytes_per_row = {stored:.6g} B (lake files / landed rows)")
    for k, v in sorted(quality.items()):
        print(f"# {k} = {v:.6g} share (median over {len(wl.quality.get(k, ()))} ops)")

    result = {
        "correct": all(oks),
        "attempted": n,
        "failed": n - sum(oks),
    }
    if not trace:
        result["metrics"] = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        return result

    engine = read_event_log(os.path.join(work, "eventlog"))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    by_kind: dict[str, tuple[list, list]] = {}
    for i, op in enumerate(schedule):
        by_kind.setdefault(op.kind, ([], []))[0 if i in set(op_ids) else 1].append(times[i])
    overhead = [median0(a) / median0(b) - 1.0 for a, b in by_kind.values() if a and b]
    per = lambda name: tracer.per_op(name, op_ids)  # noqa: E731
    cnt = lambda name: tracer.count_per_op(name, op_ids)  # noqa: E731
    es = [engine.get(i) for i in op_ids]
    es = [e for e in es if e is not None]
    work_items = cnt("ingest.work_items")
    pending = cnt("ingest.pending_items")
    fetched_items = sum(pending)
    fetch_run = sum(e.fetch_run_s for e in es)
    written = sum(e.records_written for e in es)
    layer = {
        "session.start_s": session_s,
        "ingest.work_items": median0(work_items),
        "ingest.fetch_s_per_item": fetch_run / fetched_items if fetched_items else 0.0,
        "ingest.rows_per_item": (
            sum(r for r, w in zip(cnt("ingest.rows"), work_items) if w) / fetched_items
            if fetched_items else 0.0
        ),
        "ingest.plan_s": median0([v for v, w in zip(per("ingest.plan"), work_items) if w]),
        "ingest.pending_share": sum(pending) / sum(work_items) if sum(work_items) else 0.0,
        "io.manifest_s": median0([v for v, w in zip(per("io.file_manifest"), work_items) if w]),
        "io.manifest_files": median0([v for v, w in zip(cnt("io.manifest_files"), work_items) if w]),
        "io.write_s": median0([v for v, w in zip(per("io.write_partitioned"), work_items) if w]),
        "io.files_written": median0([v for v, w in zip(cnt("io.files_written"), work_items) if w]),
        "io.bytes_per_row": sum(e.bytes_written for e in es) / written if written else 0.0,
        "io.commit_s": median0([e.commit_s for e in es]) if written else 0.0,
        "io.commit_retries": sum(cnt("io.commit_retries")),
        "registry.plan_s": median0([a + b for a, b in zip(per("registry.build"), per("registry.plan")) if a + b]),
        "registry.stage_reads": sum(cnt("registry.stage_reads")),
        "spark.tasks_per_op": median0([e.tasks for e in es]),
        "spark.task_p50_ms": median0([ms for e in es for ms in e.task_ms]),
        "spark.shuffle_write_mb": median0([e.shuffle_write_mb for e in es]),
        "spark.python_wait_s": median0([e.python_wait_s for e in es]),
        "spark.gc_s": median0([e.gc_s for e in es]),
        "spark.spill_mb": median0([e.spill_mb for e in es]),
        "spark.executor_cpu_s": median0([e.executor_cpu_s for e in es]),
        "host.steal_share": host["host.steal_share"],
        "bench.tracing_overhead_share": median0(overhead),
    }
    for fam in ("ops", "stream", "sql", "ext.dedup", "ext.similarity", "ext.text"):
        layer[f"{fam}.exec_s"] = median0([v for v in per(f"{fam}.exec") if v])
    layer.update(extra)
    layer = {k: float(layer.get(k, 0.0)) for k in PER_LAYER}
    for k in PER_LAYER:
        print(f"# {k} = {layer[k]:.6g} {PER_LAYER[k]}")
    result["metrics"] = {k: {"value": layer[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("rest_backfill", "lake_analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "session.py")):
        print(f"perfbench: no {PKG}/ package under {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        result = run(args)
    finally:
        shutil.rmtree(os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}"),
                      ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
