#!/usr/bin/env python3
"""Layered extraction benchmark.

    python3 perfbench/run.py --workload plain_mixed --seed 11 --seconds 10 --trace 0

Run from the repository root. One closed-loop client (this process)
submits one Spark job at a time to a `local[nproc]` session built by
`pdftext_spark.sources.session.build_session`.

--trace 0 prints the end-to-end metrics: the median steady pass as
turns/s, the median of SETUP_CYCLES session set-ups, the oracle match rate
of a conversation sample and the Python workers' peak RSS.

--trace 1 prints the per-layer metrics instead: Spark's own plan, task and
Arrow-boundary metrics from an event log, kernel stage self-times from an
in-process replay, plus three probes in the plain_mixed traced run
(clustered single-row-group layout, incremental resume, local[1]). Its
spans go to perfbench/.work/traces/.

The last stdout line is one JSON object: correct, attempted, failed,
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")

SETUP_CYCLES = 2    # session set-ups per run; setup_s is their median
TRACES_KEPT = 20
DEFAULT_SEED = 11

END_TO_END = {
    "turns_per_s": "1/s",
    "setup_s": "s",
    "match_rate": "ratio",
    "worker_rss_mb": "MB",
}

# name -> unit; every traced run prints all of them (0 where a layer does
# no work on that workload)
PER_LAYER = {
    "session.build_s": "s",
    "scan.time_s": "s", "scan.bytes": "B", "scan.partitions": "count",
    "salt.applied": "count", "salt.shuffle_bytes": "B",
    "salt.shuffle_write_s": "s",
    "tasks.count": "count", "tasks.p50_s": "s", "tasks.max_s": "s",
    "tasks.skew": "ratio", "tasks.busy_frac": "ratio",
    "arrow.boot_s": "s", "arrow.init_s": "s", "arrow.python_s": "s",
    "arrow.init_outside_task_s": "s",
    "arrow.bytes_sent": "B", "arrow.bytes_received": "B",
    "arrow.batches": "count", "arrow.rows_per_batch": "count",
    "payload.decode_s": "s", "payload.turns": "count",
    "payload.prose_turns": "count",
    "segment.s": "s", "segment.chars_in": "count",
    "segment.dedup_kept_frac": "ratio", "segment.spans": "count",
    "segment.blocks": "count", "assemble.plain_s": "s",
    "html_main.s": "s", "html_main.turns": "count", "html_main.bytes": "B",
    "links.s": "s", "links.registrations": "count",
    "tables.s": "s", "tables.cells": "count",
    "arrow_out.s": "s", "arrow_out.bytes": "B",
    "refs.gate_s": "s", "refs.jobs": "count", "refs.cache_bytes": "B",
    "refs.broadcast_bytes": "B",
    "incremental.first_s": "s", "incremental.resume_s": "s",
    "incremental.files": "count", "incremental.bytes_written": "B",
    "incremental.stored_bytes_ratio": "ratio",
    "route_batch.s": "s", "kernel.coverage": "ratio",
    "trace.overhead_frac": "ratio",
    "clustered.salt_applied": "count", "clustered.scan_partitions": "count",
    "clustered.tasks_count": "count", "clustered.tasks_skew": "ratio",
    "clustered.tasks_max_s": "s", "clustered.tasks_busy_frac": "ratio",
    "clustered.turns_per_s": "1/s",
    "local1.turns_per_s": "1/s", "scaling.efficiency": "ratio",
}


def _preflight() -> None:
    """Refuse to run outside a checkout of the program."""
    need = [os.path.join(ROOT, "pdftext_spark", "__init__.py"),
            os.path.join(ROOT, "tests", "oracle_naive.py")]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        print(f"perfbench: not a pdftext_spark checkout (missing "
              f"{', '.join(os.path.relpath(p, ROOT) for p in missing)})",
              file=sys.stderr)
        sys.exit(2)


def _environment(eventlog_dir: str | None) -> int:
    """Keep every file Spark and the JVM write inside the checkout, pin the
    session to this machine's cores, and (traced runs) point Spark's
    event log at `eventlog_dir`. Must run before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    confs = ["spark.ui.showConsoleProgress=false"]
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        # where and how the log is written; _traced switches it on for
        # its traced session only
        confs += [f"spark.eventLog.dir=file://{eventlog_dir}",
                  "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {c}" for c in confs) + " pyspark-shell"
    return cores


def _stop_jvm() -> None:
    """Shut the py4j gateway and its JVM down and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _descendants(root_pid: int) -> list[int]:
    children: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _steal_frac(before: list[int], after: list[int]) -> float:
    """Share of this machine's CPU time the hypervisor gave to others."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def worker_rss_mb() -> tuple[float, int]:
    """Sum of peak RSS (VmHWM) over this run's Python worker processes
    (the pyspark daemon and the workers it forked)."""
    total_kb, n = 0, 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        n += 1
        except OSError:
            continue
    return total_kb / 1024.0, n


class Run:
    """Bookkeeping shared by both modes: turns attempted and failed."""

    def __init__(self, corpus):
        self.corpus = corpus
        self.attempted = 0
        self.failed = 0

    def _fail(self) -> None:
        self.failed += self.corpus.n_turns
        print(traceback.format_exc(), file=sys.stderr)

    def attempt(self, fn, *args):
        """Run one pass over the corpus; a pass that raises fails all its
        turns. Returns (seconds, result) or (None, None)."""
        self.attempted += self.corpus.n_turns
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception:
            self._fail()
            return None, None
        return time.perf_counter() - t0, out

    def check(self, fn, *args):
        """Run one output check; a check that raises fails the corpus."""
        try:
            check = fn(*args)
        except Exception:
            self.attempted += self.corpus.n_turns
            self._fail()
            return None
        self.attempted += check.sampled
        self.failed += check.failed
        if check.diffs:
            print(json.dumps({"mismatches": check.diffs}), file=sys.stderr)
        return check


def _timed_passes(run: Run, workload, spark, seconds: float,
                  tracer=None, min_passes: int = 1) -> list:
    """Closed loop: the next pass starts when the previous one returned.
    Returns [(seconds, extras, (t0, t1) epoch)]."""
    out = []
    deadline = time.perf_counter() + seconds
    while len(out) < min_passes or time.perf_counter() < deadline:
        workload.reset(spark)
        t0 = tracer.now() if tracer else time.time()
        if tracer:
            with tracer.span("pass", workload=workload.name):
                dt, extras = run.attempt(workload.run_pass, spark, run.corpus)
        else:
            dt, extras = run.attempt(workload.run_pass, spark, run.corpus)
        t1 = tracer.now() if tracer else time.time()
        if dt is None:
            break
        out.append((dt, extras, (t0, t1)))
    return out


def _end_to_end(workload, seed: int, seconds: float) -> tuple[Run, dict]:
    from pdftext_spark.sources.session import build_session
    from perfbench import corpus as corpora

    corpus = corpora.load(CACHE, workload.corpus, seed)
    run = Run(corpus)
    setups = []
    spark = None
    for k in range(SETUP_CYCLES):
        t0 = time.perf_counter()
        spark = build_session()
        dt, _ = run.attempt(workload.run_pass, spark, corpus)
        if dt is not None:
            setups.append(time.perf_counter() - t0)
        if k < SETUP_CYCLES - 1:
            spark.stop()
    passes, steal = [], 0.0
    if setups:
        ticks = _cpu_ticks()
        passes = _timed_passes(run, workload, spark, seconds)
        steal = _steal_frac(ticks, _cpu_ticks())
    rss, n_workers = worker_rss_mb()
    check = run.check(workload.check, spark, corpus, passes[-1][1]) \
        if passes else None
    spark.stop()
    _stop_jvm()
    times = [p[0] for p in passes]
    metrics = {
        "turns_per_s": corpus.n_turns / statistics.median(times) if times else 0.0,
        "setup_s": statistics.median(setups) if setups else 0.0,
        "match_rate": check.match_rate if check else 0.0,
        "worker_rss_mb": rss,
    }
    print(json.dumps({
        "workload": workload.name, "seed": seed, "corpus": corpus.layout,
        "samples": {"turns_per_s": len(times), "setup_s": len(setups),
                    "match_rate": check.sampled if check else 0,
                    "worker_rss_mb": n_workers},
        "pass_s": times, "setup_runs_s": setups, "host_steal_frac": steal,
    }))
    return run, metrics


def _spark_layers(log, windows: list, slots: int,
                  max_records: int) -> tuple[dict, list]:
    """Median over the traced passes of each Spark-side metric, and the
    kernel tasks' row counts of the last pass."""
    from perfbench.sparklog import pass_metrics

    per_pass = [pass_metrics(log.window(*w), slots, max_records)
                for w in windows]
    task_rows = per_pass[-1].pop("kernel.task_rows")
    for p in per_pass[:-1]:
        p.pop("kernel.task_rows")
    return {k: statistics.median(p[k] for p in per_pass)
            for k in per_pass[0]}, task_rows


def _event_log(enabled: bool) -> None:
    """Switch Spark's event log for the NEXT session of this JVM: new
    SparkConfs read spark.* JVM system properties, which is where the
    launch configuration put it."""
    from pyspark import SparkContext

    SparkContext._jvm.java.lang.System.setProperty(
        "spark.eventLog.enabled", "true" if enabled else "false")


def _traced(workload, seed: int, seconds: float, cores: int,
            eventlog_dir: str) -> tuple[Run, dict]:
    import dataclasses

    from pyspark.sql.pandas.types import to_arrow_schema

    from pdftext_spark.config import ExtractConfig
    from pdftext_spark.operators.extract import extract
    from pdftext_spark.operators.schema import EXTRACTED
    from pdftext_spark.sources.session import build_session
    from perfbench import corpus as corpora
    from perfbench import kernel, sparklog, workloads
    from perfbench.tracing import Tracer

    tracer = Tracer()
    corpus = corpora.load(CACHE, workload.corpus, seed)
    clustered = None
    if workload.name == "plain_mixed":
        # more byte splits than 2 x cores at the session's 4 MiB split size
        clustered = corpora.load(CACHE, "clustered_tool", seed,
                                 min_bytes=(2 * cores + 1) * 4 * 1024 * 1024)
    run = Run(corpus)
    m = {k: 0.0 for k in PER_LAYER}
    half = seconds / 2.0

    def untraced_passes(spark, warmup_passes: int) -> list:
        """Untimed passes, then timed ones; stops the session."""
        for _ in range(warmup_passes):
            workload.reset(spark)
            run.attempt(workload.run_pass, spark, corpus)
        times = [p[0] for p in _timed_passes(run, workload, spark, half / 2,
                                             min_passes=2)]
        spark.stop()
        return times

    # trace.overhead_frac compares the traced session with untraced ones
    # before and after it (A-B-A), so the JIT warming up over the run
    # cancels out to first order. The first session also starts the JVM.
    # Every session's first pass is untimed.
    with tracer.span("session.build", phase="untraced"):
        spark = build_session()
    m["session.build_s"] = tracer.spans[-1]["end"] - tracer.spans[-1]["start"]
    max_records = int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch"))
    untraced = untraced_passes(spark, 1)

    # traced session in the same JVM, Spark's event log on
    _event_log(True)
    with tracer.span("session.build", phase="traced"):
        spark = build_session()
    with tracer.span("first_pass"):
        run.attempt(workload.run_pass, spark, corpus)
    passes = _timed_passes(run, workload, spark, half, tracer, min_passes=2)
    clustered_dt = clustered_span = None
    if clustered is not None:
        cl_run = Run(clustered)
        with tracer.span("clustered_pass") as clustered_span:
            clustered_dt, _ = cl_run.attempt(workload.run_pass, spark,
                                             clustered)
        run.attempted += cl_run.attempted
        run.failed += cl_run.failed
    if workload.name == "plain_mixed":
        # the incremental probe rides on the lighter traced run
        out_dir = os.path.join(WORK, "incremental")
        with tracer.span("incremental"):
            _, inc = run.attempt(workloads.incremental_resume, spark, corpus,
                                 out_dir)
        if inc:
            m.update({k: v for k, v in inc.items() if k in PER_LAYER})
            if not inc["incremental.complete"]:
                run.failed += corpus.n_turns
            run.check(workloads.resume_matches_one_shot,
                      extract(spark.read.parquet(corpus.path)), out_dir)
            spark.catalog.clearCache()
        shutil.rmtree(out_dir, ignore_errors=True)
    spark.stop()
    _event_log(False)
    untraced_after = untraced_passes(build_session(), 1)
    if workload.name == "plain_mixed":
        # the single-core baseline, same corpus, untraced
        spark = build_session(master="local[1]")
        run.attempt(workload.run_pass, spark, corpus)
        local1 = [p[0] for p in _timed_passes(run, workload, spark, 0)]
        spark.stop()
        if local1 and untraced_after:
            m["local1.turns_per_s"] = corpus.n_turns / statistics.median(local1)
            m["scaling.efficiency"] = (statistics.median(local1)
                                       / statistics.median(untraced_after)
                                       ) / cores
    _stop_jvm()

    log = sparklog.EventLog(sparklog.read_events(eventlog_dir))
    shutil.rmtree(eventlog_dir, ignore_errors=True)
    windows = [w for _, _, w in passes]
    task_rows, spark_jobs = [], 0
    if windows:
        spark_m, task_rows = _spark_layers(log, windows, cores, max_records)
        spark_jobs = spark_m.pop("spark.jobs")
        m.update(spark_m)
    pass_spans = [sp for sp in tracer.spans if sp["name"] == "pass"]
    for (s, e), pass_span in zip(windows, pass_spans):
        for name, ts, te in sparklog.task_spans(log.window(s, e)):
            tracer.add(name, ts, te, parent=pass_span["id"])
    traced_times = [p[0] for p in passes]
    if workload.name == "struct_links" and passes:
        m["refs.jobs"] = spark_jobs
        m["refs.gate_s"] = statistics.median(p[1]["refs.gate_s"] for p in passes)
        m["refs.cache_bytes"] = statistics.median(
            p[1]["refs.cache_bytes"] for p in passes)
    if untraced and untraced_after and traced_times:
        reference = (statistics.median(untraced)
                     + statistics.median(untraced_after)) / 2
        m["trace.overhead_frac"] = statistics.median(traced_times) / reference - 1
    if clustered_dt:
        cm = sparklog.pass_metrics(
            log.window(clustered_span["start"], clustered_span["end"]),
            cores, max_records)
        m.update({"clustered.salt_applied": cm["salt.applied"],
                  "clustered.scan_partitions": cm["scan.partitions"],
                  "clustered.tasks_count": cm["tasks.count"],
                  "clustered.tasks_skew": cm["tasks.skew"],
                  "clustered.tasks_max_s": cm["tasks.max_s"],
                  "clustered.tasks_busy_frac": cm["tasks.busy_frac"],
                  "clustered.turns_per_s": clustered.n_turns / clustered_dt})

    # kernel replay, in this process, at the row counts Spark used
    if workload.name == "plain_mixed":
        # plain_text()'s kernel configuration
        cfg = dataclasses.replace(ExtractConfig(), emit_struct=False,
                                  emit_tables=False, disable_links=True,
                                  emit_plain=True)
        target, cols = None, ["conv_id", "turn_idx", "role", "text"]
    else:
        cfg = ExtractConfig()
        target = to_arrow_schema(EXTRACTED)
        cols = ["conv_id", "turn_idx", "role", "text", "ts"]
    batches = kernel.input_batches(corpus.path, cols, task_rows)
    with tracer.span("kernel_replay"):
        m.update(kernel.replay(batches, cfg, target, tracer))
    order = kernel.stage_order(m)
    print(json.dumps({"stage_order": order}))

    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    for old in sorted(os.listdir(traces),
                      key=lambda f: os.path.getmtime(os.path.join(traces, f))
                      )[:-(TRACES_KEPT - 1)]:
        os.remove(os.path.join(traces, old))
    trace_path = os.path.join(traces,
                              f"{workload.name}-s{seed}-{tracer.run_id}.json")
    tracer.write(trace_path, {
        "workload": workload.name, "seed": seed, "corpus": corpus.layout,
        "clustered_corpus": clustered.layout if clustered else None,
        "metrics": m, "stage_order": order,
        "untraced_pass_s": [untraced, untraced_after],
        "traced_pass_s": traced_times})
    print(json.dumps({"workload": workload.name, "seed": seed,
                      "trace": os.path.relpath(trace_path, ROOT),
                      "spans": len(tracer.spans), "corpus": corpus.layout}))
    return run, m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _preflight()
    sys.path.insert(0, ROOT)
    eventlog_dir = None
    if args.trace:
        eventlog_dir = os.path.join(WORK, "eventlog", f"{os.getpid()}-{time.time_ns()}")
    cores = _environment(eventlog_dir)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    if args.trace:
        run, values = _traced(workload, args.seed, args.seconds, cores,
                              eventlog_dir)
        units = PER_LAYER
    else:
        run, values = _end_to_end(workload, args.seed, args.seconds)
        units = END_TO_END
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
