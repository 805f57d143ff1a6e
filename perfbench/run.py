"""Benchmark of the production extract -> commit -> resume -> evaluate job.

    python3 perfbench/run.py --workload extract-heavy --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. One run: generate (or reuse) the seeded
corpus, set the Spark session up (which launches the JVM), repeat the
workload's job for ``--seconds`` seconds, check every job's output,
and print one JSON object as the last stdout line. With
``--trace 0`` it holds the end-to-end metrics; with ``--trace 1`` jobs
alternate between untraced and traced, and it holds the per-layer
metrics, the per-layer self times and the tracing overhead. Spans are
written to ``perfbench/work/traces/``. Exits 1 when a correctness check
fails, 2 when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
# layers whose self time is summed over a traced job's spans
JOB_LAYERS = ("extract", "catalog", "evaluate", "bench")


def _isolate_environment(scratch: str, ncpu: int) -> None:
    """Keep Spark's files inside the checkout and its console quiet;
    let the Python workers import the program."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.sql.warehouse.dir=" + shlex.quote(
            os.path.join(scratch, "warehouse")),
        "--driver-java-options", shlex.quote(
            f"-Djava.io.tmpdir={tmp}"),
        "pyspark-shell"])


def _setup(corpus_pages: str, ncpu: int, tracer) -> tuple:
    """Session build, which launches the JVM, plus its first action: a
    small extraction spread over every core, which starts the Python
    workers and imports the kernels."""
    from ocr_engine_spark.engine.extract_job import extract_pages, read_pages
    from ocr_engine_spark.engine.session import build_session

    with tracer.span("session.build"):
        t0 = time.perf_counter()
        spark = build_session("perfbench", master=f"local[{ncpu}]")
        t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("session.first_action"):
        t2 = time.perf_counter()
        extract_pages(read_pages(spark, corpus_pages).limit(16 * ncpu),
                      partitions=ncpu).collect()
        t3 = time.perf_counter()
    return spark, t1 - t0, t3 - t2


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: time the host gave this
    machine's virtual CPUs to someone else, which slows every timing."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def _jobs(workload, spark, ctx, seconds: float, tracer) -> list[dict]:
    """Warm-up jobs, then jobs for ``seconds`` seconds (at least one, a
    single one for a ``one_job`` workload; in a traced run two at least,
    alternately untraced and traced)."""
    from tracing import NullTracer

    trace = tracer.enabled
    off = NullTracer()
    for k in range(max(workload.warm_up, trace)):
        # JIT and worker warm-up; in a traced run, untraced and
        # traced jobs are compared and neither may get it
        t0 = time.perf_counter()
        workload.job(spark, ctx, -1 - k, off)
        _log(f"warm-up job {time.perf_counter() - t0:.2f}s")
    records = []
    steal0, total0 = _cpu_ticks()
    t_end = time.perf_counter() + seconds
    while len(records) < 1 + trace or (
            time.perf_counter() < t_end and not workload.one_job):
        traced = trace and len(records) % 2 == 1
        tr = tracer if traced else off
        with tr.span("bench.job") as span:
            t0 = time.perf_counter()
            rec = workload.job(spark, ctx, len(records), tr)
            rec["s"] = time.perf_counter() - t0
        rec["traced"], rec["span"] = traced, span
        records.append(rec)
        _log(f"job {len(records) - 1}: {rec['s']:.3f}s"
             f"{' traced' if traced else ''}")
    steal1, total1 = _cpu_ticks()
    _log(f"cpu steal during jobs: "
         f"{(steal1 - steal0) / max(1, total1 - total0):.1%}")
    return records


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> int:
    import corpus as corpora
    from gate import Gate
    from metrics import END_TO_END, PER_LAYER, render
    from tracing import MemorySampler, NullTracer, Tracer
    from workloads import WORKLOADS, Ctx

    ncpu = len(os.sched_getaffinity(0))
    workload = WORKLOADS[workload_name]()
    corpus = corpora.ensure(WORK, workload.corpus, seed)
    ctx = Ctx(corpus, Gate(corpus),
              os.path.join(WORK, f"run-{os.getpid()}"), ncpu)
    shutil.rmtree(ctx.scratch, ignore_errors=True)
    _isolate_environment(ctx.scratch, ncpu)
    print(json.dumps({"corpus": corpus.info, "workload": workload_name,
                      "local": ncpu}), flush=True)

    tracer = Tracer() if trace else NullTracer()
    spark = None
    try:
        with tracer.span("bench.run"):
            spark, build_s, first_s = _setup(ctx.pages, ncpu, tracer)
            _log(f"setup: build {build_s:.2f}s, first action {first_s:.2f}s")
            with MemorySampler(spark) as mem:
                records = _jobs(workload, spark, ctx, seconds, tracer)
            _log(f"memory: {mem.outside_heap_bytes / 2**20:.0f} MB outside "
                 f"the Java heap, {mem.heap_live_bytes / 2**20:.0f} MB live "
                 f"in it, {mem.heap_committed_bytes / 2**20:.0f} MB committed")
        verdicts = [workload.verify(spark, ctx, r) for r in records]
        _log("outputs checked")
        if trace:
            layers = workload.layer_metrics(
                spark, ctx, [r for r in records if r["traced"]], tracer)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(ctx.scratch, ignore_errors=True)

    problems = [f"job {i}: {p}" for i, v in enumerate(verdicts)
                for p in v.problems]
    failed = sum(v.failed for v in verdicts)
    correct = failed == 0 and not problems
    for p in problems:
        print(f"correctness: {p}", file=sys.stderr)

    if trace:
        layers.update(_session_and_trace_figures(build_s, first_s, records,
                                                 tracer))
        layers.update({
            "memory.outside_heap_mb": mem.outside_heap_bytes / 2**20,
            "memory.heap_live_mb": mem.heap_live_bytes / 2**20,
            "memory.heap_committed_mb": mem.heap_committed_bytes / 2**20,
        })
        metrics = render(layers, PER_LAYER)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces",
                               f"{workload_name}-seed{seed}.json"),
                  "w") as fh:
            json.dump({**tracer.dump(), "workload": workload_name,
                       "seed": seed, "corpus": corpus.info,
                       "metrics": metrics}, fh)
    else:
        metrics = render({
            "setup_s": build_s + first_s,
            "job_s": statistics.median(r["s"] for r in records),
            "docs_per_s": statistics.median(
                v.rows / r["s"] for v, r in zip(verdicts, records)),
            "success_docs_frac": 1 - sum(v.errors for v in verdicts)
            / sum(v.rows for v in verdicts),
            "peak_rss_mb": mem.peak_bytes / 2**20,
        }, END_TO_END)
    print(json.dumps({"correct": correct,
                      "attempted": len(ctx.gate.urls) * len(verdicts),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def _session_and_trace_figures(build_s, first_s, records, tracer) -> dict:
    """Session figures, self time per layer and the tracing overhead."""
    med = statistics.median
    traced = [r["s"] for r in records if r["traced"]]
    untraced = [r["s"] for r in records if not r["traced"]]
    selfs = [tracer.self_time_by_layer(r["span"])
             for r in records if r["traced"]]
    out = {
        "session.build_s": build_s,
        "session.first_action_s": first_s,
        "self.session_s": build_s + first_s,
        "trace.job_s": med(traced),
        "trace.untraced_job_s": med(untraced),
        "trace.overhead_s": med(traced) - med(untraced),
    }
    for layer in JOB_LAYERS:
        out[f"self.{layer}_s"] = med(s.get(layer, 0.0) for s in selfs)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract-heavy", "resume-evaluate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ocr_engine_spark")):
        print(f"no ocr_engine_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import ocr_engine_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program: {exc}", file=sys.stderr)
        return 2
    return run(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
