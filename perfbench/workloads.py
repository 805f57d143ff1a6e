"""The two workloads: what one timed job does, how its outputs are
checked, and which per-layer figures a traced run derives from it.

Every call into the program goes through its public functions:
``read_pages``/``extract_pages`` (engine.extract_job),
``run_resumable_extract``/``ManifestCatalog`` (engine.catalog) and
``evaluate_extractions``/``summary_metrics`` (engine.evaluate).
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass

import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from ocr_engine_spark.engine.catalog import (
    ManifestCatalog, run_resumable_extract,
)
from ocr_engine_spark.engine.evaluate import (
    base_url_col, evaluate_extractions, normalize_text_col, summary_metrics,
)
from ocr_engine_spark.engine.extract_job import extract_pages, read_pages

from corpus import Corpus
from gate import COLUMNS, FIELDS, Gate, Verdict
from tracing import TimedCatalog

TABLE = "extractions"
# half of run_resumable_extract's default 8: each batch costs a near-fixed
# ~3-4 s of Spark jobs on 4 cores whatever its size, so 8 would double the
# job without exercising anything new, and the run budget has no room
# for it
N_BATCHES = 4
CRASH_AFTER = N_BATCHES // 2
DIRECT_SAMPLE = {"heavy": 40, "mixed": 400}


@dataclass
class Ctx:
    corpus: Corpus
    gate: Gate
    scratch: str
    ncpu: int

    @property
    def pages(self) -> str:
        return self.corpus.path("pages")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    """Nearest-rank percentile; 0.0 for an empty list."""
    if not xs:
        return 0.0
    return sorted(xs)[max(1, math.ceil(q / 100 * len(xs))) - 1]


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / 2**20


def _extract_to_parquet(spark, ctx: Ctx, out: str, tracer) -> None:
    """One extraction pass written to parquet: a sink that consumes
    every output column (``count()`` would prune the field columns)."""
    with tracer.span("extract.read_pages"):
        pages = read_pages(spark, ctx.pages)
    with tracer.span("extract.stage"):
        extract_pages(pages).write.mode("overwrite").parquet(out)


def sink_problems(spark, ctx: Ctx, written: list[str]) -> list[str]:
    """The timed sink must store every column ``extract_pages`` returns
    (``count()`` would let the optimizer prune the field columns)."""
    expected = extract_pages(read_pages(spark, ctx.pages)).columns
    missing = [c for c in expected if c not in written]
    return [f"the sink did not write {', '.join(missing)}"] if missing \
        else []


def _extract_layer(spark, ctx: Ctx, out: str, stage_s: float,
                   tracer) -> dict:
    """extract.* and kernels.* figures from the traced extraction passes
    and the output of the last one."""
    t = pq.read_table(out, columns=["payload_kind", "processing_ms",
                                    "status", *FIELDS])
    ms = t["processing_ms"].to_pylist()
    kinds = t["payload_kind"].to_pylist()
    html = [m for m, k in zip(ms, kinds) if k == "html"]
    pdf = [m for m, k in zip(ms, kinds) if k == "pdf"]
    busy_s = sum(ms) / 1000.0
    any_field = None
    for f in FIELDS:
        nn = pc.is_valid(t[f])
        any_field = nn if any_field is None else pc.or_(any_field, nn)
    return {
        "extract.read_pages_s": _median(
            tracer.durations("extract.read_pages")),
        "extract.scan_partitions":
            read_pages(spark, ctx.pages).rdd.getNumPartitions(),
        "extract.stage_s": stage_s,
        "extract.plumbing_core_s": stage_s * ctx.ncpu - busy_s,
        "extract.out_mb": _dir_mb(out),
        "extract.field_docs": pc.sum(any_field).as_py() or 0,
        "kernels.busy_s": busy_s,
        "kernels.html_ms_p50": _pct(html, 50),
        "kernels.html_ms_p99": _pct(html, 99),
        "kernels.pdf_ms_p50": _pct(pdf, 50),
        "kernels.pdf_ms_p99": _pct(pdf, 99),
        "kernels.direct_docs_per_s": _direct_docs_per_s(ctx),
        "kernels.error_docs": sum(s != "success"
                                  for s in t["status"].to_pylist()),
    }


def _direct_docs_per_s(ctx: Ctx) -> float:
    """Single-thread kernel pass, no Spark, over the corpus's first
    rows (median of three passes)."""
    from ocr_engine_spark.kernels.clean import clean_text
    from ocr_engine_spark.kernels.html_extract import extract_html
    from ocr_engine_spark.kernels.pdf_extract import extract_pdf

    payloads = ctx.corpus.table("pages")["html"][
        :DIRECT_SAMPLE[ctx.corpus.name]]
    payloads = payloads.to_pylist()
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        for raw in payloads:
            res = extract_pdf(raw) if raw.startswith(b"%PDF") \
                else extract_html(raw)
            if res["text"] is not None:
                clean_text(res["text"])
        rates.append(len(payloads) / (time.perf_counter() - t0))
    return statistics.median(rates)


class ExtractHeavy:
    """extract-heavy: read_pages -> extract_pages -> parquet, one pass
    per job. Jobs of ~3 s speed up over the first few as the JVM warms,
    so four untimed jobs run first and several are timed."""

    corpus = "heavy"
    warm_up = 4
    one_job = False

    def job(self, spark, ctx: Ctx, it: int, tracer) -> dict:
        out = os.path.join(ctx.scratch, "out", f"iter-{it}")
        _extract_to_parquet(spark, ctx, out, tracer)
        return {"out": out}

    def verify(self, spark, ctx: Ctx, rec: dict) -> Verdict:
        v = ctx.gate.check(pq.read_table(rec["out"], columns=COLUMNS))
        v.problems += sink_problems(spark, ctx,
                                    ds.dataset(rec["out"]).schema.names)
        return v

    def layer_metrics(self, spark, ctx: Ctx, traced: list[dict],
                      tracer) -> dict:
        return _extract_layer(spark, ctx, traced[-1]["out"],
                              _median(tracer.durations("extract.stage")),
                              tracer)


class ResumeEvaluate:
    """resume-evaluate: a resumable extract that crashes halfway, its
    resume, then evaluate over the committed table."""

    corpus = "mixed"
    # one cold job per run, its own warm-up part of every run alike: a
    # job takes 13-30 s, so a window would let fast runs time a second,
    # warm job and slow runs not, and mixing the two widens the spread
    warm_up = 0
    one_job = True

    def job(self, spark, ctx: Ctx, it: int, tracer) -> dict:
        root = os.path.join(ctx.scratch, "catalog", f"iter-{it}")
        catalog = ManifestCatalog(root)
        cat = TimedCatalog(catalog, tracer) if tracer.enabled else catalog
        rec = {"root": root, "crashed": False}
        with tracer.span("catalog.crash_run"):
            try:
                run_resumable_extract(spark, ctx.pages, cat, table=TABLE,
                                      n_batches=N_BATCHES,
                                      fail_after_batches=CRASH_AFTER)
            except RuntimeError as exc:
                if "injected failure" not in str(exc):
                    raise
                rec["crashed"] = True
        with tracer.span("catalog.resume"):
            rec["resume"] = run_resumable_extract(
                spark, ctx.pages, cat, table=TABLE, n_batches=N_BATCHES)
        with tracer.span("evaluate.summary"):
            with tracer.span("catalog.read_table"):
                ext = catalog.read_table(spark, TABLE)
            evaluated = evaluate_extractions(
                ext, spark.read.parquet(ctx.corpus.path("golden_extractions")),
                spark.read.parquet(ctx.corpus.path("degradations")))
            rec["summary"] = {r["scope"]: r.asDict()
                              for r in summary_metrics(evaluated).collect()}
        return rec

    def verify(self, spark, ctx: Ctx, rec: dict) -> Verdict:
        committed = ManifestCatalog(rec["root"]).read_table(spark, TABLE)
        v = ctx.gate.check(committed.select(*COLUMNS).toArrow())
        v.problems += sink_problems(spark, ctx, committed.columns)
        res, orig = rec["resume"], rec["summary"].get("type:original", {})
        if not rec["crashed"]:
            v.problems.append("the injected crash did not happen")
        if len(res["skipped"]) != CRASH_AFTER or \
                sorted(res["skipped"] + res["ran"]) != list(range(N_BATCHES)):
            v.problems.append(f"resume ran {res['ran']}, "
                              f"skipped {res['skipped']}")
        if orig.get("n_files") != len(ctx.gate.golden) or \
                orig.get("n_byte_identical") != orig.get("n_files"):
            v.problems.append(f"type:original summary {orig}")
        return v

    def layer_metrics(self, spark, ctx: Ctx, traced: list[dict],
                      tracer) -> dict:
        from pyspark.sql import functions as F

        # a single extraction pass over the same corpus: the base of
        # catalog.overhead_ratio and the source of extract.*/kernels.*
        single = []
        for k in range(3):
            with tracer.span("bench.single_pass") as s:
                out = os.path.join(ctx.scratch, "single", f"pass-{k}")
                _extract_to_parquet(spark, ctx, out, tracer)
            single.append(s["end"] - s["start"])
        single_s = _median(single)
        m = _extract_layer(spark, ctx, out, single_s, tracer)

        jobs = [r["span"] for r in traced]
        writes = [tracer.durations("catalog.write_batch", j) for j in jobs]
        all_writes = [w for ws in writes for w in ws]
        m.update({
            "catalog.batches_run": _median([len(ws) for ws in writes]),
            "catalog.batches_skipped": _median(
                [len(r["resume"]["skipped"]) for r in traced]),
            "catalog.write_batch_s_p50": _median(all_writes),
            "catalog.write_batch_s_max": max(all_writes),
            "catalog.committed_batches_s": _median(
                [sum(tracer.durations("catalog.committed_batches", j))
                 for j in jobs]),
            "catalog.resume_s": _median(tracer.durations("catalog.resume")),
            "catalog.overhead_ratio": _median(
                [sum(ws) / single_s for ws in writes]),
        })

        last = traced[-1]
        catalog = ManifestCatalog(last["root"])
        m["catalog.metrics_rows"] = catalog.read_metrics(spark, TABLE).count()
        m["evaluate.s"] = _median(tracer.durations("evaluate.summary"))
        m["evaluate.rows"] = last["summary"]["overall"]["n_files"]

        # rows whose CER needs the levenshtein DP, mirroring cer_col's
        # fast paths (empty hypothesis, empty reference, equal texts)
        g = spark.read.parquet(ctx.corpus.path("golden_extractions")).select(
            F.col("url").alias("base_url"),
            F.col("clean_text").alias("ref"))
        ext = catalog.read_table(spark, TABLE)
        j = ext.withColumn("base_url", base_url_col(F.col("url"))) \
            .join(F.broadcast(g), "base_url")
        ref = F.coalesce(F.col("ref"), F.lit(""))
        hyp = F.coalesce(F.col("clean_text"), F.lit(""))
        ref_n, hyp_n = normalize_text_col(ref), normalize_text_col(hyp)
        dp = (hyp != "") & (ref != "") & (ref_n != "") & (ref_n != hyp_n)
        row = j.agg(
            F.sum(dp.cast("long")).alias("rows"),
            F.sum(F.when(dp, F.length(ref_n).cast("long")
                         * F.length(hyp_n))).alias("cells")).first()
        m["evaluate.dp_rows"] = row["rows"] or 0
        m["evaluate.dp_cells"] = row["cells"] or 0
        return m


WORKLOADS = {
    "extract-heavy": ExtractHeavy,
    "resume-evaluate": ResumeEvaluate,
}
