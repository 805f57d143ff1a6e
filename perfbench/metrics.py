"""Names and units of every metric the benchmark prints.

``END_TO_END`` is printed by untraced runs, ``PER_LAYER`` by traced
runs. A workload that does not touch a layer reports that layer's
figures as 0: it did no work there and spent no time there.
"""

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "docs_per_s": "1/s",
    "success_docs_frac": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    # engine.session
    "session.build_s": "s",
    "session.first_action_s": "s",
    # engine.extract_job
    "extract.read_pages_s": "s",
    "extract.scan_partitions": "count",
    "extract.stage_s": "s",
    "extract.plumbing_core_s": "s",
    "extract.out_mb": "MB",
    "extract.field_docs": "count",
    # kernels
    "kernels.busy_s": "s",
    "kernels.html_ms_p50": "ms",
    "kernels.html_ms_p99": "ms",
    "kernels.pdf_ms_p50": "ms",
    "kernels.pdf_ms_p99": "ms",
    "kernels.direct_docs_per_s": "1/s",
    "kernels.error_docs": "count",
    # engine.catalog
    "catalog.batches_run": "count",
    "catalog.batches_skipped": "count",
    "catalog.write_batch_s_p50": "s",
    "catalog.write_batch_s_max": "s",
    "catalog.committed_batches_s": "s",
    "catalog.resume_s": "s",
    "catalog.overhead_ratio": "ratio",
    "catalog.metrics_rows": "count",
    # engine.evaluate
    "evaluate.s": "s",
    "evaluate.rows": "count",
    "evaluate.dp_rows": "count",
    "evaluate.dp_cells": "count",
    # memory of the process tree during the jobs (peak_rss_mb is
    # outside_heap_mb + heap_live_mb, see tracing.MemorySampler)
    "memory.outside_heap_mb": "MB",
    "memory.heap_live_mb": "MB",
    "memory.heap_committed_mb": "MB",
    # self time per layer over the traced jobs (session: over setups)
    "self.session_s": "s",
    "self.extract_s": "s",
    "self.catalog_s": "s",
    "self.evaluate_s": "s",
    "self.bench_s": "s",
    # tracing cost: traced minus untraced job time
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.overhead_s": "s",
}


def render(values: dict, units: dict) -> dict:
    """``{name: {"value", "unit"}}`` for every name in ``units``;
    names without a value read 0."""
    unknown = values.keys() - units.keys()
    if unknown:
        raise ValueError(f"unknown metrics: {sorted(unknown)}")
    return {k: {"value": values.get(k, 0), "unit": u}
            for k, u in units.items()}
