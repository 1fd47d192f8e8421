"""Metric catalogue: every metric the benchmark reports, its unit and
direction, and for each per-layer metric the end-to-end metric and the
workloads it should move.  BENCHMARK.json lists the same names; a test
keeps the two in step."""

from __future__ import annotations

WORKLOADS = {
    "crawl_extract": (
        "production job over an HTML/PDF/layout crawl, then line assembly: "
        "decode, Arrow transfer, parquet writes and JVM shuffle; resume is traced"
    ),
    "label_fields": (
        "label blocks through the pandas-UDF interpretation cascade and span "
        "export, after a discarded cold run; the only workload that reaches interpret"
    ),
}

# name, unit, better, bound.  Bounds are wide because run-to-run spread
# on a shared 4-core host is ~10% (quartile distance over median, ten
# seeds) for times and for peak RSS, which follows the JVM's heap growth;
# written bytes repeat within ~1%.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("wall_s", "s", "lower", 0.25),
    ("docs_per_s", "1/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("written_bytes_per_doc", "B", "lower", 0.05),
]

_CRAWL = ("crawl_extract",)
_LABEL = ("label_fields",)
_ALL = ("crawl_extract", "label_fields")

# name, unit, better, moves (end-to-end metrics), on workloads
PER_LAYER = [
    ("sources.scan_s", "s", "lower", ("wall_s",), _CRAWL),
    ("sources.write_s", "s", "lower", ("wall_s",), _CRAWL),
    ("sources.bytes_read", "B", "lower", ("wall_s",), _CRAWL),
    ("sources.bytes_written", "B", "lower", ("written_bytes_per_doc",), _CRAWL),
    ("scale.salt_exchange_s", "s", "lower", ("wall_s",), _CRAWL),
    ("scale.lineage_s", "s", "lower", ("wall_s",), _CRAWL),
    # resume runs in the traced pass only: no end-to-end metric covers it
    ("scale.resume_filter_s", "s", "lower", (), _CRAWL),
    ("scale.resume_skipped_docs", "count", "higher", (), _CRAWL),
    ("scale.resume_useful_ratio", "ratio", "higher", (), _CRAWL),
    ("jobs.decode_stages", "count", "lower", ("wall_s", "docs_per_s"), _CRAWL),
    ("extract.decode_useful_ratio", "ratio", "higher", ("wall_s", "docs_per_s"), _CRAWL),
    ("extract.self_s", "s", "lower", ("docs_per_s",), _CRAWL),
    ("extract.mb_per_s", "MB/s", "higher", ("docs_per_s",), _CRAWL),
    ("extract.html_docs", "count", "higher", ("docs_per_s",), _CRAWL),
    ("extract.layout_docs", "count", "higher", ("docs_per_s",), _CRAWL),
    ("extract.pdf_docs", "count", "higher", ("docs_per_s",), _CRAWL),
    ("extract.quarantined_docs", "count", "lower", ("docs_per_s",), _CRAWL),
    ("extract.tokens", "count", "higher", ("docs_per_s",), _CRAWL),
    ("extract.kernel_s", "s", "lower", ("docs_per_s",), _CRAWL),
    ("extract.input_wait_s", "s", "lower", ("docs_per_s",), _CRAWL),
    ("extract.segment_html_s", "s", "lower", ("docs_per_s",), _CRAWL),
    ("extract.html_us_per_doc", "us", "lower", ("docs_per_s",), _CRAWL),
    ("extract.layout_us_per_doc", "us", "lower", ("docs_per_s",), _CRAWL),
    ("extract.pdf_us_per_doc", "us", "lower", ("docs_per_s",), _CRAWL),
    ("python.worker_boot_s", "s", "lower", ("setup_s",), _ALL),
    ("python.sent_bytes", "B", "lower", ("docs_per_s",), _CRAWL),
    ("python.returned_bytes", "B", "lower", ("docs_per_s",), _CRAWL),
    ("assemble.explode_s", "s", "lower", ("wall_s",), _CRAWL),
    ("assemble.blocks_s", "s", "lower", ("wall_s",), _CRAWL),
    ("assemble.reading_order_s", "s", "lower", ("wall_s",), _CRAWL),
    ("assemble.lines_out", "count", "higher", ("wall_s",), _CRAWL),
    ("export.flatten_lines_s", "s", "lower", ("wall_s",), ("crawl_extract", "label_fields")),
    ("export.span_records_s", "s", "lower", ("wall_s",), _LABEL),
    ("export.spans_out", "count", "higher", ("wall_s",), _LABEL),
    ("interpret.dates_s", "s", "lower", ("wall_s",), _LABEL),
    ("interpret.localities_s", "s", "lower", ("wall_s",), _LABEL),
    ("interpret.taxonomy_s", "s", "lower", ("wall_s",), _LABEL),
    ("interpret.collector_s", "s", "lower", ("wall_s",), _LABEL),
    ("interpret.fallback_s", "s", "lower", ("wall_s",), _LABEL),
    ("interpret.merge_s", "s", "lower", ("wall_s",), _LABEL),
    ("interpret.kernel_s", "s", "lower", ("wall_s",), _LABEL),
    ("interpret.fields_out", "count", "higher", ("wall_s",), _LABEL),
    ("shuffle.write_bytes", "B", "lower", ("wall_s", "peak_rss_mb"), _CRAWL),
    ("shuffle.write_s", "s", "lower", ("wall_s",), _CRAWL),
    ("shuffle.fetch_wait_s", "s", "lower", ("wall_s",), _CRAWL),
    ("spill.bytes", "B", "lower", ("wall_s", "peak_rss_mb"), _CRAWL),
    ("spark.gc_s", "s", "lower", ("wall_s", "peak_rss_mb"), _CRAWL),
    ("spark.executor_run_s", "s", "lower", ("wall_s",), _ALL),
    ("spark.executor_cpu_s", "s", "lower", ("wall_s",), _ALL),
    ("spark.tasks", "count", "lower", ("wall_s",), _ALL),
    ("host.control_before_docs_per_s", "1/s", "higher", (), _ALL),
    ("host.control_after_docs_per_s", "1/s", "higher", (), _ALL),
    ("host.steal_frac", "ratio", "lower", (), _ALL),
    ("host.spark_to_control_ratio", "ratio", "higher", (), _ALL),
    ("trace.overhead_frac", "ratio", "lower", (), _ALL),
]


def benchmark_json(run_seconds: int) -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, u, b, _, _ in PER_LAYER
        ],
    }
