"""The benchmark workloads.

Each workload stages its seeded inputs once, then runs one iteration per
call of ``iterate`` into a fresh output directory.  It calls only the
engine's public functions and ``jobs/run_extract.py``'s ``main()``;
``check`` verifies an iteration's committed output outside the timed
phase, and ``trace`` re-runs an iteration with every layer's output
prefix materialised as its own span.
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
import sys
import time
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from . import checks, inputs

CRAWL_DOCS = 4000
PDF_RESIDUE = 2  # doc_id % 5 == 2 pages are PDF (layout is % 5 == 4)
LABEL_ORDERS = 40  # 280 label blocks
CONTROL_SAMPLE = 600  # documents rendered for the control and kernel timings
CONTROL_REPEAT = 10


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def _load_job(root: str):
    spec = importlib.util.spec_from_file_location(
        "run_extract", os.path.join(root, "jobs", "run_extract.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def render_payload(doc_id: int, text: str) -> bytes:
    """The crawl mix: layout JSON for doc_id % 5 == 4 (the corpus rule),
    PDF for doc_id % 5 == PDF_RESIDUE, HTML otherwise."""
    from dpo_ocr_spark.corpus import is_layout_doc, render_html, render_layout, render_pdf

    if is_layout_doc(doc_id):
        return render_layout(doc_id, text)
    if doc_id % 5 == PDF_RESIDUE:
        return render_pdf(doc_id, text)
    return render_html(doc_id, text)


def control_payloads(seed: int) -> list[bytes]:
    """Crawl-mix payloads for the framework-free control."""
    docs = inputs.documents(seed, CONTROL_SAMPLE)
    pairs = zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist())
    return [render_payload(i, t) for i, t in pairs] * CONTROL_REPEAT


class Workload:
    unit = "docs"
    min_iterations = 3
    iteration_spans: tuple[str, ...] = ()  # the traced full iteration
    resume_skipped = 0  # documents the traced resume found committed

    def __init__(self, spark, root: str, work: str, seed: int):
        self.spark = spark
        self.root = root
        self.work = work
        self.seed = seed
        self.input = os.path.join(work, "input")
        self.units = 0  # documents (or label blocks) one iteration completes
        self.extra_outputs: list[str] = []  # checked outputs of the traced run

    def warm_up(self, out: str) -> None:
        self.iterate(out)


class CrawlExtract(Workload):
    """The production job over a crawl of HTML (60%), PDF (20%) and layout
    JSON (20%) pages, then line assembly over its committed results.  The
    traced run also resumes the job from a lineage that covers a
    seed-chosen half of the salt buckets."""

    iteration_spans = ("jobs.run", "assemble.run")

    def __init__(self, *a):
        super().__init__(*a)
        self.job = _load_job(self.root)
        self.parts = self.spark.sparkContext.defaultParallelism * 2
        self.pages = os.path.join(self.input, "pages")

    def stage(self) -> None:
        from dpo_ocr_spark.corpus import EPOCH, expected_text, page_url

        docs = inputs.documents(self.seed, CRAWL_DOCS)
        ids = docs.column("doc_id").to_pylist()
        texts = docs.column("text").to_pylist()
        urls = [page_url(i) for i in ids]
        self.expected = pa.table(
            {"url": urls, "text": [expected_text(t) for t in texts]}
        )
        pages = pa.table(
            {
                "url": pa.array(urls, pa.string()),
                "warc_ts": pa.array(
                    [EPOCH + timedelta(seconds=i) for i in ids],
                    pa.timestamp("us", tz="UTC"),
                ),
                "html": pa.array(
                    [render_payload(i, t) for i, t in zip(ids, texts)], pa.binary()
                ),
                "text": pa.array([None] * len(ids), pa.string()),
                "lang": docs.column("lang"),
            }
        )
        os.makedirs(self.pages)
        files = self.spark.sparkContext.defaultParallelism
        step = -(-len(ids) // files)
        for k in range(files):
            pq.write_table(
                pages.slice(k * step, step),
                os.path.join(self.pages, f"part-{k:05d}.parquet"),
            )
        self.units = CRAWL_DOCS

    def run_job(self, out: str, resume_from: str | None = None) -> None:
        argv = [
            "run_extract.py",
            "--input", self.pages,
            "--output", os.path.join(out, "results"),
            "--lineage", os.path.join(out, "lineage"),
            "--salt-partitions", str(self.parts),
        ]
        if resume_from:
            argv += ["--resume-from", resume_from]
        saved, sys.argv = sys.argv, argv
        try:
            rc = self.job.main()
        finally:
            sys.argv = saved
        if rc:
            raise RuntimeError(f"run_extract main() returned {rc}")

    def assemble(self, out: str, tr=None) -> None:
        from dpo_ocr_spark.assemble import (
            assemble_blocks,
            assemble_reading_order,
            explode_tokens,
        )
        from dpo_ocr_spark.export import flatten_lines

        extracted = self.spark.read.parquet(os.path.join(out, "results"))
        tokens = explode_tokens(extracted)
        blocks = assemble_blocks(tokens)
        order = assemble_reading_order(tokens)
        lines = flatten_lines(blocks)
        if tr is not None:
            tr.noop("assemble.explode", tokens)
            tr.noop("assemble.blocks", blocks, "assemble.explode")
            tr.noop("assemble.reading_order", order, "assemble.explode")
            tr.noop("export.flatten_lines", lines, "assemble.blocks")

        def write() -> None:
            order.write.parquet(os.path.join(out, "reading_order"))
            lines.write.parquet(os.path.join(out, "lines"))

        if tr is None:
            write()
        else:
            tr.span("assemble.run", write)

    def iterate(self, out: str) -> None:
        self.run_job(out)
        self.assemble(out)

    def check(self, con, out: str) -> tuple[int, int]:
        con.register("expected", self.expected)
        attempted, failed = checks.check_extraction(
            con, os.path.join(out, "results"), os.path.join(out, "lineage")
        )
        for sub, key in (("lines", "url"), ("reading_order", "(url, block)")):
            path = checks.parquet_glob(os.path.join(out, sub))
            if os.path.isdir(os.path.join(out, sub)):
                # flatten_lines emits one row per url, reading order one
                # per (url, block)
                failed += con.execute(
                    f"SELECT count(*) - count(DISTINCT {key}) "
                    f"FROM read_parquet('{path}')"
                ).fetchone()[0]
        return attempted, failed

    def trace(self, tr, out: str) -> None:
        from pyspark.sql import functions as F

        from dpo_ocr_spark.extract import extract_pages
        from dpo_ocr_spark.scale import resume_filter, salted_repartition, with_lineage
        from dpo_ocr_spark.sources import read_web_pages

        pages = read_web_pages(self.spark, self.pages)
        tr.noop("sources.scan", pages)
        salted = salted_repartition(pages, self.parts)
        tr.noop("scale.salt_exchange", salted, "sources.scan")
        extracted = extract_pages(salted)
        tr.noop("extract", extracted, "scale.salt_exchange")
        _, lineage = with_lineage(extracted, num_buckets=self.parts)
        tr.noop("scale.lineage", lineage, "extract")
        tr.noop("extract.profiled", extracted, "scale.salt_exchange", profile=True)
        tr.span("jobs.run", lambda: self.run_job(out))
        self.assemble(out, tr)

        # Resume: commit a seed-chosen half of the buckets, then re-run.
        half = random.Random(self.seed).sample(range(self.parts), self.parts // 2)
        committed = os.path.join(self.work, "committed")
        for name in ("results", "lineage"):
            (
                self.spark.read.parquet(os.path.join(out, name))
                .filter(F.col("partition_id").isin(half))
                .write.parquet(os.path.join(committed, name))
            )
        done_lineage = os.path.join(committed, "lineage")
        tr.noop(
            "scale.resume_filter",
            resume_filter(pages, self.spark.read.parquet(done_lineage)),
            "sources.scan",
        )
        resumed = os.path.join(self.work, "resumed")
        for name in ("results", "lineage"):
            shutil.copytree(os.path.join(committed, name), os.path.join(resumed, name))
        self.extra_outputs = [resumed]
        self.resume_skipped = sum(
            r[0] for r in self.spark.read.parquet(done_lineage).select("input_count").collect()
        )
        tr.span("jobs.resume", lambda: self.run_job(resumed, done_lineage))


class LabelFields(Workload):
    """Specimen-label blocks through the interpretation cascade, then the
    span export of its fields."""

    unit = "label blocks"
    iteration_spans = ("interpret.run", "export.run")
    min_iterations = 1
    TABLES = ["orders", "customer", "nation", "region"]
    _span_query = None  # (columns, rows) of the registered span_records query

    def stage(self) -> None:
        self.units = inputs.write_label_tables(self.seed, LABEL_ORDERS, self.input)
        # The Python workers memoise fuzzy-match results per string pair
        # (interpret.fuzzy), so a warm-up over the measured blocks would
        # turn the measured iteration into cache hits that depend on which
        # worker runs which partition.  The warm-up gets a label set of the
        # same size from another seed.
        self.warm_input = os.path.join(self.work, "warm_input")
        inputs.write_label_tables(self.seed + 1, LABEL_ORDERS, self.warm_input)

    def _interpret(self, sf_dir: str):
        from dpo_ocr_spark.interpret.dims import gazetteer, gazetteer_hierarchy, taxonomy
        from dpo_ocr_spark.interpret.labels import label_blocks_with_dims
        from dpo_ocr_spark.interpret.match import interpret_all

        blocks = label_blocks_with_dims(self.spark, sf_dir)
        fields = interpret_all(
            self.spark,
            blocks,
            gazetteer(self.spark, sf_dir),
            taxonomy(self.spark),
            hierarchy=gazetteer_hierarchy(self.spark, sf_dir),
        )
        return blocks, fields

    def _export(self, blocks, out: str):
        from dpo_ocr_spark.export import flatten_lines, span_records, training_jsonl

        fields = self.spark.read.parquet(os.path.join(out, "fields"))
        spans = span_records(flatten_lines(blocks), fields)
        return spans, training_jsonl(spans)

    def _write_export(self, spans, jsonl, out: str) -> None:
        spans.write.parquet(os.path.join(out, "spans"))
        jsonl.write.parquet(os.path.join(out, "jsonl"))

    def iterate(self, out: str, sf_dir: str | None = None) -> None:
        blocks, fields = self._interpret(sf_dir or self.input)
        fields.write.parquet(os.path.join(out, "fields"))
        self._write_export(*self._export(blocks, out), out)

    def warm_up(self, out: str) -> None:
        self.iterate(out, self.warm_input)

    def check_prepare(self) -> None:
        """Spark-side part of the checks: the registered ``span_records``
        query, compared with its DuckDB twin in ``check``."""
        import __spark_entry__ as entry

        df = entry.queries()["span_records"](self.spark, self.input)
        self._span_query = (df.columns, [tuple(r) for r in df.collect()])

    def check(self, con, out: str) -> tuple[int, int]:
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        checks.register_tables(con, self.input, self.TABLES)
        cols, rows = checks.read_rows(con, os.path.join(out, "fields"))
        attempted, failed = checks.check_against_oracle(
            con, cols, rows, oracles["interpret_full"]
        )
        if self._span_query is not None:
            a, f = checks.check_against_oracle(
                con, *self._span_query, oracles["span_records"]
            )
            attempted, failed = attempted + a, failed + f
            self._span_query = None  # compared once per run
        spans = checks.parquet_glob(os.path.join(out, "spans"))
        jsonl = checks.parquet_glob(os.path.join(out, "jsonl"))
        bad_spans, n_urls = con.execute(
            "SELECT count(*) FILTER (WHERE start < 0 OR \"end\" > length(content) "
            "OR start >= \"end\"), count(DISTINCT url) "
            f"FROM read_parquet('{spans}')"
        ).fetchone()
        n_jsonl = con.execute(
            f"SELECT count(*) FROM read_parquet('{jsonl}')"
        ).fetchone()[0]
        return attempted, failed + bad_spans + abs(n_urls - n_jsonl)

    def trace(self, tr, out: str) -> None:
        from dpo_ocr_spark.export import flatten_lines, span_records
        from dpo_ocr_spark.interpret.dims import gazetteer, gazetteer_hierarchy, taxonomy
        from dpo_ocr_spark.interpret.labels import label_blocks_with_dims
        from dpo_ocr_spark.interpret.match import (
            dedup_line_grain,
            expand_locality,
            interpret_dates,
            match_collector,
            match_localities,
            match_taxonomy,
            merge_fields,
            similarity_fallback,
        )

        # Inputs of each prefix are cached, so a prefix's self time is its
        # own wall time; merges subtract the (uncached) stage they merge.
        s, d = self.spark, self.input
        blocks = label_blocks_with_dims(s, d).cache()
        tr.noop("interpret.blocks", blocks)
        dates = dedup_line_grain(interpret_dates(blocks)).cache()
        tr.noop("interpret.dates", dates)
        locs = dedup_line_grain(match_localities(s, blocks, gazetteer(s, d)))
        locs = locs.unionByName(
            expand_locality(locs, blocks, gazetteer_hierarchy(s, d))
        ).cache()
        tr.noop("interpret.localities", locs)
        taxo = dedup_line_grain(match_taxonomy(s, blocks, taxonomy(s)))
        tr.noop("interpret.taxonomy", taxo)
        base = merge_fields(merge_fields(dates, locs), taxo).cache()
        tr.noop("interpret.merge_base", base, "interpret.taxonomy")
        coll = dedup_line_grain(match_collector(blocks, base))
        tr.noop("interpret.collector", coll)
        merged = merge_fields(base, coll).cache()
        tr.noop("interpret.merge_collector", merged, "interpret.collector")
        fb = dedup_line_grain(similarity_fallback(s, blocks, merged))
        tr.noop("interpret.fallback", fb)
        tr.noop("interpret.merge_fallback", merge_fields(merged, fb), "interpret.fallback")
        lines = flatten_lines(blocks)
        tr.noop("export.flatten_lines", lines)
        self.spark.catalog.clearCache()

        def run_interpret() -> None:
            _, fields = self._interpret(d)
            fields.write.parquet(os.path.join(out, "fields"))

        tr.span("interpret.run", run_interpret)
        fields = s.read.parquet(os.path.join(out, "fields"))
        tr.noop("export.span_records", span_records(lines, fields), "export.flatten_lines")
        spans, jsonl = self._export(label_blocks_with_dims(s, d), out)
        tr.span("export.run", lambda: self._write_export(spans, jsonl, out))
        self.spark.catalog.clearCache()


WORKLOADS = {
    "crawl_extract": CrawlExtract,
    "label_fields": LabelFields,
}


def kernel_us_per_doc(seed: int, n: int = 300) -> dict[str, float]:
    """Driver-side per-document time of each decode kernel, best of three
    passes over a fixed seeded sample."""
    from dpo_ocr_spark.corpus import render_html, render_layout, render_pdf
    from dpo_ocr_spark.extract.html import extract_html
    from dpo_ocr_spark.extract.layout import extract_layout
    from dpo_ocr_spark.extract.pdf import extract_pdf

    docs = inputs.documents(seed, n)
    pairs = list(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    out = {}
    for name, render, kernel in (
        ("html", render_html, extract_html),
        ("layout", render_layout, extract_layout),
        ("pdf", render_pdf, extract_pdf),
    ):
        payloads = [render(i, t) for i, t in pairs]
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            for p in payloads:
                kernel(p)
            best = min(best, time.perf_counter() - t0)
        out[name] = best / n * 1e6
    return out
