#!/usr/bin/env python3
"""spark-extract benchmark: one workload per call, closed loop, one client.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 5 --trace 0

Run from the repository root.  A single driver process at
``local[<nproc>]`` starts one session, stages the seeded inputs, runs the
workload's discarded warm-up iteration, then runs iterations one after
another for ``--seconds`` (at least the workload's ``min_iterations``),
each into fresh output directories.  A traced run instead runs one traced
iteration and one untraced iteration after it.  The outputs are checked
after the timed phase.  The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer ledger with ``--trace 1``.
Exit status is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()


def _session(work: str, trace: bool):
    from dpo_ocr_spark.session import get_spark
    from perfbench.hostmon import driver_heap_mb, nproc

    heap = driver_heap_mb()
    conf = {
        "spark.driver.memory": f"{heap}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # Only the heap's ceiling is set, so the JVM's resident size
        # follows the pages the program touches; -UsePerfData stops the
        # JVM writing /tmp/hsperfdata_<user>.
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                # one plain file per session (Spark 4 rolls by default)
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", cpus=nproc(), extra_conf=conf)


def _environment(work: str) -> None:
    from perfbench.hostmon import nproc

    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_STAGE_CACHE"] = "0"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def _layer_metrics(wl, tr, log, prof, counts, host) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not reach reads 0."""
    from perfbench.workloads import kernel_us_per_doc

    it = {
        k: sum(log.metrics(s)[k] for s in wl.iteration_spans) for k in log.metrics("")
    }
    job = log.metrics("jobs.run")
    extract_self = tr.self_s("extract")
    merge = sum(
        tr.self_s(f"interpret.merge_{k}") for k in ("base", "collector", "fallback")
    )
    skipped = wl.resume_skipped
    us = kernel_us_per_doc(wl.seed)
    control = (host["control_before"] + host["control_after"]) / 2
    decoded = job["python_records_in"]
    return {
        "sources.scan_s": tr.wall("sources.scan"),
        "sources.write_s": max(
            0.0, tr.wall("jobs.run") - tr.wall("extract") - tr.wall("scale.lineage")
        )
        if "jobs.run" in tr.spans
        else 0.0,
        "sources.bytes_read": job["bytes_read"],
        "sources.bytes_written": job["bytes_written"],
        "scale.salt_exchange_s": tr.self_s("scale.salt_exchange"),
        "scale.lineage_s": tr.self_s("scale.lineage"),
        "scale.resume_filter_s": tr.self_s("scale.resume_filter"),
        "scale.resume_skipped_docs": skipped,
        "scale.resume_useful_ratio": (wl.units - skipped) / wl.units if skipped else 0.0,
        "jobs.decode_stages": job["python_stages"],
        "extract.decode_useful_ratio": wl.units / decoded if decoded else 0.0,
        "extract.self_s": extract_self,
        "extract.mb_per_s": log.metrics("extract")["python_sent_bytes"] / 1e6 / extract_self
        if extract_self
        else 0.0,
        "extract.html_docs": counts.get("html", 0),
        "extract.layout_docs": counts.get("layout", 0),
        "extract.pdf_docs": counts.get("pdf", 0),
        "extract.quarantined_docs": counts.get("error", 0),
        "extract.tokens": counts.get("tokens", 0),
        "extract.kernel_s": prof.total_s("_extract_batches_arrow"),
        "extract.input_wait_s": prof.cumulative_s("_byte_bounded"),
        "extract.segment_html_s": prof.cumulative_s("segment_html_fast"),
        "extract.html_us_per_doc": us["html"],
        "extract.layout_us_per_doc": us["layout"],
        "extract.pdf_us_per_doc": us["pdf"],
        "python.worker_boot_s": log.total("python_start_s") + log.total("python_init_s"),
        "python.sent_bytes": it["python_sent_bytes"],
        "python.returned_bytes": it["python_returned_bytes"],
        "assemble.explode_s": tr.wall("assemble.explode"),
        "assemble.blocks_s": tr.self_s("assemble.blocks"),
        "assemble.reading_order_s": tr.self_s("assemble.reading_order"),
        "assemble.lines_out": counts.get("lines", 0),
        "export.flatten_lines_s": tr.self_s("export.flatten_lines"),
        "export.span_records_s": tr.self_s("export.span_records"),
        "export.spans_out": counts.get("spans", 0),
        "interpret.dates_s": tr.self_s("interpret.dates"),
        "interpret.localities_s": tr.self_s("interpret.localities"),
        "interpret.taxonomy_s": tr.self_s("interpret.taxonomy"),
        "interpret.collector_s": tr.self_s("interpret.collector"),
        "interpret.fallback_s": tr.self_s("interpret.fallback"),
        "interpret.merge_s": merge,
        "interpret.kernel_s": log.metrics("interpret.run")["python_run_s"],
        "interpret.fields_out": counts.get("fields", 0),
        "shuffle.write_bytes": it["shuffle_write_bytes"],
        "shuffle.write_s": it["shuffle_write_s"],
        "shuffle.fetch_wait_s": it["fetch_wait_s"],
        "spill.bytes": it["memory_spill_bytes"] + it["disk_spill_bytes"],
        "spark.gc_s": it["gc_s"],
        "spark.executor_run_s": it["executor_run_s"],
        "spark.executor_cpu_s": it["executor_cpu_s"],
        "spark.tasks": it["tasks"],
        "host.control_before_docs_per_s": host["control_before"],
        "host.control_after_docs_per_s": host["control_after"],
        "host.steal_frac": host["steal_frac"],
        "host.spark_to_control_ratio": wl.units / host["untraced_wall_s"] / control,
        "trace.overhead_frac": sum(tr.wall(s) for s in wl.iteration_spans)
        / host["untraced_wall_s"]
        - 1,
    }


def _output_counts(name: str, out: str) -> dict[str, int]:
    import duckdb

    from perfbench.checks import parquet_glob

    con = duckdb.connect()

    def count(sub: str) -> int:
        path = parquet_glob(os.path.join(out, sub))
        return con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]

    counts: dict[str, int] = {}
    if name == "label_fields":
        counts["fields"] = count("fields")
        counts["spans"] = count("spans")
        return counts
    path = parquet_glob(os.path.join(out, "results"))
    for kind, n, toks in con.execute(
        "SELECT payload_kind, count(*), sum(n_tokens) "
        f"FROM read_parquet('{path}') GROUP BY payload_kind"
    ).fetchall():
        counts[kind] = n
        counts["tokens"] = counts.get("tokens", 0) + int(toks or 0)
    counts["lines"] = count("lines")
    return counts


class _Phases(dict):
    """Wall seconds per named phase of a run."""

    @contextlib.contextmanager
    def time(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self[name] = self.get(name, 0.0) + time.perf_counter() - t0


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import duckdb

    _environment(work)
    from perfbench import hostmon
    from perfbench.ledger import EventLog, Profile, Tracer
    from perfbench.workloads import WORKLOADS, control_payloads, dir_bytes

    ph = _Phases()
    walls, peaks, outs, host = [], [], [], {}
    with ph.time("session"):
        spark = _session(work, trace)
    jvm = spark.sparkContext._gateway.proc
    control = None
    try:
        wl = WORKLOADS[workload](spark, ROOT, work, seed)
        with ph.time("stage"):
            wl.stage()
        with ph.time("warmup"):
            # One discarded iteration pays the cold start (worker boot,
            # imports, code generation): a cold label_fields iteration takes
            # ~45 s against ~20 s warm.
            wl.warm_up(os.path.join(work, "warmup"))
            spark.catalog.clearCache()
            shutil.rmtree(os.path.join(work, "warmup"))
        if not trace:
            with ph.time("measure"), hostmon.RssSampler(jvm.pid) as rss:
                start = time.perf_counter()
                while len(walls) < wl.min_iterations or time.perf_counter() - start < seconds:
                    out = os.path.join(work, f"it{len(walls)}")
                    rss.lap()
                    t0 = time.perf_counter()
                    wl.iterate(out)
                    walls.append(time.perf_counter() - t0)
                    peaks.append(rss.lap())
                    spark.catalog.clearCache()
                    outs.append(out)
        else:
            with ph.time("control"):
                control = hostmon.Control(control_payloads(seed), hostmon.nproc())
                host["control_before"] = control.docs_per_s()
            cpu0 = hostmon.cpu_times()
            tracer = Tracer(spark)
            traced_out = os.path.join(work, "traced")
            with ph.time("trace"):
                wl.trace(tracer, traced_out)
                prof = Profile.dump(spark, os.path.join(work, "profile"))
            outs += [traced_out] + wl.extra_outputs
            with ph.time("reference"):
                # An untraced iteration right after the traced one, so both
                # ran at the same point of the warm-up curve.
                out = os.path.join(work, "reference")
                t0 = time.perf_counter()
                wl.iterate(out)
                walls.append(time.perf_counter() - t0)
                spark.catalog.clearCache()
                outs.append(out)
            host["steal_frac"] = hostmon.steal_fraction(cpu0, hostmon.cpu_times())
            with ph.time("check"):
                if hasattr(wl, "check_prepare"):
                    wl.check_prepare()
            with ph.time("control"):
                host["control_after"] = control.docs_per_s()
    finally:
        if control is not None:
            control.close()
        spark.stop()
        # The gateway JVM exits when its stdin closes; wait for it before
        # reading outputs (main() then waits for its Python worker daemon).
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()

    with ph.time("check"):
        con = duckdb.connect()
        attempted = failed = 0
        for out in outs:
            a, f = wl.check(con, out)
            attempted += a
            failed += f
    summary = {
        "workload": workload,
        "seed": seed,
        "unit": wl.unit,
        "walls_s": [round(w, 4) for w in walls],
        "peak_rss_mb": [round(p / 2**20) for p in peaks],
        "error_rate": failed / attempted if attempted else 1.0,
        "phases_s": {k: round(v, 3) for k, v in ph.items()},
    }
    wall = statistics.median(walls)
    if not trace:
        written = statistics.median(dir_bytes(o) for o in outs)
        metrics = {
            "setup_s": (ph["session"] + ph["stage"] + ph["warmup"], "s"),
            "wall_s": (wall, "s"),
            "docs_per_s": (wl.units / wall, "1/s"),
            "peak_rss_mb": (max(peaks) / 2**20, "MB"),
            "written_bytes_per_doc": (written / wl.units, "B"),
        }
    else:
        from perfbench.metrics import PER_LAYER

        log = EventLog.from_dir(os.path.join(work, "events"))
        host["untraced_wall_s"] = wall
        counts = _output_counts(workload, traced_out)
        values = _layer_metrics(wl, tracer, log, prof, counts, host)
        metrics = {n: (values[n], u) for n, u, *_ in PER_LAYER}
        summary["spans"] = {
            s: {"wall_s": v["wall_s"], "parent": v["parent"], **log.metrics(s)}
            for s, v in tracer.spans.items()
        }
        summary["profile_top"] = prof.top(20)
    print("summary " + json.dumps(summary))
    for k, (v, u) in metrics.items():
        print(f"{workload:14s} {k:34s} {v:16.4f} {u}")
    print(f"{workload:14s} {'error_rate':34s} {summary['error_rate']:16.4f} ratio")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (
        os.path.isdir(os.path.join(ROOT, "dpo_ocr_spark"))
        and os.path.isfile(os.path.join(ROOT, "jobs", "run_extract.py"))
    ):
        print(
            "perfbench: run from the repository root "
            "(dpo_ocr_spark/ and jobs/run_extract.py not found)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    from perfbench import hostmon

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    hostmon.adopt_orphans()
    # A SIGTERM unwinds through the finally blocks like an exception does.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        hostmon.end_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
