"""The traced run (``--trace 1``): per-layer metrics.

Kernel layers come from an in-process replay of the workload's
Python-stage functions with a span recorder wrapped around the public
kernel functions; Spark layers come from the event log of one repetition
run in a session with the event log on.  Both are compared with untraced
figures from the same run to report the tracing overhead.
"""

from __future__ import annotations

import os
import statistics
import time

import eventlog
import procs
import replay
from harness import MIN_REPS, timed_reps
from spans import SpanRecorder, percentile

PER_LAYER = [
    # kernels.pdf (replay)
    ("pdf.extract.self_s", "s"), ("pdf.cos.self_s", "s"), ("pdf.content.self_s", "s"),
    ("pdf.content.pages", "count"), ("pdf.content.glyphs_per_s", "1/s"),
    ("pdf.fonts.self_s", "s"), ("pdf.layout.self_s", "s"), ("pdf.layout.lines", "count"),
    ("pdf.layout.blocks", "count"), ("pdf.doc_ms_p50", "ms"), ("pdf.doc_ms_p99", "ms"),
    ("pdf.doc_ms_max", "ms"), ("pdf.parses_per_doc", "ratio"),
    # kernels.html_extract, kernels.ocr_stub, sources.warc (replay)
    ("html.self_s", "s"), ("html.docs_per_s_1core", "docs/s"), ("html.doc_ms_p99", "ms"),
    ("html.tokenizations_per_doc", "ratio"),
    ("ocr.self_s", "s"), ("ocr.pages", "count"), ("ocr.pages_per_call", "ratio"),
    ("warc.self_s", "s"), ("warc.records", "count"), ("warc.mb_inflated_per_s", "MB/s"),
    # pipeline.extract_job
    ("pystage.self_s", "s"), ("kernel.docs_per_s_1core", "docs/s"), ("spark.efficiency", "ratio"),
    ("replay.wall_s", "s"), ("replay.self_sum_s", "s"),
    ("trace.replay_overhead", "ratio"), ("trace.eventlog_overhead", "ratio"),
    ("setup.cold_s", "s"), ("mem.peak_rss_mb", "MB"),
    # Spark side (event log of the traced repetition)
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.scan.run_s", "s"), ("spark.scan.input_mb", "MB"),
    ("spark.shuffle.write_mb", "MB"), ("spark.shuffle.read_mb", "MB"),
    ("spark.shuffle.write_s", "s"),
    ("spark.pystage.run_s", "s"), ("spark.pystage.worker_cpu_s", "s"),
    ("spark.pystage.task_skew", "ratio"),
    ("spark.gc_s", "s"), ("spark.spill_mb", "MB"), ("spark.persist_mb", "MB"),
    ("spark.sink.write_s", "s"), ("spark.sink.output_mb", "MB"),
    ("spark.broadcast.build_s", "s"),
    ("resume.skipped_docs", "count"), ("sink.bytes_per_doc", "B"),
]


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def kernel_metrics(rec: SpanRecorder, rows: list[dict], unwrapped_s: float,
                   wrapped_s: float) -> dict:
    st = rec.self_times()
    c = rec.counts
    n_pdf = sum(r["content_kind"] == "pdf" for r in rows)
    n_html = sum(r["content_kind"] == "html" for r in rows)
    pdf_ms = rec.durations_ms("pdf.extract")
    html_ms = rec.durations_ms("html")
    return {
        "pdf.extract.self_s": st.get("pdf.extract", 0.0),
        "pdf.cos.self_s": st.get("pdf.cos", 0.0),
        "pdf.content.self_s": st.get("pdf.content", 0.0),
        "pdf.content.pages": c["pdf.content.pages"],
        "pdf.content.glyphs_per_s": _ratio(c["pdf.content.glyphs"], st.get("pdf.content", 0.0)),
        "pdf.fonts.self_s": st.get("pdf.fonts", 0.0),
        "pdf.layout.self_s": st.get("pdf.layout", 0.0),
        "pdf.layout.lines": c["pdf.layout.lines"],
        "pdf.layout.blocks": c["pdf.layout.blocks"],
        "pdf.doc_ms_p50": percentile(pdf_ms, 50),
        "pdf.doc_ms_p99": percentile(pdf_ms, 99),
        "pdf.doc_ms_max": max(pdf_ms, default=0.0),
        "pdf.parses_per_doc": _ratio(c["pdf.extract.calls"], n_pdf),
        "html.self_s": st.get("html", 0.0),
        "html.docs_per_s_1core": _ratio(n_html, sum(html_ms) / 1e3),
        "html.doc_ms_p99": percentile(html_ms, 99),
        "html.tokenizations_per_doc": _ratio(c["html.calls"], n_html),
        "ocr.self_s": st.get("ocr", 0.0),
        "ocr.pages": c["ocr.pages"],
        "ocr.pages_per_call": _ratio(c["ocr.pages"], c["ocr.calls"]),
        "warc.self_s": st.get("warc", 0.0),
        "warc.records": c["warc.records"],
        "warc.mb_inflated_per_s": _ratio(c["warc.bytes"] / 2**20, st.get("warc", 0.0)),
        "pystage.self_s": st.get("pystage", 0.0),
        "kernel.docs_per_s_1core": _ratio(len(rows), unwrapped_s),
        "replay.wall_s": wrapped_s,
        "replay.self_sum_s": sum(st.values()),
        "trace.replay_overhead": _ratio(wrapped_s, unwrapped_s),
    }


def spark_metrics(s: dict) -> dict:
    return {
        "spark.jobs": s["jobs"], "spark.stages": s["stages"], "spark.tasks": s["tasks"],
        "spark.scan.run_s": s["scan.run_s"], "spark.scan.input_mb": s["input_mb"],
        "spark.shuffle.write_mb": s["shuffle_write_mb"],
        "spark.shuffle.read_mb": s["shuffle_read_mb"],
        "spark.shuffle.write_s": s["shuffle_write_s"],
        "spark.pystage.run_s": s["python.run_s"],
        "spark.pystage.task_skew": s["python_task_skew"],
        "spark.gc_s": s["gc_s"], "spark.spill_mb": s["spill_mb"],
        "spark.persist_mb": s["persist_mb"],
        "spark.sink.write_s": s["sink.run_s"], "spark.sink.output_mb": s["output_mb"],
        "spark.broadcast.build_s": s["broadcast_build_s"],
    }


def traced_run(w, session, seconds: float, boot_s: float, work: str):
    pid = os.getpid()
    m = {name: 0.0 for name, _ in PER_LAYER}
    failed_ids: set = set()
    t0 = time.perf_counter()
    plain = w.replay()
    unwrapped = time.perf_counter() - t0
    rec = SpanRecorder()
    with rec.patched():
        t0 = time.perf_counter()
        wrapped_rows = w.replay(rec)
        wrapped = time.perf_counter() - t0
    # both replays must agree with the pool reference
    for rows in (plain, wrapped_rows):
        failed_ids.update(r["url"] for r in rows
                          if w.expected.get(r["url"]) != replay.doc_key(r))
    m.update(kernel_metrics(rec, plain, unwrapped, wrapped))

    m["setup.cold_s"] = boot_s + session.start(w.warm_up)
    with procs.RssSampler(pid) as sampler:
        reps = timed_reps(w, session, seconds, MIN_REPS - 1, sampler, pid)
    if any(r["s"] != r["s"] for r in reps):
        raise RuntimeError("an untraced repetition of the job failed")
    job_s = statistics.median(r["s"] for r in reps)
    m["mem.peak_rss_mb"] = statistics.median(r["rss_mb"] for r in reps)
    m["spark.efficiency"] = _ratio(w.n_input / job_s,
                                   session.cores * m["kernel.docs_per_s_1core"])

    session.stop()
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    session.start(w.warm_up, event_log=log_dir)
    w.reset()
    py0 = procs.tree_cpu_s(pid, "python")
    traced_s = w.run(session.spark, group="traced")
    m["spark.pystage.worker_cpu_s"] = procs.tree_cpu_s(pid, "python") - py0
    failed_ids.update(w.check())
    self_ok = w.self_check()
    m["trace.eventlog_overhead"] = traced_s / job_s
    m["sink.bytes_per_doc"] = w.out_bytes() / w.n_input
    if w.name == "warc_html":
        m["resume.skipped_docs"] = w.n_input - w.appended
    session.stop()  # closes the event log

    events = eventlog.read_events(log_dir)
    m.update(spark_metrics(eventlog.summarize(events, "traced")))
    reps_failed = sum(r["failed"] for r in reps)
    attempted = w.n_input * (len(reps) + 1)
    failed = reps_failed + len(failed_ids)
    correct = failed == 0 and self_ok and all(r["self_check"] for r in reps)
    metrics = {name: (m[name], unit) for name, unit in PER_LAYER}
    detail = {"reps": reps, "traced_job_s": traced_s, "failed_ids": sorted(failed_ids)[:20],
              "span_count": len(rec.spans)}
    return correct, attempted, failed, metrics, detail
