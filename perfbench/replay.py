"""In-process replay of the program's Python-stage functions on the same
inputs Spark reads, in 128-row Arrow batches like the Spark stage.

The replay is the reference for the correctness check, and, with a
:class:`spans.SpanRecorder` installed, the source of the kernel-layer
metrics.
"""

from __future__ import annotations

import gc
import hashlib
import multiprocessing
from multiprocessing import resource_tracker

import pyarrow as pa

BATCH_ROWS = 128


def _batches(rows):
    for i in range(0, len(rows), BATCH_ROWS):
        part = rows[i : i + BATCH_ROWS]
        yield pa.record_batch(
            [pa.array([u for u, _ in part], pa.string()),
             pa.array([p for _, p in part], pa.binary())],
            names=["url", "html"],
        )


def doc_key(row: dict) -> tuple:
    """What the check compares per url."""
    text = row["extracted_text"]
    return (
        hashlib.md5(text.encode()).hexdigest() if text is not None else None,
        row["content_kind"],
        row["status"],
        row["failure_reason"],
        row["n_pages"],
        row["n_blocks"],
        row["n_ocr_pages"],
    )


def replay_docs(rows, rec=None) -> list[dict]:
    """``extract_docs_arrow`` over (url, payload) rows -> doc rows."""
    from pdf_ocr_spark.pipeline.extract_job import extract_docs_arrow

    it = extract_docs_arrow(_batches(rows))
    if rec is not None:
        it = rec.timed("pystage", it)
    out = []
    for rb in it:
        out.extend(rb.to_pylist())
    return out


def replay_warc(paths, rec=None) -> list[tuple[str, bytes]]:
    """``warc_pages_batch`` over WARC segments -> (url, html) page rows."""
    import pandas as pd

    from pdf_ocr_spark.sources.warc import warc_pages_batch

    def files():
        for path in paths:
            with open(path, "rb") as fh:
                yield pd.DataFrame({"content": [fh.read()]})

    it = warc_pages_batch(files())
    if rec is not None:
        it = rec.timed("pystage", it)
    pages = []
    for df in it:
        pages.extend(zip(df["url"], df["html"]))
    return pages


def _replay_warc_docs(paths) -> list[dict]:
    return replay_docs(replay_warc(paths))


def reference_rows(rows=None, warc_paths=None, workers: int = 4) -> list[dict]:
    """Doc rows for all inputs, replayed in a pool of ``workers`` spawned
    processes (nothing else runs while it does)."""
    if warc_paths is not None:
        chunks, fn = [warc_paths[i::workers] for i in range(workers)], _replay_warc_docs
    else:
        batches = [rows[i : i + BATCH_ROWS] for i in range(0, len(rows), BATCH_ROWS)]
        chunks = [sum(batches[i::workers], []) for i in range(workers)]
        fn = replay_docs
    chunks = [c for c in chunks if c]
    pool = multiprocessing.get_context("spawn").Pool(len(chunks))
    try:
        parts = pool.map(fn, chunks)
    finally:
        pool.close()
        pool.join()
        # the pool started multiprocessing's resource-tracker process; end it
        # too, so that nothing but Spark runs beside the measured jobs.  The
        # pool's semaphores must be released first, or the tracker unlinks
        # them and their finalizers fail.
        del pool
        gc.collect()
        resource_tracker._resource_tracker._stop()
    return [r for part in parts for r in part]
