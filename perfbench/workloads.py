"""The benchmark's workloads.  Each one makes its inputs from the seed,
computes its reference outside any timing, and then runs and checks one
repetition of its job at a time:

* ``prepare()``  inputs and reference (no Spark)
* ``reset()``    the starting state of one repetition (untimed)
* ``run(spark)`` the timed job, through the program's public entry points
* ``check()``    failed operation ids of the repetition just run
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import replay



def check_docs(rows: list[dict], expected: dict) -> list[str]:
    """urls that are missing, duplicated, unexpected, ``kernel_crash``ed or
    whose (text md5, kind, status, reason, pages, blocks, OCR pages)
    differ from the reference."""
    seen = Counter(r["url"] for r in rows)
    failed = {u for u, n in seen.items() if n != 1 or u not in expected}
    failed.update(u for u in expected if u not in seen)
    for r in rows:
        if r["url"] in expected and replay.doc_key(r) != expected[r["url"]]:
            failed.add(r["url"])
        if (r["failure_reason"] or "").startswith("kernel_crash"):
            failed.add(r["url"])
    return sorted(failed)


def corrupt_docs(rows: list[dict]) -> list[dict]:
    """A copy of ``rows`` with one text altered and one row duplicated."""
    bad = [dict(r) for r in rows]
    bad[0]["extracted_text"] = (bad[0]["extracted_text"] or "") + "x"
    return bad + [dict(bad[-1])]


def _read_rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path) for f in files
    ) if os.path.isdir(path) else 0


def dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


class Workload:
    """One workload: its inputs, reference, job and checks.  The warm-up
    runs the same job on a few fixed documents, so each set-up compiles
    the job's own code paths."""

    name = ""
    input_format = "parquet"
    n_input = 0

    def __init__(self, work: str, seed: int, smoke: bool):
        self.work, self.seed, self.smoke = work, seed, smoke
        self.digest: dict = {}
        self.out_dir = os.path.join(work, "out")
        self._warm = os.path.join(work, "warm")

    def _job(self, spark, in_dir: str, out_dir: str) -> int:
        from pdf_ocr_spark.pipeline.extract_job import run_extraction

        return run_extraction(
            spark, in_dir, os.path.join(out_dir, "docs"), os.path.join(out_dir, "sidecar"),
            input_format=self.input_format,
        )

    def _start_table(self, out_dir: str, snapshot: str | None) -> None:
        shutil.rmtree(out_dir, ignore_errors=True)
        if snapshot is not None:
            shutil.copytree(snapshot, os.path.join(out_dir, "docs"))

    def warm_up(self, spark) -> None:
        out = os.path.join(self._warm, "out")
        self._start_table(out, self._warm_snapshot)
        self._job(spark, self._warm_in, out)

    def reset(self) -> None:
        self._start_table(self.out_dir, self.snapshot)

    def run(self, spark, group=None) -> float:
        """One repetition of the job; returns its wall seconds."""
        if group:
            spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        self.appended = self._job(spark, self.in_dir, self.out_dir)
        return time.perf_counter() - t0

    def check(self) -> list[str]:
        self._rows = _read_rows(os.path.join(self.out_dir, "docs"))
        return check_docs(self._rows, self.expected)

    def self_check(self) -> bool:
        """The negative check: a corrupted copy of the output must fail."""
        return bool(check_docs(corrupt_docs(self._rows), self.expected))

    def out_bytes(self) -> int:
        """Bytes the last repetition added to the output table and sidecar."""
        return dir_bytes(self.out_dir) - dir_bytes(self.snapshot or "")


class CrawlMix(Workload):
    """``run_extraction`` of the default kind mix from parquet into an empty
    table plus the lineage sidecar."""

    name = "crawl_mix"
    snapshot = None
    _warm_snapshot = None

    def prepare(self, workers: int) -> None:
        n, files = (80, 2) if self.smoke else (2400, 16)
        self.rows = inputs.crawl_rows(self.seed, n)
        self.n_input = len(self.rows)
        self.digest = inputs.digest(self.rows)
        self.in_dir = os.path.join(self.work, "pages")
        inputs.write_pages_parquet(self.rows, self.in_dir, files)
        self._warm_in = os.path.join(self._warm, "pages")
        inputs.write_pages_parquet(inputs.crawl_rows(0, 20), self._warm_in, 2)
        ref = replay.reference_rows(rows=self.rows, workers=workers)
        self.expected = {r["url"]: replay.doc_key(r) for r in ref}

    def replay(self, rec=None) -> list[dict]:
        return replay.replay_docs(self.rows, rec)

    def check(self) -> list[str]:
        failed = super().check()
        sidecar = pq.read_table(os.path.join(self.out_dir, "sidecar")).column("n_docs")
        if sum(sidecar.to_pylist()) != self.appended or self.appended != self.n_input:
            failed.append("sidecar_or_append_count")
        return failed


def _write_snapshot(rows: list[dict], path: str) -> None:
    """Doc rows as a committed output table, in the schema the sink writes."""
    from pyspark.sql.types import IntegerType, LongType, StringType

    from pdf_ocr_spark.pipeline.extract_job import DOC_SCHEMA

    arrow_type = {StringType(): pa.string(), IntegerType(): pa.int32(), LongType(): pa.int64()}
    schema = pa.schema([(f.name, arrow_type[f.dataType]) for f in DOC_SCHEMA.fields])
    os.makedirs(path)
    for i in range(4):
        pq.write_table(pa.Table.from_pylist(rows[i::4], schema=schema),
                       os.path.join(path, f"part-{i:05d}.parquet"))


class WarcHtml(Workload):
    """HTML pages in gzip-per-record WARC segments, read through
    ``read_pages(..., "warc")``; ``run_extraction`` resumes against a table
    that already holds every other url, restored from a snapshot before
    each repetition."""

    name = "warc_html"
    input_format = "warc"

    def prepare(self, workers: int) -> None:
        n, files = (120, 2) if self.smoke else (10000, 8)
        rows = inputs.html_rows(self.seed, n)
        self.n_input = len(rows)
        self.in_dir = os.path.join(self.work, "warc")
        self.paths = inputs.write_warc_segments(rows, self.in_dir, files)
        blobs = []
        for p in self.paths:
            with open(p, "rb") as fh:
                blobs.append((os.path.basename(p), fh.read()))
        self.digest = inputs.digest(blobs)
        self.digest["docs"] = self.n_input
        del rows, blobs
        ref = replay.reference_rows(warc_paths=self.paths, workers=workers)
        self.expected = {r["url"]: replay.doc_key(r) for r in ref}
        # the committed half: every other url
        done = sorted(ref, key=lambda r: r["url"])[::2]
        self.snapshot = os.path.join(self.work, "snapshot")
        _write_snapshot(done, self.snapshot)
        self.n_snapshot = len(done)
        self.snapshot_digest = dir_digest(self.snapshot)

        self._warm_in = os.path.join(self._warm, "warc")
        warm_paths = inputs.write_warc_segments(inputs.html_rows(0, 40), self._warm_in, 2)
        self._warm_snapshot = os.path.join(self._warm, "snapshot")
        _write_snapshot(replay.replay_docs(replay.replay_warc(warm_paths))[::2],
                        self._warm_snapshot)

    def replay(self, rec=None) -> list[dict]:
        return replay.replay_docs(replay.replay_warc(self.paths, rec), rec)

    def reset(self) -> None:
        super().reset()
        self.restored_digest = dir_digest(os.path.join(self.out_dir, "docs"))

    def check(self) -> list[str]:
        failed = super().check()
        if self.restored_digest != self.snapshot_digest:
            failed.append("snapshot_restore")
        if self.appended != self.n_input - self.n_snapshot:
            failed.append("append_count")
        return failed


WORKLOADS = {w.name: w for w in (CrawlMix, WarcHtml)}
