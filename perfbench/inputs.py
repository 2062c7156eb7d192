"""Workload inputs, generated from the seed through the fixture generator's
public functions.  The same seed gives byte-identical files on any
machine: ``gen_rows`` runs with ``include_ref_pdf=False`` so that a
locally present reference PDF cannot replace row 0.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema([("url", pa.string()), ("html", pa.binary())])


def digest(pairs) -> dict:
    """rows, bytes and a hash over (key, payload) pairs in order."""
    h, rows, size = hashlib.sha256(), 0, 0
    for key, payload in pairs:
        h.update(key.encode() + b"\0" + len(payload).to_bytes(8, "little") + payload)
        rows += 1
        size += len(payload)
    return {"rows": rows, "bytes": size, "sha256": h.hexdigest()[:16]}


def crawl_rows(seed: int, n: int) -> list[tuple[str, bytes]]:
    """The fixture's default kind mix: glyph/literal/scanned PDF, HTML, broken."""
    from pdf_ocr_spark.fixtures.genpages import gen_rows

    return [(r["url"], r["html"]) for r in gen_rows(n, seed=seed, include_ref_pdf=False)]


def write_pages_parquet(rows, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    chunk = -(-len(rows) // n_files)
    for i in range(0, len(rows), chunk):
        part = rows[i : i + chunk]
        table = pa.table(
            [pa.array([u for u, _ in part], pa.string()),
             pa.array([p for _, p in part], pa.binary())],
            schema=PAGES_SCHEMA,
        )
        pq.write_table(table, os.path.join(path, f"part-{i // chunk:05d}.parquet"))


def html_rows(seed: int, n: int) -> list[tuple[str, bytes]]:
    """HTML-only pages, one per url."""
    from pdf_ocr_spark.fixtures.genpages import make_html_page

    rows = []
    for i in range(n):
        rng = random.Random((seed << 20) ^ i)
        payload, _ = make_html_page(rng, ("en", "ja", "zh")[i % 3])
        rows.append((f"https://example.test/warc/{seed}/{i:06d}", payload))
    return rows


def write_warc_segments(rows, path: str, n_files: int) -> list[str]:
    """gzip-per-record WARC segments (the Common Crawl layout)."""
    from pdf_ocr_spark.sources.warc import write_warc_bytes

    os.makedirs(path, exist_ok=True)
    base = datetime.datetime(2025, 1, 1)
    chunk = -(-len(rows) // n_files)
    files = []
    for i in range(0, len(rows), chunk):
        records = [
            (url, (base + datetime.timedelta(seconds=i + j)).strftime("%Y-%m-%dT%H:%M:%SZ"), body)
            for j, (url, body) in enumerate(rows[i : i + chunk])
        ]
        name = os.path.join(path, f"seg-{i // chunk:05d}.warc.gz")
        with open(name, "wb") as fh:
            fh.write(write_warc_bytes(records, gzip_members=True))
        files.append(name)
    return files
