"""Freeze the WET-CDX golden: replay extraction → WET conversion
archive → CDX index with the kernels alone (no Spark) over the standard
150-doc corpus and write the expected rows to
``pdf_ocr_spark/fixtures/wet_cdx_golden.parquet``.

The registry query ``wet_cdx`` recomputes the same rows through the
distributed pipeline (extract_documents → pages_to_warc → warc_cdx,
one sorted archive partition so byte offsets are pinned); its DuckDB
oracle reads this parquet.  One value hash therefore gates the
extractor, the WARC writer, and the CDX indexer together.

Rerun (and commit the result) only when extraction or WARC/CDX
semantics intentionally change:  python tools/freeze_wet_cdx_golden.py
"""

from __future__ import annotations

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_ocr_spark.fixtures.genpages import gen_rows  # noqa: E402
from pdf_ocr_spark.pipeline.extract_job import extract_docs_arrow  # noqa: E402
from pdf_ocr_spark.sources.warc import (  # noqa: E402
    CDX_COLUMNS,
    cdx_records,
    write_warc_bytes,
)
from tools.freeze_goldens import require_reference_pdf, run_route  # noqa: E402

N_DOCS = 150  # must match q_wet_cdx
DATE = "2025-01-01T00:00:00Z"  # timestamp_seconds(1735689600) in the query
FILENAME = "wet-00000.warc"

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pdf_ocr_spark", "fixtures", "wet_cdx_golden.parquet",
)


def golden_frame() -> pd.DataFrame:
    rows = gen_rows(N_DOCS)
    docs = run_route(
        extract_docs_arrow, [r["url"] for r in rows], [r["html"] for r in rows]
    )
    recs = sorted(
        (u, DATE, t.encode("utf-8"))
        for u, t in zip(docs["url"], docs["extracted_text"])
        if isinstance(t, str) and t  # WET emits non-empty text only
    )
    archive = write_warc_bytes(recs, warc_type="conversion")
    out = pd.DataFrame(cdx_records(archive, FILENAME), columns=CDX_COLUMNS)
    out["status"] = out["status"].astype("Int32")
    return out


if __name__ == "__main__":
    require_reference_pdf()
    df = golden_frame()
    df.to_parquet(OUT, index=False)
    print(f"wrote {len(df)} wet-cdx rows -> {OUT}")
    print(df.head(3).to_string())
