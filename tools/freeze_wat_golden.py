"""Freeze the WAT golden: replay pages → WARC response archive → WAT
metadata archive → parsed rows with the kernels alone (no Spark) over
the standard 150-doc corpus, writing the expected rows to
``pdf_ocr_spark/fixtures/wat_golden.parquet``.

The registry query ``sink_wat_export`` recomputes the same rows through
the distributed chain (pages_to_warc → warc_to_wat → wat_to_rows); its
DuckDB oracle reads this parquet.  One value hash gates the WARC
writer, the WAT builder (JSON envelope + HTML title/link extraction),
and the WAT parser together.  Rows are archive-partitioning-independent
(no byte offsets), so the query may repartition freely.

Rerun (and commit) only when WARC/WAT semantics intentionally change:
    python tools/freeze_wat_golden.py
"""

from __future__ import annotations

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_ocr_spark.fixtures.genpages import gen_rows  # noqa: E402
from pdf_ocr_spark.sources.warc import (  # noqa: E402
    WAT_ROW_COLUMNS,
    pages_to_warc_batch,
    warc_to_wat_bytes,
    wat_rows,
)
from tools.freeze_goldens import require_reference_pdf  # noqa: E402

N_DOCS = 150  # must match q_sink_wat_export

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pdf_ocr_spark", "fixtures", "wat_golden.parquet",
)


def golden_frame() -> pd.DataFrame:
    rows = gen_rows(N_DOCS)
    batch = pd.DataFrame(
        {
            "url": [r["url"] for r in rows],
            "warc_ts": [r["warc_ts"] for r in rows],
            "html": [
                bytes(r["html"]) if r["html"] is not None else None
                for r in rows
            ],
            "text": [r["text"] for r in rows],
        }
    )
    (arc,) = list(pages_to_warc_batch(iter([batch])))
    _, wat = warc_to_wat_bytes(bytes(arc["warc"][0]))
    out = pd.DataFrame(wat_rows(wat), columns=WAT_ROW_COLUMNS)
    out["status"] = out["status"].astype("Int32")
    out["n_links"] = out["n_links"].astype("int64")
    return out.sort_values(["url", "target_type"], kind="mergesort").reset_index(
        drop=True
    )


if __name__ == "__main__":
    require_reference_pdf()
    df = golden_frame()
    df.to_parquet(OUT, index=False)
    print(f"wrote {len(df)} wat rows -> {OUT}")
    print(df.head(5).to_string())
