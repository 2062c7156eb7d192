"""Freeze the blocks-table golden: run the block extractor kernel (no
Spark) over the deterministic synthetic corpus and write the expected
rows to ``pdf_ocr_spark/fixtures/blocks_golden.parquet``.

The registry query ``blocks_table`` recomputes the same rows through the
distributed pipeline; its DuckDB oracle reads this parquet — so the
correctness gate value-hashes pipeline-computed blocks against the frozen
kernel output.

Rerun (and commit the result) only when block semantics intentionally
change:  python tools/freeze_blocks_golden.py
"""

from __future__ import annotations

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_ocr_spark.fixtures.genpages import gen_rows  # noqa: E402
from pdf_ocr_spark.pipeline.extract_job import extract_blocks_batch  # noqa: E402
from tools.freeze_goldens import require_reference_pdf  # noqa: E402

N_DOCS = 60  # must match q_blocks_table / q_blocks_histogram

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pdf_ocr_spark", "fixtures", "blocks_golden.parquet",
)


def golden_frame() -> pd.DataFrame:
    rows = gen_rows(N_DOCS)
    batch = pd.DataFrame(
        {"url": [r["url"] for r in rows], "html": [bytes(r["html"]) for r in rows]}
    )
    out = pd.concat(list(extract_blocks_batch(iter([batch]))), ignore_index=True)
    # bbox exploded into scalar columns: array-typed value hashing differs
    # between engines; four doubles compare exactly
    for i, c in enumerate(["x0", "y0", "x1", "y1"]):
        out[c] = out["bbox"].map(lambda b, i=i: None if b is None else b[i])
    out = out.drop(columns=["bbox"]).rename(columns={"type": "block_type"})
    return out.sort_values(
        ["url", "page_num", "block_index"], kind="mergesort"
    ).reset_index(drop=True)


if __name__ == "__main__":
    require_reference_pdf()
    df = golden_frame()
    df.to_parquet(OUT, index=False)
    print(f"wrote {len(df)} block rows -> {OUT}")
    print(df["block_type"].value_counts().to_dict())
