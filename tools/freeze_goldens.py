"""Freeze kernel-computed goldens for the registry queries whose
semantics are not SQL-expressible: the DuckDB oracle then reads the
frozen parquet, giving those queries a FULL value-hash correctness gate
instead of a rows-only check.

Every golden is computed WITHOUT Spark (the kernels / batch UDF bodies
run in-process) over the repo's own deterministic corpus
(fixtures/genpages.gen_rows) — so the gate compares the DISTRIBUTED
pipeline against an independent local execution, and never depends on
the driver's testdata seeds.

Rerun (and commit the results) only when kernel semantics intentionally
change:  python tools/freeze_goldens.py
"""

from __future__ import annotations

import hashlib
import os
import sys

import pandas as pd
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_ocr_spark.fixtures.genpages import _REF_PDF_PATH, gen_rows  # noqa: E402

FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pdf_ocr_spark", "fixtures",
)


def require_reference_pdf() -> None:
    """Exit non-zero unless the reference sample PDF is present: without
    it gen_rows() silently drops its row 0, and every golden built from
    gen_rows would be rewritten with different values."""
    if not os.path.exists(_REF_PDF_PATH):
        sys.exit(
            f"{_REF_PDF_PATH} is missing: gen_rows() would drop its row 0 "
            "(the reference sample PDF) and change every gen_rows-based "
            "golden.  Restore the file, then rerun."
        )


def run_route(arrow_fn, urls, htmls) -> pd.DataFrame:
    """One of the extractor's ``mapInArrow`` bodies (extract_docs_arrow,
    extract_pages_arrow) run in-process over one batch of pages rows —
    integer columns widened to int64, the frozen goldens' column types."""
    batch = pa.record_batch(
        [pa.array(urls, pa.string()),
         pa.array([bytes(h) if h is not None else None for h in htmls], pa.binary())],
        names=["url", "html"],
    )
    out = pa.Table.from_batches(list(arrow_fn(iter([batch]))))
    return out.cast(pa.schema(
        [pa.field(f.name, pa.int64()) if pa.types.is_integer(f.type) else f
         for f in out.schema]
    )).to_pandas()


def page_frame(rows) -> pd.DataFrame:
    """The page route (parse + OCR, one row per page) over ``rows``."""
    from pdf_ocr_spark.pipeline.extract_job import extract_pages_arrow

    return run_route(
        extract_pages_arrow, [r["url"] for r in rows], [r["html"] for r in rows]
    )


def freeze_blocks() -> pd.DataFrame:
    from tools.freeze_blocks_golden import OUT, golden_frame

    df = golden_frame()
    df.to_parquet(OUT, index=False)
    return df


def freeze_extract_corpus() -> pd.DataFrame:
    """Golden for the flagship query: the fused extractor UDF body run
    in-process over gen_rows(150) (must match q_extract_corpus)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_docs_arrow

    rows = gen_rows(150)
    out = run_route(
        extract_docs_arrow, [r["url"] for r in rows], [r["html"] for r in rows]
    )
    out["text_md5"] = [
        hashlib.md5((t if isinstance(t, str) else "").encode("utf-8")).hexdigest()
        for t in out["extracted_text"]
    ]
    golden = out[
        ["url", "content_kind", "status", "n_pages", "n_blocks", "n_chars", "text_md5"]
    ].sort_values("url", kind="mergesort").reset_index(drop=True)
    golden.to_parquet(os.path.join(FIXTURES, "extract_corpus_golden.parquet"), index=False)
    return golden


def freeze_pages_table() -> pd.DataFrame:
    """Golden for the pages-level table (documents → PAGES → blocks):
    the page-route kernel (extract + OCR stage) run in-process over
    gen_rows(100); page text pinned by md5 (must match q_pages_table)."""
    rows = gen_rows(100)
    pages = page_frame(rows)
    pages["page_md5"] = [
        hashlib.md5((t if isinstance(t, str) else "").encode("utf-8")).hexdigest()
        for t in pages["page_text"]
    ]
    golden = pages[
        ["url", "content_kind", "page", "page_md5", "n_blocks", "needs_ocr",
         "status", "failure_reason", "n_bytes"]
    ].sort_values(["url", "page"], kind="mergesort").reset_index(drop=True)
    golden.to_parquet(os.path.join(FIXTURES, "pages_table_golden.parquet"), index=False)
    return golden


def freeze_lineage_totals() -> pd.DataFrame:
    """Corpus-wide lineage totals (partition-independent, unlike the
    per-partition sidecar rows): the page-level kernel run in-process."""
    rows = gen_rows(150)
    pages = page_frame(rows)
    golden = pd.DataFrame(
        [
            {
                "n_docs": int(pages["url"].nunique()),
                "n_pages": int(len(pages)),
                "n_failed": int((pages["status"] == "failed").sum()),
                "n_ocr_pages": int(pages["needs_ocr"].fillna(False).astype(bool).sum()),
                "n_bytes": int(pages["n_bytes"].sum()),
            }
        ]
    )
    golden.to_parquet(
        os.path.join(FIXTURES, "lineage_totals_golden.parquet"), index=False
    )
    return golden


def freeze_lineage_parts() -> pd.DataFrame:
    """Per-bucket lineage rows with the DETERMINISTIC part key (first 8
    hex chars of md5(url) mod 8 — engine-independent, partitioning-
    independent): the page-level kernel run in-process, grouped with
    pandas (must match q_extract_lineage)."""
    rows = gen_rows(150)
    pages = page_frame(rows)
    pages["part_id"] = [
        int(hashlib.md5(u.encode("utf-8")).hexdigest()[:8], 16) % 8
        for u in pages["url"]
    ]
    golden = (
        pages.groupby("part_id")
        .apply(
            lambda g: pd.Series(
                {
                    "n_docs": int(g["url"].nunique()),
                    "n_pages": int(len(g)),
                    "n_failed": int((g["status"] == "failed").sum()),
                    "n_ocr_pages": int(
                        g["needs_ocr"].fillna(False).astype(bool).sum()
                    ),
                    "n_bytes": int(g["n_bytes"].sum()),
                }
            ),
            include_groups=False,
        )
        .reset_index()
        .sort_values("part_id", kind="mergesort")
        .reset_index(drop=True)
    )
    golden.to_parquet(
        os.path.join(FIXTURES, "lineage_parts_golden.parquet"), index=False
    )
    return golden


def freeze_pipeline_e2e() -> pd.DataFrame:
    """Golden for the end-to-end composition (extract → Gopher gate →
    exact dedup → per-kind accounting), computed with a THIRD engine:
    the extraction UDF body in-process + python `re` twins of the
    engine-identical quality patterns (\\z spelled \\Z for python) +
    hashlib dedup — independent of both Spark and DuckDB."""
    import hashlib
    import re

    from pdf_ocr_spark.operators import text_analysis as T
    from pdf_ocr_spark.pipeline.extract_job import extract_docs_arrow

    rows = gen_rows(150)
    urls = [r["url"] for r in rows] + [
        "zz-mirror://" + r["url"] for i, r in enumerate(rows) if i % 3 == 0
    ]
    htmls = [r["html"] for r in rows] + [
        r["html"] for i, r in enumerate(rows) if i % 3 == 0
    ]
    docs = run_route(extract_docs_arrow, urls, htmls)
    ok = docs[docs["status"] == "ok"].copy()

    def cnt(pattern: str, text: str) -> int:
        return sum(1 for _ in re.finditer(pattern.replace(r"\z", r"\Z"), text))

    def passes_gopher(text: str) -> bool:
        words = cnt(T.WORD_PATTERN_SPLIT, text)
        if words == 0:
            return False
        word_chars = cnt(T.WORD_CHAR_PATTERN, text)
        n_lines = text.count("\n") + 1
        mwl = word_chars / words
        return (
            50 <= words <= 100_000
            and 3.0 <= mwl <= 10.0
            and cnt(T.SYMBOL_PATTERN, text) / words <= 0.1
            and cnt(T.BULLET_LINE_PATTERN, text) / n_lines <= 0.9
            and cnt(T.ELLIPSIS_LINE_PATTERN, text) / n_lines <= 0.3
            and cnt(T.ALPHA_WORD_PATTERN, text) / words >= 0.8
        )

    ok["passes"] = [passes_gopher(t or "") for t in ok["extracted_text"]]
    # exact dedup: canonical = min url per normalized-text fingerprint
    # (the Java-\s ASCII class, matching operators.dedup.normalized)
    def fp(t: str) -> str:
        norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", (t or "").lower()).strip()
        return hashlib.md5(norm.encode("utf-8")).hexdigest()

    ok["fp"] = [fp(t) for t in ok["extracted_text"]]
    canon = set(ok.groupby("fp")["url"].min())
    ok["canonical"] = ok["url"].isin(canon)
    golden = (
        ok.assign(
            n_quality=ok["passes"].astype(int),
            n_clean=(ok["passes"] & ok["canonical"]).astype(int),
        )
        .groupby("content_kind", as_index=False)
        .agg(
            n_extracted=("url", "count"),
            n_quality=("n_quality", "sum"),
            n_clean=("n_clean", "sum"),
        )
        .sort_values("content_kind")
        .reset_index(drop=True)
    )
    golden.to_parquet(os.path.join(FIXTURES, "pipeline_e2e_golden.parquet"), index=False)
    return golden


def freeze_link_edges() -> pd.DataFrame:
    """Golden for the link-graph route (HTML hrefs + PDF Link URIs) —
    the link extractor run in-process over gen_rows(100)."""
    from pdf_ocr_spark.fixtures.genpages import gen_link_rows
    from pdf_ocr_spark.pipeline.extract_job import extract_links_batch

    rows = gen_link_rows()
    batch = pd.DataFrame(
        {"url": [r["url"] for r in rows],
         "html": [bytes(r["html"]) if r["html"] is not None else None for r in rows]}
    )
    out = pd.concat(list(extract_links_batch(iter([batch]))), ignore_index=True)
    golden = out.sort_values(["url", "link_index"], kind="mergesort").reset_index(
        drop=True
    )
    golden.to_parquet(os.path.join(FIXTURES, "link_edges_golden.parquet"), index=False)
    return golden


def media_rows(n: int = 50):
    """Shared media universe for the multimodal queries: (media_id, blob)
    from the synthetic corpus payloads (must match queries._media_corpus)."""
    return [
        (i, bytes(r["html"]) if r["html"] is not None else None)
        for i, r in enumerate(gen_rows(n))
    ]


def freeze_multimodal_frames() -> pd.DataFrame:
    from pdf_ocr_spark.operators.multimodal import decode_frames_batch

    rows = media_rows(50)
    batch = pd.DataFrame(
        {"media_id": [m for m, _ in rows], "blob": [b for _, b in rows]}
    )
    out = pd.concat(list(decode_frames_batch(iter([batch]))), ignore_index=True)
    out["feature_sum"] = [round(sum(f), 6) for f in out["feature"]]
    golden = out[["media_id", "frame_idx", "feature_sum"]]
    golden.to_parquet(
        os.path.join(FIXTURES, "multimodal_frames_golden.parquet"), index=False
    )
    return golden


def freeze_sink_overlay() -> pd.DataFrame:
    """Golden for the S7 SVG sink: the overlay kernel run directly over
    the same synthetic single-box pages q_sink_overlay_svg builds."""
    from pdf_ocr_spark.operators.sinks import overlay_svg

    recs = []
    for i, r in enumerate(gen_rows(60)):
        y = float(i % 20) * 30.0
        quad = [[10.0, y], [200.0, y], [200.0, y + 20.0], [10.0, y + 20.0]]
        text = (r["text"] or "")[:24]
        svg = overlay_svg(612.0, 792.0, [(text, quad)])
        recs.append(
            (f"doc://{i}", i % 3 + 1,
             hashlib.md5(svg.encode("utf-8")).hexdigest(), len(svg))
        )
    golden = pd.DataFrame(recs, columns=["url", "page", "svg_md5", "svg_len"])
    golden.to_parquet(
        os.path.join(FIXTURES, "sink_overlay_golden.parquet"), index=False
    )
    return golden


def freeze_rasters() -> pd.DataFrame:
    """Golden for the S10 rasterizer route: the raster UDF body run
    in-process over gen_raster_rows() — the standard mix plus
    vector-only line-art docs (must match q_raster_pages)."""
    from pdf_ocr_spark.fixtures.genpages import gen_raster_rows
    from pdf_ocr_spark.pipeline.extract_job import extract_rasters_batch

    rows = gen_raster_rows()
    batch = pd.DataFrame(
        {"url": [r["url"] for r in rows],
         "html": [bytes(r["html"]) if r["html"] is not None else None for r in rows]}
    )
    out = pd.concat(list(extract_rasters_batch(iter([batch]))), ignore_index=True)
    golden = out.sort_values(
        ["url", "page_num"], kind="mergesort"
    ).reset_index(drop=True)
    golden.to_parquet(os.path.join(FIXTURES, "rasters_golden.parquet"), index=False)
    return golden


def freeze_orientation() -> pd.DataFrame:
    """Golden for the K4 orientation route: the OSD UDF body run
    in-process over gen_orientation_rows() (must match
    q_page_orientation)."""
    from pdf_ocr_spark.fixtures.genpages import gen_orientation_rows
    from pdf_ocr_spark.pipeline.extract_job import detect_orientation_batch

    rows = gen_orientation_rows()
    batch = pd.DataFrame(
        {"url": [r["url"] for r in rows],
         "html": [bytes(r["html"]) if r["html"] is not None else None for r in rows]}
    )
    out = pd.concat(list(detect_orientation_batch(iter([batch]))), ignore_index=True)
    golden = out.sort_values(
        ["url", "page_num"], kind="mergesort"
    ).reset_index(drop=True)
    golden.to_parquet(os.path.join(FIXTURES, "orientation_golden.parquet"), index=False)
    return golden


def freeze_jpeg_scan_ocr() -> pd.DataFrame:
    """Golden for the real-pixel scan branch: extract+OCR UDF bodies run
    in-process over gen_jpeg_scan_rows() — the stub recognizes the
    pixel-grid marker from DECODED baseline-JPEG pixels (must match
    q_jpeg_scan_ocr)."""
    from pdf_ocr_spark.fixtures.genpages import gen_jpeg_scan_rows
    rows = gen_jpeg_scan_rows()
    pages = page_frame(rows)
    pages["ocr_md5"] = [
        hashlib.md5((t if isinstance(t, str) else "").encode("utf-8")).hexdigest()
        for t in pages["page_text"]
    ]
    golden = pages[
        ["url", "page", "ocr_md5", "needs_ocr", "status"]
    ].sort_values(["url", "page"], kind="mergesort").reset_index(drop=True)
    golden.to_parquet(os.path.join(FIXTURES, "jpeg_scan_ocr_golden.parquet"), index=False)
    return golden


def freeze_jpeg_rasters() -> pd.DataFrame:
    """Golden for the rasterizer's real-luma image fills: the raster UDF
    body over the JPEG scan corpus — full-bitmap md5 pins the codec's
    DCT/Huffman/IDCT output pixel-for-pixel (must match
    q_jpeg_scan_raster)."""
    from pdf_ocr_spark.fixtures.genpages import gen_jpeg_scan_rows
    from pdf_ocr_spark.pipeline.extract_job import extract_rasters_batch

    rows = gen_jpeg_scan_rows()
    batch = pd.DataFrame(
        {"url": [r["url"] for r in rows],
         "html": [bytes(r["html"]) for r in rows]}
    )
    out = pd.concat(list(extract_rasters_batch(iter([batch]))), ignore_index=True)
    golden = out.sort_values(
        ["url", "page_num"], kind="mergesort"
    ).reset_index(drop=True)
    golden.to_parquet(os.path.join(FIXTURES, "jpeg_rasters_golden.parquet"), index=False)
    return golden


def freeze_ccitt_scan_ocr() -> pd.DataFrame:
    """Golden for the G4 fax scan branch: extract+OCR UDF bodies run
    in-process over gen_ccitt_scan_rows() — the stub recognizes the
    pixel-grid marker from pixels decoded by the from-scratch T.4/T.6
    codec (must match q_ccitt_scan_ocr)."""
    from pdf_ocr_spark.fixtures.genpages import gen_ccitt_scan_rows
    rows = gen_ccitt_scan_rows()
    pages = page_frame(rows)
    pages["ocr_md5"] = [
        hashlib.md5((t if isinstance(t, str) else "").encode("utf-8")).hexdigest()
        for t in pages["page_text"]
    ]
    golden = pages[
        ["url", "page", "ocr_md5", "needs_ocr", "status"]
    ].sort_values(["url", "page"], kind="mergesort").reset_index(drop=True)
    golden.to_parquet(
        os.path.join(FIXTURES, "ccitt_scan_ocr_golden.parquet"), index=False
    )
    return golden


def freeze_ccitt_rasters() -> pd.DataFrame:
    """Golden for the rasterizer over CCITT content: the raster UDF body
    over the fax scan corpus — full-bitmap md5 pins the T.6 decoder's
    output pixel-for-pixel (must match q_ccitt_scan_raster)."""
    from pdf_ocr_spark.fixtures.genpages import gen_ccitt_scan_rows
    from pdf_ocr_spark.pipeline.extract_job import extract_rasters_batch

    rows = gen_ccitt_scan_rows()
    batch = pd.DataFrame(
        {"url": [r["url"] for r in rows],
         "html": [bytes(r["html"]) for r in rows]}
    )
    out = pd.concat(list(extract_rasters_batch(iter([batch]))), ignore_index=True)
    golden = out.sort_values(
        ["url", "page_num"], kind="mergesort"
    ).reset_index(drop=True)
    golden.to_parquet(
        os.path.join(FIXTURES, "ccitt_rasters_golden.parquet"), index=False
    )
    return golden


def freeze_jpx_scan_ocr() -> pd.DataFrame:
    """Golden for the JPEG 2000 scan branch: extract+OCR UDF bodies run
    in-process over gen_jpx_scan_rows() — the stub recognizes the
    pixel-grid marker from pixels decoded by the from-scratch EBCOT/5-3
    codec (must match q_jpx_scan_ocr)."""
    from pdf_ocr_spark.fixtures.genpages import gen_jpx_scan_rows
    rows = gen_jpx_scan_rows()
    pages = page_frame(rows)
    pages["ocr_md5"] = [
        hashlib.md5((t if isinstance(t, str) else "").encode("utf-8")).hexdigest()
        for t in pages["page_text"]
    ]
    golden = pages[
        ["url", "page", "ocr_md5", "needs_ocr", "status"]
    ].sort_values(["url", "page"], kind="mergesort").reset_index(drop=True)
    golden.to_parquet(
        os.path.join(FIXTURES, "jpx_scan_ocr_golden.parquet"), index=False
    )
    return golden


def freeze_jpx_rasters() -> pd.DataFrame:
    """Golden for the rasterizer over JPXDecode content: the raster UDF
    body over the JPEG 2000 scan corpus — full-bitmap md5 pins the
    EBCOT decode + inverse DWT pixel-for-pixel (must match
    q_jpx_scan_raster)."""
    from pdf_ocr_spark.fixtures.genpages import gen_jpx_scan_rows
    from pdf_ocr_spark.pipeline.extract_job import extract_rasters_batch

    rows = gen_jpx_scan_rows()
    batch = pd.DataFrame(
        {"url": [r["url"] for r in rows],
         "html": [bytes(r["html"]) for r in rows]}
    )
    out = pd.concat(list(extract_rasters_batch(iter([batch]))), ignore_index=True)
    golden = out.sort_values(
        ["url", "page_num"], kind="mergesort"
    ).reset_index(drop=True)
    golden.to_parquet(
        os.path.join(FIXTURES, "jpx_rasters_golden.parquet"), index=False
    )
    return golden



def freeze_jbig2_scan_ocr() -> pd.DataFrame:
    """Golden for the JBIG2 scan branch: extract+OCR UDF bodies run
    in-process over gen_jbig2_scan_rows() — the stub recognizes the
    pixel-grid marker from pixels decoded by the from-scratch
    generic-region codec (must match q_jbig2_scan_ocr)."""
    from pdf_ocr_spark.fixtures.genpages import gen_jbig2_scan_rows
    rows = gen_jbig2_scan_rows()
    pages = page_frame(rows)
    pages["ocr_md5"] = [
        hashlib.md5((t if isinstance(t, str) else "").encode("utf-8")).hexdigest()
        for t in pages["page_text"]
    ]
    golden = pages[
        ["url", "page", "ocr_md5", "needs_ocr", "status"]
    ].sort_values(["url", "page"], kind="mergesort").reset_index(drop=True)
    golden.to_parquet(
        os.path.join(FIXTURES, "jbig2_scan_ocr_golden.parquet"), index=False
    )
    return golden


def freeze_jbig2_rasters() -> pd.DataFrame:
    """Golden for the rasterizer over JBIG2Decode content: the raster
    UDF body over the JBIG2 scan corpus — full-bitmap md5 pins the
    template-0/TPGDON decode pixel-for-pixel (must match
    q_jbig2_scan_raster)."""
    from pdf_ocr_spark.fixtures.genpages import gen_jbig2_scan_rows
    from pdf_ocr_spark.pipeline.extract_job import extract_rasters_batch

    rows = gen_jbig2_scan_rows()
    batch = pd.DataFrame(
        {"url": [r["url"] for r in rows],
         "html": [bytes(r["html"]) for r in rows]}
    )
    out = pd.concat(list(extract_rasters_batch(iter([batch]))), ignore_index=True)
    golden = out.sort_values(
        ["url", "page_num"], kind="mergesort"
    ).reset_index(drop=True)
    golden.to_parquet(
        os.path.join(FIXTURES, "jbig2_rasters_golden.parquet"), index=False
    )
    return golden



if __name__ == "__main__":
    require_reference_pdf()
    for name, fn in [
        ("blocks", freeze_blocks),
        ("extract_corpus", freeze_extract_corpus),
        ("pages_table", freeze_pages_table),
        ("lineage_totals", freeze_lineage_totals),
        ("lineage_parts", freeze_lineage_parts),
        ("pipeline_e2e", freeze_pipeline_e2e),
        ("link_edges", freeze_link_edges),
        ("multimodal_frames", freeze_multimodal_frames),
        ("sink_overlay", freeze_sink_overlay),
        ("rasters", freeze_rasters),
        ("orientation", freeze_orientation),
        ("jpeg_scan_ocr", freeze_jpeg_scan_ocr),
        ("jpeg_rasters", freeze_jpeg_rasters),
        ("ccitt_scan_ocr", freeze_ccitt_scan_ocr),
        ("ccitt_rasters", freeze_ccitt_rasters),
        ("jpx_scan_ocr", freeze_jpx_scan_ocr),
        ("jpx_rasters", freeze_jpx_rasters),
        ("jbig2_scan_ocr", freeze_jbig2_scan_ocr),
        ("jbig2_rasters", freeze_jbig2_rasters),
    ]:
        df = fn()
        print(f"{name}: {len(df)} rows frozen")
