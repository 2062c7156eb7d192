"""Freeze kernel-computed goldens for the registry queries whose
semantics are not SQL-expressible: the DuckDB oracle then reads the
frozen parquet, giving those queries a FULL value-hash correctness gate
instead of a rows-only check.

Every golden is computed WITHOUT Spark (the kernels / ``mapInArrow``
bodies run in-process) over the repo's own deterministic corpora
(fixtures/genpages) — so the gate compares the DISTRIBUTED pipeline
against an independent local execution, and never depends on the
driver's testdata seeds.  Golden ``<name>`` is written to
``pdf_ocr_spark/fixtures/<name>_golden.parquet``; the registry query
reads it as ``_golden("<name>")``.

Rerun (and commit the results) only when kernel semantics intentionally
change:  python tools/freeze_goldens.py [name ...]   (no name: all)
"""

from __future__ import annotations

import hashlib
import os
import sys
from functools import partial
from typing import Callable, NamedTuple, Optional

import pandas as pd
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_ocr_spark.fixtures import genpages as G  # noqa: E402
from pdf_ocr_spark.fixtures.genpages import _REF_PDF_PATH, gen_rows  # noqa: E402
from pdf_ocr_spark.operators import frontier as FR  # noqa: E402
from pdf_ocr_spark.pipeline import extract_job as EJ  # noqa: E402

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
    """One of the extractor's ``mapInArrow`` bodies run in-process over
    one batch of (key, payload) rows — integer columns widened to int64,
    the frozen goldens' column types."""
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
    return run_route(
        EJ.extract_pages_arrow, [r["url"] for r in rows], [r["html"] for r in rows]
    )


def _md5(texts) -> list:
    return [
        hashlib.md5((t if isinstance(t, str) else "").encode("utf-8")).hexdigest()
        for t in texts
    ]


class RouteGolden(NamedTuple):
    """A kernel-route golden: the route's ``mapInArrow`` body run by
    :func:`run_route` over ``corpus()`` → (keys, payloads), passed
    through ``post`` if given, then stably sorted by ``sort_keys``."""

    corpus: Callable[[], tuple]
    route: Callable
    sort_keys: list
    post: Optional[Callable[[pd.DataFrame], pd.DataFrame]] = None


def _pairs(gen, *args, key: str = "url", payload: str = "html") -> Callable:
    """Corpus of a golden: ``gen(*args)`` rows as (keys, payloads)."""

    def corpus():
        rows = gen(*args)
        return [r[key] for r in rows], [r[payload] for r in rows]

    return corpus


def _robots(n: int) -> Callable:
    return _pairs(lambda: G.gen_robots_rows(n)[0], key="domain", payload="body")


def _kernel(row_fn, schema, accept=None):
    """The Arrow body of ``kernel_route(df, row_fn, schema, accept)``."""
    return partial(EJ.kernel_arrow, row_fn, schema, accept)


def _flat_bbox(df: pd.DataFrame) -> pd.DataFrame:
    """bbox exploded into scalar columns (array-typed value hashing
    differs between engines; four doubles compare exactly)."""
    for i, c in enumerate(["x0", "y0", "x1", "y1"]):
        df[c] = df["bbox"].map(lambda b, i=i: None if b is None else b[i])
    return df.drop(columns=["bbox"]).rename(columns={"type": "block_type"})


_PDF = EJ.looks_like_pdf
_PAGE_KEYS = ["url", "page_num"]
_RASTERS = _kernel(EJ._raster_rows, EJ.RASTER_SCHEMA, _PDF)

ROUTE_GOLDENS = {
    "blocks": RouteGolden(
        _pairs(gen_rows, 60), EJ.extract_blocks_arrow,
        ["url", "page_num", "block_index"], _flat_bbox,
    ),
    "composites": RouteGolden(
        _pairs(G.gen_composite_rows, 45),
        _kernel(EJ._composite_rows, EJ.COMPOSITE_SCHEMA, _PDF),
        ["url", "page_num", "block_index"],
    ),
    "rasters": RouteGolden(_pairs(G.gen_raster_rows), _RASTERS, _PAGE_KEYS),
    "jpeg_rasters": RouteGolden(_pairs(G.gen_jpeg_scan_rows), _RASTERS, _PAGE_KEYS),
    "ccitt_rasters": RouteGolden(_pairs(G.gen_ccitt_scan_rows), _RASTERS, _PAGE_KEYS),
    "jpx_rasters": RouteGolden(_pairs(G.gen_jpx_scan_rows), _RASTERS, _PAGE_KEYS),
    "jbig2_rasters": RouteGolden(_pairs(G.gen_jbig2_scan_rows), _RASTERS, _PAGE_KEYS),
    "orientation": RouteGolden(
        _pairs(G.gen_orientation_rows),
        _kernel(EJ._orientation_rows, EJ.ORIENTATION_SCHEMA, _PDF),
        _PAGE_KEYS,
    ),
    "html_tables": RouteGolden(
        _pairs(G.gen_html_table_rows, 40),
        _kernel(EJ._html_table_rows, EJ.HTML_TABLE_SCHEMA, EJ._is_html),
        ["url", "table_index"],
    ),
    "html_meta": RouteGolden(
        _pairs(G.gen_html_meta_rows, 48),
        _kernel(EJ._html_meta_rows, EJ.HTML_META_SCHEMA, EJ._is_html),
        ["url"],
    ),
    "jsonld": RouteGolden(
        _pairs(G.gen_jsonld_rows, 56),
        _kernel(EJ._jsonld_rows, EJ.JSONLD_SCHEMA, EJ._is_html),
        ["url", "block_index", "node_index"],
    ),
    "hreflang": RouteGolden(
        _pairs(G.gen_hreflang_rows, 18),
        _kernel(EJ._hreflang_rows, EJ.HREFLANG_SCHEMA, EJ._is_html),
        ["url", "ord"],
    ),
    "microdata": RouteGolden(
        _pairs(G.gen_microdata_rows, 48),
        _kernel(EJ._microdata_rows, EJ.MICRODATA_SCHEMA, EJ._is_html),
        ["url", "item_index", "prop"],
    ),
    "pdf_forms": RouteGolden(
        _pairs(G.gen_form_rows, 36),
        _kernel(EJ._form_rows, EJ.FORM_SCHEMA, _PDF),
        ["url", "field_index"],
    ),
    "pdf_doc_info": RouteGolden(
        _pairs(G.gen_docmeta_rows, 36),
        _kernel(EJ._doc_info_rows, EJ.DOC_INFO_SCHEMA, _PDF),
        ["url"],
    ),
    "pdf_outline": RouteGolden(
        _pairs(G.gen_docmeta_rows, 36),
        _kernel(EJ._outline_rows, EJ.OUTLINE_SCHEMA, _PDF),
        ["url", "order"],
    ),
    "pdf_annotations": RouteGolden(
        _pairs(G.gen_annot_rows, 36),
        _kernel(EJ._annot_rows, EJ.ANNOT_SCHEMA, _PDF),
        ["url", "order"],
    ),
    "link_edges": RouteGolden(
        _pairs(G.gen_link_rows), _kernel(EJ._link_rows, EJ.LINK_SCHEMA),
        ["url", "link_index"],
    ),
    "robots_rules": RouteGolden(
        _robots(25), _kernel(FR._rule_rows, FR.ROBOTS_RULE_SCHEMA),
        ["domain", "rule_order", "agent"],
    ),
    "robots_delays": RouteGolden(
        _robots(25), _kernel(FR._delay_rows, FR.DELAY_SCHEMA),
        ["domain", "agent"],
    ),
    "robots_sitemaps": RouteGolden(
        _robots(25), _kernel(FR._sitemap_rows, FR.SITEMAP_SCHEMA),
        ["domain", "sm_index"],
    ),
    "sitemap_urls": RouteGolden(
        _pairs(G.gen_sitemap_rows, 20, payload="body"),
        _kernel(FR._sitemap_url_rows, FR.SITEMAP_URL_SCHEMA),
        ["sitemap", "loc"],
    ),
    "feed_items": RouteGolden(
        _pairs(G.gen_feed_rows, 24, payload="body"),
        _kernel(FR._feed_rows, FR.FEED_ITEM_SCHEMA),
        ["feed", "link"],
    ),
}


def route_frame(golden: RouteGolden) -> pd.DataFrame:
    df = run_route(golden.route, *golden.corpus())
    if golden.post is not None:
        df = golden.post(df)
    return df.sort_values(golden.sort_keys, kind="mergesort").reset_index(drop=True)


def robots_urls_frame() -> pd.DataFrame:
    """The frontier URL list — the INPUT fixture the ``robots_frontier``
    oracle SQL reads to recompute the longest-match verdicts
    independently from the frozen rules."""
    return pd.DataFrame({"url": G.gen_robots_rows(25)[1]})


def extract_corpus_frame() -> pd.DataFrame:
    """Golden for the flagship query: the fused extractor UDF body run
    in-process over gen_rows(150) (must match q_extract_corpus)."""
    rows = gen_rows(150)
    out = run_route(
        EJ.extract_docs_arrow, [r["url"] for r in rows], [r["html"] for r in rows]
    )
    out["text_md5"] = _md5(out["extracted_text"])
    return out[
        ["url", "content_kind", "status", "n_pages", "n_blocks", "n_chars", "text_md5"]
    ].sort_values("url", kind="mergesort").reset_index(drop=True)


def pages_table_frame() -> pd.DataFrame:
    """Golden for the pages-level table (documents → PAGES → blocks):
    the page-route kernel (extract + OCR stage) run in-process over
    gen_rows(100); page text pinned by md5 (must match q_pages_table)."""
    pages = page_frame(gen_rows(100))
    pages["page_md5"] = _md5(pages["page_text"])
    return pages[
        ["url", "content_kind", "page", "page_md5", "n_blocks", "needs_ocr",
         "status", "failure_reason", "n_bytes"]
    ].sort_values(["url", "page"], kind="mergesort").reset_index(drop=True)


def lineage_totals_frame() -> pd.DataFrame:
    """Corpus-wide lineage totals (partition-independent, unlike the
    per-partition sidecar rows): the page-level kernel run in-process."""
    pages = page_frame(gen_rows(150))
    return pd.DataFrame(
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


def lineage_parts_frame() -> pd.DataFrame:
    """Per-bucket lineage rows with the DETERMINISTIC part key (first 8
    hex chars of md5(url) mod 8 — engine-independent, partitioning-
    independent): the page-level kernel run in-process, grouped with
    pandas (must match q_extract_lineage)."""
    pages = page_frame(gen_rows(150))
    pages["part_id"] = [
        int(hashlib.md5(u.encode("utf-8")).hexdigest()[:8], 16) % 8
        for u in pages["url"]
    ]
    return (
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


def pipeline_e2e_frame() -> pd.DataFrame:
    """Golden for the end-to-end composition (extract → Gopher gate →
    exact dedup → per-kind accounting), computed with a THIRD engine:
    the extraction UDF body in-process + python `re` twins of the
    engine-identical quality patterns (\\z spelled \\Z for python) +
    hashlib dedup — independent of both Spark and DuckDB."""
    import re

    from pdf_ocr_spark.operators import text_analysis as T

    rows = gen_rows(150)
    urls = [r["url"] for r in rows] + [
        "zz-mirror://" + r["url"] for i, r in enumerate(rows) if i % 3 == 0
    ]
    htmls = [r["html"] for r in rows] + [
        r["html"] for i, r in enumerate(rows) if i % 3 == 0
    ]
    docs = run_route(EJ.extract_docs_arrow, urls, htmls)
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
    return (
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


def media_rows(n: int = 50):
    """Shared media universe for the multimodal queries: (media_id, blob)
    from the synthetic corpus payloads (must match queries._media_corpus)."""
    return [
        (i, bytes(r["html"]) if r["html"] is not None else None)
        for i, r in enumerate(gen_rows(n))
    ]


def multimodal_frames_frame() -> pd.DataFrame:
    from pdf_ocr_spark.operators.multimodal import decode_frames_batch

    rows = media_rows(50)
    batch = pd.DataFrame(
        {"media_id": [m for m, _ in rows], "blob": [b for _, b in rows]}
    )
    out = pd.concat(list(decode_frames_batch(iter([batch]))), ignore_index=True)
    out["feature_sum"] = [round(sum(f), 6) for f in out["feature"]]
    return out[["media_id", "frame_idx", "feature_sum"]]


def sink_overlay_frame() -> pd.DataFrame:
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
    return pd.DataFrame(recs, columns=["url", "page", "svg_md5", "svg_len"])


def scan_ocr_frame(gen) -> pd.DataFrame:
    """Golden for a codec's scan branch: the page route over ``gen()`` —
    the stub recognizes the pixel-grid marker from pixels the
    from-scratch codec decoded (JPEG, CCITT T.4/T.6, JPEG 2000 or
    JBIG2), so the OCR text md5 pins the decoder."""
    pages = page_frame(gen())
    pages["ocr_md5"] = _md5(pages["page_text"])
    return pages[
        ["url", "page", "ocr_md5", "needs_ocr", "status"]
    ].sort_values(["url", "page"], kind="mergesort").reset_index(drop=True)


# the goldens that are not a kernel route's rows: name → frame function
FRAMES = {
    "extract_corpus": extract_corpus_frame,
    "pages_table": pages_table_frame,
    "lineage_totals": lineage_totals_frame,
    "lineage_parts": lineage_parts_frame,
    "pipeline_e2e": pipeline_e2e_frame,
    "multimodal_frames": multimodal_frames_frame,
    "sink_overlay": sink_overlay_frame,
    "robots_urls": robots_urls_frame,
    "jpeg_scan_ocr": partial(scan_ocr_frame, G.gen_jpeg_scan_rows),
    "ccitt_scan_ocr": partial(scan_ocr_frame, G.gen_ccitt_scan_rows),
    "jpx_scan_ocr": partial(scan_ocr_frame, G.gen_jpx_scan_rows),
    "jbig2_scan_ocr": partial(scan_ocr_frame, G.gen_jbig2_scan_rows),
}

# goldens built from gen_rows: they need the reference sample PDF
GEN_ROWS_GOLDENS = {
    "blocks", "link_edges", "rasters", "orientation", "extract_corpus",
    "pages_table", "lineage_totals", "lineage_parts", "pipeline_e2e",
    "multimodal_frames", "sink_overlay",
}


def golden_frame(name: str) -> pd.DataFrame:
    """Golden ``name`` computed in-process."""
    if name in ROUTE_GOLDENS:
        return route_frame(ROUTE_GOLDENS[name])
    return FRAMES[name]()


if __name__ == "__main__":
    names = sys.argv[1:] or [*ROUTE_GOLDENS, *FRAMES]
    unknown = [n for n in names if n not in ROUTE_GOLDENS and n not in FRAMES]
    if unknown:
        sys.exit(f"unknown golden(s): {' '.join(unknown)}")
    if GEN_ROWS_GOLDENS.intersection(names):
        require_reference_pdf()
    for name in names:
        df = golden_frame(name)
        df.to_parquet(os.path.join(FIXTURES, f"{name}_golden.parquet"), index=False)
        print(f"{name}: {len(df)} rows frozen")
