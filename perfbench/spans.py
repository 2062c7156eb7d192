"""Span recorder wrapped around the program's public kernel functions.

A span is (name, start, end, parent, doc): ``parent`` is the index of the
enclosing span or -1, ``doc`` the index of the per-document kernel call
it belongs to (-1 for batch-level work such as OCR).  Spans stay in
memory; the caller aggregates them once at the end.  A layer's self time
is its spans' duration minus the time their child spans cover.
"""

from __future__ import annotations

import contextlib
import importlib
import time
from collections import Counter, defaultdict

# (module, attribute, span name): attributes are patched on the module or
# class the callers resolve them from at call time
KERNEL_TARGETS = [
    ("pdf_ocr_spark.kernels.pdf.extract", "extract_pdf", "pdf.extract"),
    ("pdf_ocr_spark.kernels.pdf.cos", "PDFDocument.__init__", "pdf.cos"),
    ("pdf_ocr_spark.kernels.pdf.cos", "PDFDocument.pages", "pdf.cos"),
    ("pdf_ocr_spark.kernels.pdf.extract", "interpret_page", "pdf.content"),
    ("pdf_ocr_spark.kernels.pdf.content", "load_page_fonts", "pdf.fonts"),
    ("pdf_ocr_spark.kernels.pdf.extract", "build_lines", "pdf.layout"),
    ("pdf_ocr_spark.kernels.pdf.extract", "xy_cut_order", "pdf.layout"),
    ("pdf_ocr_spark.kernels.pdf.extract", "build_blocks", "pdf.layout"),
    ("pdf_ocr_spark.kernels.pdf.extract", "table_regions", "pdf.layout"),
    ("pdf_ocr_spark.kernels.pdf.extract", "borderless_table_regions", "pdf.layout"),
    ("pdf_ocr_spark.kernels.pdf.extract", "rasterize_page", "pdf.raster"),
    ("pdf_ocr_spark.kernels.ocr_stub", "StubOcrEngine.recognize_batch", "ocr"),
    ("pdf_ocr_spark.kernels.html_extract", "extract_html", "html"),
    ("pdf_ocr_spark.kernels.html_extract", "extract_metadata", "html"),
    ("pdf_ocr_spark.kernels.html_extract", "extract_links", "html"),
]
GENERATOR_TARGETS = [
    ("pdf_ocr_spark.sources.warc", "iter_warc_records", "warc"),
]
# kernel calls that start a new document
_DOC_ROOTS = {"pdf.extract", "html"}


def _count(name: str, fname: str, result, args) -> list[tuple[str, int]]:
    """Work counts read off a kernel call's arguments and result."""
    if fname == "build_lines":
        return [("pdf.layout.lines", len(result))]
    if fname == "build_blocks":
        return [("pdf.layout.blocks", len(result))]
    if name == "pdf.content":
        return [("pdf.content.pages", 1), ("pdf.content.glyphs", len(result.glyphs))]
    if name == "ocr":
        return [("ocr.pages", len(args[1])), ("ocr.calls", 1)]
    if name == "pdf.extract":
        return [("pdf.extract.calls", 1)]
    if name == "html":
        return [("html.calls", 1)]
    return []


class SpanRecorder:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent, doc]
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._doc = -1
        self._n_docs = 0

    def _open(self, name: str) -> int:
        in_doc = any(self.spans[i][0] in _DOC_ROOTS for i in self._stack)
        if name in _DOC_ROOTS and not in_doc:
            self._doc = self._n_docs
            self._n_docs += 1
        doc = self._doc if in_doc or name in _DOC_ROOTS else -1
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), 0.0, parent, doc])
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    def wrap(self, name: str, fn):
        rec = self

        def wrapped(*args, **kwargs):
            idx = rec._open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                rec._close(idx)
            for key, n in _count(name, fn.__name__, result, args):
                rec.counts[key] += n
            return result

        return wrapped

    def wrap_generator(self, name: str, fn):
        """Each ``next()`` on the generator is one span: the consumer's
        work between records belongs to the consumer."""
        rec = self

        def wrapped(*args, **kwargs):
            it = fn(*args, **kwargs)
            while True:
                idx = rec._open(name)
                try:
                    item = next(it)
                except StopIteration:
                    return
                finally:
                    rec._close(idx)
                rec.counts[f"{name}.records"] += 1
                rec.counts[f"{name}.bytes"] += len(item[2])
                yield item

        return wrapped

    def timed(self, name: str, it):
        """Wrap an iterator so that each ``next()`` is a root span (one
        Python-stage batch)."""
        while True:
            idx = self._open(name)
            try:
                item = next(it)
            except StopIteration:
                return
            finally:
                self._close(idx)
            yield item

    @contextlib.contextmanager
    def patched(self):
        """Install the wrappers for the duration of the block."""
        saved = []
        try:
            for targets, wrap in ((KERNEL_TARGETS, self.wrap),
                                  (GENERATOR_TARGETS, self.wrap_generator)):
                for mod_name, attr, name in targets:
                    owner = importlib.import_module(mod_name)
                    *path, leaf = attr.split(".")
                    for part in path:
                        owner = getattr(owner, part)
                    orig = owner.__dict__[leaf] if isinstance(owner, type) else getattr(owner, leaf)
                    saved.append((owner, leaf, orig))
                    setattr(owner, leaf, wrap(name, orig))
            yield self
        finally:
            for owner, leaf, orig in reversed(saved):
                setattr(owner, leaf, orig)

    # -- aggregation ----------------------------------------------------

    def self_times(self) -> dict[str, float]:
        child = defaultdict(float)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _, _) in enumerate(self.spans):
            out[name] += (end - start) - child[i]
        return dict(out)

    def durations_ms(self, name: str) -> list[float]:
        """Durations of the outermost spans called ``name`` (children included)."""
        out = []
        for name_, start, end, parent, _ in self.spans:
            if name_ == name and (parent < 0 or self.spans[parent][0] != name):
                out.append((end - start) * 1e3)
        return out

    def root_total_s(self) -> float:
        return sum(e - s for _, s, e, p, _ in self.spans if p < 0)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; 0.0 for an empty list."""
    if not values:
        return 0.0
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return ordered[int(rank) - 1]
