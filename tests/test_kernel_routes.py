"""The shared per-document driver of the kernel side-table routes, and the
freezer's route goldens against the committed parquet."""

import pandas as pd
import pytest
from pandas.testing import assert_frame_equal

from tools.freeze_goldens import (
    FIXTURES,
    FRAMES,
    GEN_ROWS_GOLDENS,
    ROUTE_GOLDENS,
    golden_frame,
    run_route,
)

# pure-Python codec decoders make these goldens take about a minute together
_CODECS = ("jpeg_", "ccitt_", "jpx_", "jbig2_")


@pytest.mark.parametrize("route,module,kernel", [
    ("html_tables", "pdf_ocr_spark.kernels.html_extract", "extract_tables"),
    ("pdf_forms", "pdf_ocr_spark.kernels.pdf.forms", "extract_form_fields"),
], ids=["html_tables", "pdf_forms"])
def test_driver_keeps_rows_around_a_raising_kernel(monkeypatch, route, module, kernel):
    """A kernel that yields one row and then raises: the document keeps
    that row, and the next documents in the batch keep all of theirs."""
    import importlib

    module = importlib.import_module(module)
    real = getattr(module, kernel)
    golden = ROUTE_GOLDENS[route]
    urls, payloads = golden.corpus()
    expected = run_route(golden.route, urls, payloads)
    # the first document with several rows, followed by documents with rows
    victim = next(i for i, u in enumerate(urls) if (expected["url"] == u).sum() > 1)
    assert expected["url"].isin(urls[victim + 1:]).any()
    poisoned = bytes(payloads[victim])

    def first_then_raise(data):
        items = real(data)
        if data != poisoned:
            yield from items
            return
        yield items[0]
        raise RuntimeError("kernel crash after one row")

    monkeypatch.setattr(module, kernel, first_then_raise)
    cut = expected.index[expected["url"] == urls[victim]][1:]
    assert_frame_equal(
        run_route(golden.route, urls, payloads),
        expected.drop(index=cut).reset_index(drop=True),
    )


@pytest.mark.parametrize("name", sorted(
    n for n in [*ROUTE_GOLDENS, *FRAMES]
    if n not in GEN_ROWS_GOLDENS and not n.startswith(_CODECS)
))
def test_freezer_reproduces_committed_golden(name):
    """Goldens that do not depend on the reference sample PDF: the
    freezer recomputes the committed parquet exactly (values and dtypes)."""
    committed = pd.read_parquet(f"{FIXTURES}/{name}_golden.parquet")
    assert_frame_equal(golden_frame(name), committed)
