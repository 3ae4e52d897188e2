"""The page front-end shared by every HTML operator
(functions/extract.py::read_page / page_blocks): the max_html_bytes cap
applies to extraction, block facts, KIE pairs and table cells alike."""

from __future__ import annotations

from webextract.config import ExtractConfig
from webextract.operators.extract import extract_pages
from webextract.operators.kie import kie_pairs
from webextract.operators.layout import block_facts
from webextract.operators.tables import table_cells

HEAD = (
    "<html><body><p>Early paragraph with enough words to be kept by "
    "the scorer without any doubt at all.</p>"
    "<dl><dt>early key</dt><dd>early value</dd></dl>"
    "<table><tr><td>early cell</td></tr></table>"
)
TAIL = (
    "<p>Late paragraph with enough words to be kept by the scorer "
    "without any doubt at all.</p>"
    "<dl><dt>late key</dt><dd>late value</dd></dl>"
    "<table><tr><td>late cell</td></tr></table>"
    "</body></html>"
)
CAPPED = ExtractConfig(max_html_bytes=len(HEAD.encode()))


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_cap_applies_to_every_html_operator(spark):
    full = spark.createDataFrame(
        [("u", (HEAD + TAIL).encode())], ["url", "html"]
    )
    head = spark.createDataFrame([("u", HEAD.encode())], ["url", "html"])

    ext = extract_pages(full, CAPPED).collect()[0]
    assert ext.truncated is True
    assert ext.bytes_in == len((HEAD + TAIL).encode())
    assert "Late" not in ext.text and "Early" in ext.text

    ops = [
        (block_facts, ("block_id", "tag", "text_len", "is_kept")),
        (kie_pairs, ("pair_id", "key", "value")),
        (table_cells, ("table_id", "row_id", "col_id", "cell_text")),
    ]
    for op, cols in ops:
        capped = _rows(op(full, CAPPED), *cols)
        # capped output is exactly the output of the bytes before the cap
        assert capped == _rows(op(head), *cols), op.__name__
        # ... and the page past the cap really would have added rows
        assert len(_rows(op(full), *cols)) > len(capped), op.__name__
    assert _rows(kie_pairs(full, CAPPED), "key") == [("early key",)]
    assert _rows(table_cells(full, CAPPED), "cell_text") == [("early cell",)]
