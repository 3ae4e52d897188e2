"""Spark table-structure recovery operator: pages → cell grid rows.

The distributed form of the reference's table pipeline
(ppstructure/table/predict_table.py:82-106 + matcher.py:99-138): one
:func:`webextract.operators.rows.map_rows` instance parses each
page's DOM tables and fans out one row per cell. The page text comes
from the shared front-end :func:`webextract.functions.extract.read_page`,
so tables see the same capped, decoded text extraction does. Plan shape
is extraction's: scan pruned to (url, html), one JVM↔Python crossing
per Arrow batch, columnar pyarrow construction (no pandas objects).
Fan-out happens INSIDE the UDF (a page yields 0..N cell rows in the
same batch), so no separate explode shuffle exists — at 100 TB the
stage parallelism is the page partitioning, which the caller controls
via ``salted_repartition``.
"""

from __future__ import annotations

from collections.abc import Iterable
from itertools import repeat

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from webextract.config import DEFAULT_CONFIG, ExtractConfig
from webextract.functions.extract import read_page
from webextract.functions.tables import parse_tables
from webextract.operators.rows import map_rows

TABLE_CELLS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("table_id", T.IntegerType(), False),
        T.StructField("row_id", T.IntegerType(), False),
        T.StructField("col_id", T.IntegerType(), False),
        T.StructField("cell_text", T.StringType(), False),
        T.StructField("is_header", T.BooleanType(), False),
        T.StructField("colspan", T.IntegerType(), False),
        T.StructField("rowspan", T.IntegerType(), False),
    ]
)

_CELL_COLS = [f.name for f in TABLE_CELLS_SCHEMA.fields[1:]]


def table_cells(
    pages: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG
) -> DataFrame:
    """pages(url, html, ...) → cells(url, table_id, row_id, col_id,
    cell_text, is_header, colspan, rowspan), one row per table cell in
    document order. Pages without tables contribute no rows."""

    def rows(url: str, raw: bytes | None) -> Iterable[tuple]:
        cells = parse_tables(read_page(raw, cfg)[0])
        return zip(repeat(url), *(cells[c] for c in _CELL_COLS))

    return map_rows(pages, ("url", "html"), rows, TABLE_CELLS_SCHEMA)
