"""The one Arrow batch loop behind every per-row Python stage.

Every Python stage in the engine has the same shape (SURVEY.md §4):
select the input columns so Catalyst prunes the scan, cross into Python
ONCE per Arrow record batch, turn each input row into 0..N output rows
with a plain per-row function, and build the output batch straight
from Python lists with ``pa.array`` — no pandas conversion on either
side of the worker boundary. HTML extraction, layout, KIE and tables,
the media/PDF decoders and synthesizers, and the WARC and SKV payload
parsers are all :func:`map_rows` instances; the extraction lineage
variant reuses :func:`batch_builder`.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

Rows = Callable[..., Iterable[tuple]]


def batch_builder(
    rows: Rows, schema: T.StructType
) -> Callable[[pa.RecordBatch], pa.RecordBatch]:
    """Input batch → ``schema`` batch holding every input row's
    ``rows(*values)`` tuples in order. Columns are built with
    ``pa.array`` against the Arrow schema DERIVED from the Spark one,
    so the two cannot drift."""
    arrow_schema = to_arrow_schema(schema)
    empty = [()] * len(arrow_schema)

    def build(rb: pa.RecordBatch) -> pa.RecordBatch:
        out: list[tuple] = []
        for values in zip(*(c.to_pylist() for c in rb.columns)):
            out.extend(rows(*values))
        cols = list(zip(*out)) or empty
        return pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )

    return build


def map_rows(
    df: DataFrame, cols: Iterable[str], rows: Rows, schema: T.StructType | str
) -> DataFrame:
    """THE per-row stage shape: select ``cols``, then ONE
    ``mapInArrow`` crossing in which every input row's values become
    ``rows(*values)`` — 0..N complete output tuples under ``schema``
    (a ``StructType`` or a DDL string)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    build = batch_builder(rows, schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows:
                yield build(rb)

    return df.select(*cols).mapInArrow(run, schema)
