"""Spark extraction operator: pages DataFrame → extracted DataFrame.

The Spark trace of ``PaddleOCR().ocr(img)`` (SURVEY.md §3.1): scan →
ONE ``mapInArrow`` stage running the fused tokenize→score→merge per
Arrow batch → write. Design points (SURVEY.md §4):

 * one JVM↔Python crossing per Arrow batch (vs the reference's two
   native-runtime crossings per image, predict_det.py:242-247 and
   predict_rec.py:599-618);
 * Catalyst column pruning: we select exactly ``(url, html)`` (+
   passthrough cols) before the UDF so the parquet scan reads only
   those (the KeepKeys analog, ppocr/data/imaug/operators.py:126-134);
 * salted repartition on ``xxhash64(url, salt)`` replaces the
   reference's static modulo sharding
   (predict_system.py:149,259-270) and defuses host-domain skew;
 * per-partition lineage rows (the ``time_dict`` analog,
   predict_system.py:68-119) are emitted from the same UDF as extra
   rows with a discriminator column and split afterwards — no second
   pass over the html;
 * extraction is one :func:`~webextract.operators.rows.map_rows`
   instance (the batch loop every per-row Python stage shares), and the
   lineage variant reuses its batch builder.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from operator import itemgetter

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from webextract.config import DEFAULT_CONFIG, ExtractConfig
from webextract.functions.extract import extract_page
from webextract.operators.rows import Rows, batch_builder, map_rows

SPAN_TYPE = T.StructType(
    [
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("tag", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_TYPE), True),
        T.StructField("mean_score", T.DoubleType(), True),
        T.StructField("blocks_total", T.IntegerType(), True),
        T.StructField("blocks_kept", T.IntegerType(), True),
        T.StructField("bytes_in", T.LongType(), True),
        T.StructField("truncated", T.BooleanType(), True),
    ]
)

# unified schema when lineage rows ride along (rec_type discriminator)
UNIFIED_SCHEMA = T.StructType(
    [T.StructField("rec_type", T.StringType(), False)]
    + EXTRACTED_SCHEMA.fields
    + [
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("urls_in", T.LongType(), True),
        T.StructField("lineage_bytes_in", T.LongType(), True),
        T.StructField("lineage_blocks_kept", T.LongType(), True),
        T.StructField("extract_ms", T.DoubleType(), True),
    ]
)

# extract_page's result keys in EXTRACTED_SCHEMA order (after the url)
_page_row = itemgetter(*[f.name for f in EXTRACTED_SCHEMA.fields[1:]])


def _extract_rows(cfg: ExtractConfig) -> Rows:
    return lambda url, raw: ((url, *_page_row(extract_page(raw, cfg))),)


def extract_pages(
    pages: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    sort_by_size: bool = False,
) -> DataFrame:
    """pages(url, html, ...) → extracted(url, text, spans, ...).

    Pure results path (no lineage rows); ``select`` first so Catalyst
    prunes the scan to (url, html). Runs as ``mapInArrow`` — the UDF
    consumes/produces Arrow record batches directly (no pandas
    conversion on either side of the worker boundary).

    ``sort_by_size=True`` sorts within partitions by html length so
    Arrow batches are cost-homogeneous — the analog of the reference's
    aspect-ratio sort before recognition batching
    (tools/infer/predict_rec.py:385-398): no shuffle, cheap, and evens
    out batch latency when page sizes are heavy-tailed.
    """
    if sort_by_size:
        pages = pages.sortWithinPartitions(F.length("html"))
    return map_rows(pages, ("url", "html"), _extract_rows(cfg), EXTRACTED_SCHEMA)


def to_json_lines(extracted: DataFrame) -> DataFrame:
    """(url, json) result lines — the reference's results-sink format
    ``name \\t json(boxes, transcriptions)`` (predict_system.py:204-215,
    250-254) as a DataFrame: write with ``.write.text`` or csv after
    concat. JVM-side ``to_json`` over the nested struct."""
    payload = F.to_json(
        F.struct("text", "spans", "mean_score", "blocks_kept")
    )
    return extracted.select("url", payload.alias("result_json"))


def extract_pages_with_lineage(
    pages: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Same, plus one lineage row per non-empty task partition, emitted
    inline with ``rec_type='lineage'``. Split afterwards with
    :func:`split_lineage` (persist the unified frame first if both
    halves are consumed). mapInArrow like the pure path."""
    build = batch_builder(_extract_rows(cfg), EXTRACTED_SCHEMA)
    unified = to_arrow_schema(UNIFIED_SCHEMA)
    n_page = len(EXTRACTED_SCHEMA.fields)
    page_fields = list(unified)[1 : 1 + n_page]
    lineage_fields = list(unified)[1 + n_page :]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        t0 = time.perf_counter()
        urls_in = 0
        bytes_in = 0
        blocks_kept = 0
        for rb in batches:
            if not rb.num_rows:
                continue
            out = build(rb)
            n = out.num_rows
            urls_in += n
            bytes_in += pc.sum(out.column("bytes_in")).as_py() or 0
            blocks_kept += pc.sum(out.column("blocks_kept")).as_py() or 0
            yield pa.RecordBatch.from_arrays(
                [pa.array(["page"] * n, type=pa.string()), *out.columns]
                + [pa.nulls(n, type=f.type) for f in lineage_fields],
                schema=unified,
            )
        if urls_in:
            ms = (time.perf_counter() - t0) * 1000.0
            lineage = (pid, urls_in, bytes_in, blocks_kept, ms)
            yield pa.RecordBatch.from_arrays(
                [pa.array(["lineage"], type=pa.string())]
                + [pa.nulls(1, type=f.type) for f in page_fields]
                + [pa.array([v], type=f.type) for v, f in zip(lineage, lineage_fields)],
                schema=unified,
            )

    return pages.select("url", "html").mapInArrow(run, UNIFIED_SCHEMA)


def split_lineage(unified: DataFrame) -> tuple[DataFrame, DataFrame]:
    """unified → (extracted, lineage) DataFrames."""
    extracted = unified.filter(F.col("rec_type") == "page").select(
        *[f.name for f in EXTRACTED_SCHEMA.fields]
    )
    lineage = unified.filter(F.col("rec_type") == "lineage").select(
        F.col("partition_id"),
        F.col("urls_in"),
        F.col("lineage_bytes_in").alias("bytes_in"),
        F.col("lineage_blocks_kept").alias("blocks_kept"),
        F.col("extract_ms"),
    )
    return extracted, lineage


def salted_repartition(
    df: DataFrame, num_partitions: int, key: str = "url", salt: int = 0
) -> DataFrame:
    """Repartition on ``xxhash64(key, salt)`` — uniform url-hash spread
    regardless of host-domain skew (replaces the reference's
    ``files[process_id::total]`` striping, predict_system.py:149)."""
    return df.repartition(num_partitions, F.xxhash64(F.col(key), F.lit(salt)))
