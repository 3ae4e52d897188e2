"""Layout-region typing: every DOM block classified into a region type.

The PP-Structure layout-analysis analog: the reference's structure
system emits ``{bbox, label}`` region dicts per page
(ppstructure/predict_system.py:111-117, labels like text/title/list/
table from the layout model). Here the "layout model" is the
deterministic DOM evidence the tokenizer already produces — tag, link
density, boilerplate status — so typing is a codegen CASE over block
facts, not a second Python pass.

Scale shape: :func:`block_facts` is one
:func:`webextract.operators.rows.map_rows` instance over the shared
page front-end :func:`webextract.functions.extract.page_blocks` — ONE
``mapInArrow`` crossing per Arrow batch, the same budget as extraction
(the HTML parse is the one unavoidable Python stage, SURVEY.md §2.10);
everything downstream of the block facts (region CASE, rollups) is JVM
built-ins inside whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Iterable
from itertools import repeat

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webextract.config import DEFAULT_CONFIG, ExtractConfig
from webextract.functions.extract import page_blocks
from webextract.functions.scorer import score_blocks
from webextract.operators.rows import map_rows

# raw per-block facts emitted by the UDF (region typing happens JVM-side)
BLOCK_FACTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("tag", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("text_len", T.IntegerType(), False),
        T.StructField("link_text_len", T.IntegerType(), False),
        T.StructField("n_links", T.IntegerType(), False),
        T.StructField("is_boiler", T.BooleanType(), False),
        T.StructField("is_pre", T.BooleanType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("is_kept", T.BooleanType(), False),
    ]
)

# the block-table columns copied through as facts (score/is_kept follow)
_FACT_COLS = [f.name for f in BLOCK_FACTS_SCHEMA.fields[1:-2]]

_HEADINGS = ("h1", "h2", "h3", "h4", "h5", "h6")
_TABLE_TAGS = ("table", "tr", "td", "th", "caption")


def block_facts(pages: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """pages(url, html, ...) → one row per DOM block with the
    tokenizer/scorer facts (ALL blocks, boilerplate included — unlike
    the extraction spans, which carry only kept content blocks).

    Same front-end as :func:`webextract.functions.extract.extract_page`
    (:func:`~webextract.functions.extract.page_blocks`, then score, under
    the same ``cfg``: cap, decode, mojibake repair, tokenize, RTL
    reversal) so block ids, tags and keep decisions agree exactly with
    extraction; the fan-out to block rows happens inside the same Arrow
    batch, no second parse.
    """

    def rows(url: str, raw: bytes | None) -> Iterable[tuple]:
        blocks, _, _ = page_blocks(raw, cfg)
        scores, keep = score_blocks(blocks, cfg)
        return zip(
            repeat(url),
            *(blocks[c] for c in _FACT_COLS),
            scores.tolist(),
            keep.tolist(),
        )

    return map_rows(pages, ("url", "html"), rows, BLOCK_FACTS_SCHEMA)


def region_type_col(
    tag: Column, is_boiler: Column, is_pre: Column
) -> Column:
    """The region classifier — a pure codegen CASE (the layout-label
    head, ppstructure's text/title/list/table vocabulary mapped onto
    DOM evidence). Visual class wins over content-ness (a footer
    heading is still a heading — ``is_boiler`` stays available as its
    own column); the generic-text fallback splits content paragraphs
    from link-farm boilerplate."""
    t = F.lower(tag)
    return (
        F.when(t.isin(*_TABLE_TAGS), F.lit("table"))
        .when(t == "nav", F.lit("nav"))
        .when(t.isin(*_HEADINGS), F.lit("heading"))
        .when(t == "li", F.lit("list_item"))
        .when(is_pre | (t == "pre"), F.lit("code"))
        .when(is_boiler, F.lit("boilerplate"))
        .otherwise(F.lit("paragraph"))
    )


def layout_regions(
    pages: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The layout view: (url, block_id, tag, region_type, is_boiler,
    is_kept) for every DOM block — the per-page region list the
    reference returns from structure analysis, as a relational table.
    """
    facts = block_facts(pages, cfg)
    return facts.select(
        "url",
        "block_id",
        "tag",
        region_type_col(
            F.col("tag"), F.col("is_boiler"), F.col("is_pre")
        ).alias("region_type"),
        "is_boiler",
        "is_kept",
    )


def layout_summary(regions: DataFrame) -> DataFrame:
    """Corpus rollup per region type: block counts and kept share.
    Plain partial+final aggregation — one shuffle on region_type."""
    return regions.groupBy("region_type").agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.col("is_kept").cast("bigint")).alias("n_kept"),
        F.count_distinct("url").alias("n_pages"),
    )
