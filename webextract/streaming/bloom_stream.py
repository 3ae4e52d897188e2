"""Streaming Bloom seen-set: the live-feed face of
``sampling.bloom_build`` (count-min's membership twin gets the same
streaming treatment as ``cm_stream``).

A crawl frontier's seen-filter is inherently a streaming object: urls
arrive continuously and the filter must absorb them with bounded
state. The word table (≤ m_bits/32 rows) IS that state — the
STREAMING words are bit-identical to the batch filter's because the
stream runs ``bloom_build`` itself (map-only frozen md5 bit positions,
then a groupBy ``bit_or`` — no seed, no session state). A deployment drains
micro-batches into the word table with ``complete`` output and merges
it into the warehouse copy by word-wise OR; the batch/stream parity
test pins the equality, and mergeability means yesterday's filter plus
today's stream equals one filter over the union — exactly the
incremental-crawl contract.
"""

from __future__ import annotations

from webextract.operators.sampling import bloom_build


def run_bloom_stream(
    spark, input_dir: str, m_bits: int = 16384, k: int = 4
):
    """Drain a pages directory through :func:`bloom_build` on the
    stream (availableNow + complete output to a memory sink) and return
    the final word table as a batch DataFrame."""
    from webextract.streaming.extract_stream import read_pages_stream

    sketch = bloom_build(read_pages_stream(spark, input_dir), m_bits=m_bits, k=k)
    q = (
        sketch.writeStream.format("memory")
        .queryName("bloom_sketch")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("bloom_sketch")
