"""The ``functions`` layer pass: per-stage cost of the per-page
functions on one core, the fast scanner's acceptance rate, and the
``multiprocessing.Pool`` ceiling over ``extract_page``.

Runs in the driver process on a seeded sample of the workload's own
pages, timing the public stage functions in the order ``extract_page``
calls them: ``decode_html`` → ``tokenize_blocks`` → ``score_blocks`` →
``merge_spans``.
"""

from __future__ import annotations

import multiprocessing
import multiprocessing.resource_tracker
import statistics
import time

from webextract.config import DEFAULT_CONFIG
from webextract.functions import fastscan
from webextract.functions.extract import extract_page
from webextract.functions.htmlnorm import decode_html
from webextract.functions.merger import merge_spans
from webextract.functions.scorer import score_blocks
from webextract.functions.tokenizer import tokenize_blocks


class CountingSink:
    """A fast-scanner event sink that only counts events."""

    def __init__(self) -> None:
        self.events = 0

    def starttag(self, name: str) -> None:
        self.events += 1

    def endtag(self, name: str) -> None:
        self.events += 1

    def startendtag(self, name: str) -> None:
        self.events += 1

    def data(self, text: str) -> None:
        self.events += 1


def _stage_pass(htmls: list[bytes]) -> dict[str, float]:
    """One timed pass; total seconds per stage over ``htmls``."""
    cfg = DEFAULT_CONFIG
    clock = time.perf_counter
    tot = dict.fromkeys(("decode", "tokenize", "score", "merge", "extract_page"), 0.0)
    for raw in htmls:
        t0 = clock()
        text = decode_html(raw[: cfg.max_html_bytes])
        t1 = clock()
        blocks = tokenize_blocks(text)
        t2 = clock()
        scores, keep = score_blocks(blocks, cfg)
        t3 = clock()
        merge_spans(blocks, scores, keep, cfg)
        t4 = clock()
        extract_page(raw, cfg)
        t5 = clock()
        tot["decode"] += t1 - t0
        tot["tokenize"] += t2 - t1
        tot["score"] += t3 - t2
        tot["merge"] += t4 - t3
        tot["extract_page"] += t5 - t4
    return tot


def stage_costs(htmls: list[bytes], reps: int) -> dict[str, float]:
    """µs per page for each stage and for the whole ``extract_page``,
    median over ``reps`` passes."""
    passes = [_stage_pass(htmls) for _ in range(reps)]
    return {
        f"functions.{k}_us": statistics.median(p[k] for p in passes) / len(htmls) * 1e6
        for k in passes[0]
    }


def page_shape(htmls: list[bytes]) -> dict[str, float]:
    """Fast-scanner acceptance and block counts over ``htmls``."""
    accepted = events = blocks = kept = 0
    for raw in htmls:
        sink = CountingSink()
        if fastscan.scan(decode_html(raw[: DEFAULT_CONFIG.max_html_bytes]), sink):
            accepted += 1
        events += sink.events
        r = extract_page(raw, DEFAULT_CONFIG)
        blocks += r["blocks_total"]
        kept += r["blocks_kept"]
    n = len(htmls)
    return {
        "functions.fastscan_accept_ratio": accepted / n,
        "functions.scan_events_per_page": events / n,
        "functions.blocks_per_page": blocks / n,
        "functions.blocks_kept_per_page": kept / n,
    }


def _extract_text_len(raw: bytes) -> int:
    return len(extract_page(raw, DEFAULT_CONFIG)["text"])


def pool_ceiling(htmls: list[bytes], processes: int, reps: int) -> float:
    """Pages/s of ``extract_page`` over ``htmls`` on a spawn-started
    ``Pool(processes)``: the host's pure-Python ceiling without Spark.
    Pool start-up and the first (import) map are not timed; the result
    is the median over ``reps`` timed maps."""
    chunk = max(1, len(htmls) // (processes * 8))
    rates = []
    with multiprocessing.get_context("spawn").Pool(processes) as pool:
        pool.map(_extract_text_len, htmls[: processes * 2], chunksize=1)
        for _ in range(reps):
            t0 = time.perf_counter()
            pool.map(_extract_text_len, htmls, chunksize=chunk)
            rates.append(len(htmls) / (time.perf_counter() - t0))
        pool.close()
        pool.join()
    # the spawn Pool's semaphores started a resource tracker process;
    # end it now rather than when this process exits
    tracker = multiprocessing.resource_tracker._resource_tracker
    if hasattr(tracker, "_stop"):
        tracker._stop()
    return statistics.median(rates)
