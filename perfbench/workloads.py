"""The benchmark's workloads.

Each workload synthesizes its inputs from the seed (``synthesize``),
runs one untimed first job whose outputs are kept for checking
(``warm_up``), then runs the job that is timed (``job``) as often as the
run allows, and finally checks the kept outputs against an independent
reference (``check``). Jobs go through the public entry points only:
``webextract.sources``, ``webextract.operators.extract``,
``webextract.plans.pipeline`` and the ``__spark_entry__`` registry.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import inputs


@dataclass
class Ctx:
    """What a workload needs from the run: the session, a private
    scratch directory inside the checkout, the seed and the core count."""

    spark: object
    work: str
    seed: int
    nproc: int

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class JobResult:
    """One timed job: how many operations and html bytes it consumed,
    and named sub-timings (seconds)."""

    pages: int
    html_bytes: int
    parts: dict[str, float] = field(default_factory=dict)


@dataclass
class Check:
    attempted: int
    failed: int
    notes: list[str] = field(default_factory=list)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    extracts = True  # runs extract_page per page (the functions layer applies)
    min_jobs = 3  # timed jobs per run, however long each takes
    settle_jobs = 0  # discarded jobs after the first, while the JIT settles

    def synthesize(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def warm_up(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def job(self, ctx: Ctx) -> JobResult:
        raise NotImplementedError

    def check(self, ctx: Ctx) -> Check:
        raise NotImplementedError

    def mix(self, ctx: Ctx) -> dict:
        raise NotImplementedError

    def sample_htmls(self, ctx: Ctx, n: int) -> list[bytes]:
        """A seeded sample of the workload's own html (functions layer)."""
        raise NotImplementedError


# -- page workloads -------------------------------------------------------------


class _Pages(Workload):
    """A workload over a materialized pages parquet under ``pages/``."""

    def _pages_dir(self, ctx: Ctx) -> str:
        return ctx.path("pages")

    def _html_table(self, ctx: Ctx) -> pa.Table:
        return ds.dataset(self._pages_dir(ctx)).to_table(columns=["url", "html"])

    def _write_replicated(self, ctx: Ctx, replicas: int) -> None:
        """``pages_replicated`` over the seeded documents table."""
        from webextract.sources.pages import pages_replicated

        write_documents(ctx, self.n_docs)
        # two files per core: the layout the earlier flagship numbers used
        pages_replicated(
            ctx.spark, ctx.path("sf"), replicas, partitions=2 * ctx.nproc
        ).write.mode("overwrite").parquet(ctx.path("pages"))

    def _measure_input(self, ctx: Ctx) -> None:
        lens = pc.binary_length(self._html_table(ctx).column("html"))
        self.n_pages = len(lens)
        self.html_bytes = int(pc.sum(lens).as_py())
        self._sizes = lens.to_pylist()
        self._sample_blocks: list[int] = []

    def mix(self, ctx: Ctx) -> dict:
        return inputs.size_mix(self._sizes, self._sample_blocks)

    def sample_htmls(self, ctx: Ctx, n: int) -> list[bytes]:
        """``n`` pages spread evenly over the size order (from a seeded
        offset), so a small sample of heavy-tailed sizes keeps the
        workload's mean page cost."""
        htmls = sorted(self._html_table(ctx).column("html").to_pylist(), key=len)
        n = min(n, len(htmls))
        offset = random.Random(f"sample/{ctx.seed}").random()
        return [htmls[int((i + offset) * len(htmls) / n)] for i in range(n)]


class _Extract(_Pages):
    """Scan → ``extract_pages`` → noop over the materialized pages."""

    check_sample = 64

    def job(self, ctx: Ctx) -> JobResult:
        from webextract.operators.extract import extract_pages

        noop(extract_pages(ctx.spark.read.parquet(self._pages_dir(ctx))))
        return JobResult(self.n_pages, self.html_bytes)

    def warm_up(self, ctx: Ctx) -> None:
        from webextract.operators.extract import extract_pages

        pages = ctx.spark.read.parquet(self._pages_dir(ctx))
        extract_pages(pages).write.mode("overwrite").parquet(ctx.path("extracted"))

    def check(self, ctx: Ctx) -> Check:
        """Rows out equal pages in, no null text for non-null html, and
        on a seeded sample text and spans equal ``extract_page`` run in
        this process."""
        from webextract.config import DEFAULT_CONFIG
        from webextract.functions.extract import extract_page

        src = self._html_table(ctx)
        out = ds.dataset(ctx.path("extracted")).to_table(columns=["url", "text", "spans"])
        html_by_url = dict(zip(src.column("url").to_pylist(), src.column("html").to_pylist()))
        rows = {u: (t, s) for u, t, s in zip(*(out.column(c).to_pylist() for c in ("url", "text", "spans")))}
        notes = []
        failed = sum(1 for u in html_by_url if u not in rows)
        if failed:
            notes.append(f"{failed} pages missing from the output")
        extra = out.num_rows - len(html_by_url)
        if extra:
            notes.append(f"{extra} more output rows than pages")
            failed += abs(extra)
        nulls = sum(1 for u, h in html_by_url.items() if h is not None and u in rows and rows[u][0] is None)
        if nulls:
            notes.append(f"{nulls} null texts for non-null html")
            failed += nulls
        rng = random.Random(f"check/{ctx.seed}")
        for u in rng.sample(sorted(html_by_url), min(self.check_sample, len(html_by_url))):
            if u not in rows:
                continue
            ref = extract_page(html_by_url[u], DEFAULT_CONFIG)
            self._sample_blocks.append(ref["blocks_total"])
            text, spans = rows[u]
            got = [(s["block_id"], s["start"], s["end"], s["tag"], s["score"]) for s in spans or []]
            if text != ref["text"] or got != [tuple(s) for s in ref["spans"]]:
                failed += 1
                notes.append(f"sample mismatch: {u}")
        return Check(len(html_by_url), failed, notes)


class ExtractSmall(_Extract):
    """``pages_replicated`` over a seeded documents table: ~2.9 KB,
    13-block template pages the fast scanner always accepts."""

    name = "extract_small"
    settle_jobs = 2
    n_docs = 5000
    replicas = 2
    func_sample = 400
    pool_sample = 4000

    def synthesize(self, ctx: Ctx) -> None:
        self._write_replicated(ctx, self.replicas)
        self._measure_input(ctx)


class ExtractHeavy(_Extract):
    """Seeded 20-200 KB pages with hundreds to thousands of blocks; one
    in eight makes the fast scanner bail to the reference parser.

    The scan splits the pages into about one task per core, so which
    pages share a task sets the job's slowest task. The rows keep the
    seed-independent order of :func:`inputs.heavy_order`: every job
    keeps a size skew, and it is the same skew for every seed."""

    name = "extract_heavy"
    n_pages = 400
    rows_per_group = 10
    min_jobs = 6
    settle_jobs = 1
    func_sample = 32
    pool_sample = 200

    def synthesize(self, ctx: Ctx) -> None:
        os.makedirs(ctx.path("pages"), exist_ok=True)
        # small row groups let the scan split the file across all cores
        pq.write_table(
            inputs.heavy_pages(ctx.seed, self.n_pages),
            ctx.path("pages", "part-0.parquet"),
            row_group_size=self.rows_per_group,
        )
        self._measure_input(ctx)


# -- the write path: plans.pipeline.run_extraction --------------------------------


class PipelineWrite(_Pages):
    """``run_extraction`` into a fresh output directory (16 buckets in
    4 waves), then a second call on the finished output, which must be
    a no-op."""

    name = "pipeline_write"
    n_docs = 5000
    min_jobs = 2
    func_sample = 400
    pool_sample = 4000
    n_buckets = 16
    wave_size = 4

    def synthesize(self, ctx: Ctx) -> None:
        self._write_replicated(ctx, 1)
        self._measure_input(ctx)
        self._runs = 0

    def _run(self, ctx: Ctx, out: str) -> tuple[dict, dict, float, float]:
        from webextract.plans.pipeline import JobConfig, run_extraction

        cfg = JobConfig(out, n_buckets=self.n_buckets, wave_size=self.wave_size)
        pages = ctx.spark.read.parquet(ctx.path("pages"))
        t0 = time.perf_counter()
        first = run_extraction(ctx.spark, pages, cfg)
        t1 = time.perf_counter()
        second = run_extraction(ctx.spark, pages, cfg)
        return first, second, t1 - t0, time.perf_counter() - t1

    def warm_up(self, ctx: Ctx) -> None:
        self.first, self.second, _, _ = self._run(ctx, ctx.path("checked"))

    def job(self, ctx: Ctx) -> JobResult:
        self._runs += 1
        out = ctx.path(f"out-{self._runs}")
        _, _, wall, resume = self._run(ctx, out)
        self.layer = output_layer(out)
        self.layer["pipeline.resume_noop_s"] = resume
        if self._runs > 1:  # keep the disk footprint to one finished output
            shutil.rmtree(ctx.path(f"out-{self._runs - 1}"), ignore_errors=True)
        return JobResult(self.n_pages, self.html_bytes, {"wall": wall})

    def check(self, ctx: Ctx) -> Check:
        """The snapshot log covers every bucket, lineage ``urls_in`` and
        distinct extracted urls both equal the pages in, and the second
        call ran no wave."""
        from webextract.plans.snapshots import SnapshotLog

        out = ctx.path("checked")
        notes = []
        buckets = SnapshotLog(out).buckets_as_of()
        if buckets != set(range(self.n_buckets)):
            notes.append(f"snapshot log covers buckets {sorted(buckets)}")
        lineage = ds.dataset(os.path.join(out, "lineage")).to_table(columns=["urls_in"])
        urls_in = int(pc.sum(lineage.column("urls_in")).as_py() or 0)
        if urls_in != self.n_pages:
            notes.append(f"lineage urls_in {urls_in} != {self.n_pages} pages")
        urls = ds.dataset(os.path.join(out, "extracted"), partitioning="hive").to_table(columns=["url"]).column("url")
        distinct = len(pc.unique(urls))
        if distinct != self.n_pages or len(urls) != self.n_pages:
            notes.append(f"{len(urls)} extracted rows, {distinct} distinct urls, {self.n_pages} pages")
        if self.second["waves"] != 0:
            notes.append(f"second call ran {self.second['waves']} waves")
        if self.first["urls"] != self.n_pages:
            notes.append(f"first call reported {self.first['urls']} urls")
        # an operation is a page: a failed check fails every page
        return Check(self.n_pages, self.n_pages if notes else 0, notes)


def output_layer(out: str) -> dict[str, float]:
    """``plans`` layer numbers read from a finished output directory:
    waves and their wall times from the wave manifests, and the bytes
    and files of the partitioned parquet output."""
    secs = []
    for path in glob.glob(os.path.join(out, "_manifest", "wave-*.json")):
        with open(path) as f:
            secs.append(json.load(f)["sec"])
    files = glob.glob(os.path.join(out, "extracted", "bucket=*", "*.parquet"))
    secs.sort()
    return {
        "pipeline.waves": float(len(secs)),
        "pipeline.wave_s_p50": secs[len(secs) // 2] if secs else 0.0,
        "pipeline.output_bytes": float(sum(os.path.getsize(p) for p in files)),
        "pipeline.output_files": float(len(files)),
    }


# -- corpus operators: registry queries vs their DuckDB twins ---------------------

CORPUS_QUERIES = ("bpe_merges", "bloom_seen", "kv_scan", "simhash_clusters", "span_dedup", "pagerank")


class CorpusOps(Workload):
    """One pass over six registry queries, each to a noop sink."""

    name = "corpus_ops"
    extracts = False
    min_jobs = 1
    n_docs = 1000

    def synthesize(self, ctx: Ctx) -> None:
        lens = pc.binary_length(write_documents(ctx, self.n_docs).column("text").cast(pa.binary()))
        self.text_bytes = int(pc.sum(lens).as_py())
        self._sizes = lens.to_pylist()

    def _queries(self):
        import __spark_entry__

        registry = __spark_entry__.queries()
        return [(q, registry[q]) for q in CORPUS_QUERIES]

    def warm_up(self, ctx: Ctx) -> None:
        for name, fn in self._queries():
            fn(ctx.spark, ctx.path("sf")).write.mode("overwrite").parquet(ctx.path("q", name))

    def job(self, ctx: Ctx) -> JobResult:
        parts = {}
        for name, fn in self._queries():
            t0 = time.perf_counter()
            noop(fn(ctx.spark, ctx.path("sf")))
            parts[f"query.{name}_s"] = time.perf_counter() - t0
        n = len(CORPUS_QUERIES)
        return JobResult(self.n_docs * n, self.text_bytes * n, parts)

    def check(self, ctx: Ctx) -> Check:
        """Each query's rows equal its DuckDB ``oracle_sql()`` twin over
        the same documents file."""
        import duckdb

        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{ctx.path('sf', 'documents.parquet')}')")
            notes = []
            for name in CORPUS_QUERIES:
                got = normalize(pq.read_table(ctx.path("q", name)).to_pandas())
                want = normalize(con.sql(oracles[name]).df())
                if not frames_equal(got, want):
                    notes.append(f"{name}: rows differ from the DuckDB oracle")
        finally:
            con.close()
        return Check(len(CORPUS_QUERIES), len(notes), notes)

    def mix(self, ctx: Ctx) -> dict:
        return inputs.size_mix(self._sizes)


def normalize(df):
    """Columns by name, object columns as str, rows sorted by every column."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_equal(a, b) -> bool:
    import pandas as pd

    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError:
        return False
    return True


def write_documents(ctx: Ctx, n_docs: int) -> pa.Table:
    table = inputs.documents_table(ctx.seed, n_docs)
    os.makedirs(ctx.path("sf"), exist_ok=True)
    pq.write_table(table, ctx.path("sf", "documents.parquet"))
    return table


WORKLOADS = {w.name: w for w in (ExtractSmall, ExtractHeavy, PipelineWrite, CorpusOps)}
