"""Seeded input generators for the benchmark.

Every workload input is derived from ``--seed`` alone, so the same seed
gives byte-identical inputs and the program under test only ever sees
generated data:

* :func:`documents_table` — a ``documents`` table with the schema and
  shape of the sf0.1 fixture the registry queries read (``doc_id, text,
  lang, source, n_chars``; 30-word vocabulary, 10-100 words per doc,
  5% near-duplicates ending in `` dup``).
* :func:`heavy_pages` — large, structurally rich html pages (tables,
  nested lists, inline markup, cross-host links, nav/footer
  boilerplate) with heavy-tailed sizes. About one page in eight carries
  a construct the fast scanner refuses (a ``<![CDATA[`` marked section
  or a DOCTYPE internal subset), so the reference parser runs on it.
"""

from __future__ import annotations

import random

import pyarrow as pa

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
DUP_SHARE = 0.05
N_SOURCES = 20
# the frozen page-url host count of webextract.sources.pages
N_HOSTS = 37

DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """The seeded ``documents`` table (see module docstring)."""
    rng = random.Random(f"documents/{seed}")
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < DUP_SHARE:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choices(VOCAB, k=rng.randint(10, 100))))
    langs = rng.choices(LANGS, weights=LANG_WEIGHTS, k=n_docs)
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=DOCUMENTS_SCHEMA,
    )


# -- heavy pages ------------------------------------------------------------

HEAVY_MIN_BYTES = 20_000
HEAVY_MAX_BYTES = 200_000
# Pareto tail index of the page-size draw: most pages sit near the
# minimum, a few reach the cap
HEAVY_ALPHA = 0.9
BAIL_EVERY = 8
SECTION_POOL = 512

_NAV = (
    '<header><nav><ul><li><a href="/">Home</a></li><li><a href="/news">News</a>'
    '</li><li><a href="/about">About us</a></li><li><a href="/contact">Contact'
    "</a></li></ul></nav></header>"
)
_FOOTER = (
    '<footer><p><a href="/terms">Terms of Service</a> | <a href="/privacy">'
    'Privacy Policy</a> | <a href="/cookies">Cookies</a></p><p>Copyright '
    "example media group. All rights reserved.</p></footer>"
)
_BAIL_CONSTRUCTS = (
    "<![CDATA[ raw marked section {n} ]]>",
    '<!DOCTYPE html [ <!ENTITY ext{n} "internal subset"> ]>',
)


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choices(VOCAB, k=rng.randint(lo, hi)))


def _inline(rng: random.Random, n_hosts: int) -> str:
    """One paragraph of prose with inline markup and a cross-host link."""
    parts = [_words(rng, 8, 30)]
    for _ in range(rng.randint(1, 4)):
        kind = rng.randrange(4)
        w = _words(rng, 1, 4)
        if kind == 0:
            parts.append(f"<b>{w}</b>")
        elif kind == 1:
            parts.append(f"<i>{w}</i> &amp; <code>{VOCAB[rng.randrange(len(VOCAB))]}()</code>")
        elif kind == 2:
            h = rng.randrange(n_hosts)
            parts.append(f'<a href="https://host{h}.example/doc/{rng.randrange(10**6)}">{w}</a>')
        else:
            parts.append(f"<span>{w}</span> &#8212;")
        parts.append(_words(rng, 4, 20))
    return " ".join(parts)


def _section(rng: random.Random, n_hosts: int) -> str:
    """One content section: heading, paragraphs, then a table, a nested
    list or a boilerplate-heavy aside."""
    out = [f"<h2>{_words(rng, 2, 6)}</h2>"]
    out.extend(f"<p>{_inline(rng, n_hosts)}</p>" for _ in range(rng.randint(2, 6)))
    kind = rng.randrange(4)
    if kind == 0:
        cols = rng.randint(2, 5)
        rows = "".join(
            "<tr>" + "".join(f"<td>{_words(rng, 1, 5)}</td>" for _ in range(cols)) + "</tr>"
            for _ in range(rng.randint(2, 8))
        )
        head = "".join(f"<th>{_words(rng, 1, 2)}</th>" for _ in range(cols))
        out.append(f"<table><tr>{head}</tr>{rows}</table>")
    elif kind == 1:
        inner = "".join(f"<li>{_words(rng, 3, 12)}</li>" for _ in range(rng.randint(2, 5)))
        items = "".join(
            f"<li>{_words(rng, 3, 10)}<ul>{inner}</ul></li>" for _ in range(rng.randint(2, 4))
        )
        out.append(f"<ul>{items}</ul>")
    elif kind == 2:
        links = " ".join(
            f'<a href="https://host{rng.randrange(n_hosts)}.example/r/{j}">{_words(rng, 1, 3)}</a>'
            for j in range(rng.randint(4, 10))
        )
        out.append(f"<aside><p>{links}</p></aside>")
    else:
        out.append(f"<blockquote><p>{_words(rng, 10, 40)}</p></blockquote>")
    return "<section>" + "".join(out) + "</section>"


def heavy_sizes(rng: random.Random, n: int) -> list[int]:
    """``n`` target html sizes from a Pareto tail starting at
    HEAVY_MIN_BYTES, capped at HEAVY_MAX_BYTES, in ascending order. The
    draw is stratified (one draw per quantile band), so every seed gets
    the same size mix."""
    return [
        min(HEAVY_MAX_BYTES, int(HEAVY_MIN_BYTES / (1 - (i + rng.random()) / n) ** (1 / HEAVY_ALPHA)))
        for i in range(n)
    ]


def heavy_order(n: int) -> list[int]:
    """Row position of each size rank: one fixed shuffle for every
    seed, so the size skew between the scan's tasks is the same for
    every seed (and not one seed's draw)."""
    order = list(range(n))
    random.Random(f"heavy-order/{n}").shuffle(order)
    return order


def heavy_pages(seed: int, n_pages: int) -> pa.Table:
    """``(url, html)`` for the heavy workload. Pages are assembled from a
    seeded pool of sections (drawing sections is what keeps synthesis
    cheap next to extraction). Every ``BAIL_EVERY``-th page in size
    order carries a fast-scanner bail construct, so the bail pages have
    the same size mix for every seed; rows follow :func:`heavy_order`."""
    rng = random.Random(f"heavy/{seed}")
    pool = [_section(rng, N_HOSTS) for _ in range(SECTION_POOL)]
    sizes = heavy_sizes(rng, n_pages)
    urls: list[str] = [""] * n_pages
    htmls: list[bytes] = [b""] * n_pages
    for i, row in enumerate(heavy_order(n_pages)):
        host = 0 if i % 2 == 0 else i % N_HOSTS
        urls[row] = f"https://host{host}.example/heavy/{seed}/{i}"
        head = f"<html><head><title>{_words(rng, 2, 6)}</title></head><body>"
        if i % BAIL_EVERY == BAIL_EVERY // 2:
            construct = rng.choice(_BAIL_CONSTRUCTS).format(n=i)
            head = construct + head if construct.startswith("<!DOCTYPE") else head + construct
        parts = [head, _NAV, f"<article><h1>Page {i}: {_words(rng, 3, 8)}</h1>"]
        size, target = sum(map(len, parts)), sizes[i]
        while size < target:
            s = pool[rng.randrange(SECTION_POOL)]
            parts.append(s)
            size += len(s)
        parts += ["</article>", _FOOTER, "</body></html>"]
        htmls[row] = "".join(parts).encode("utf-8")
    return pa.table({"url": urls, "html": pa.array(htmls, pa.binary())})


def size_mix(sizes: list[int], blocks: list[int] | None = None) -> dict:
    """Page-size mix stamped on every result: html bytes p50/max and,
    when known (from the checked sample), blocks per page p50/max."""
    s = sorted(sizes)
    mix = {"html_bytes_p50": s[len(s) // 2], "html_bytes_max": s[-1], "pages": len(s)}
    if blocks:
        b = sorted(blocks)
        mix.update(blocks_p50=b[len(b) // 2], blocks_max=b[-1])
    return mix
