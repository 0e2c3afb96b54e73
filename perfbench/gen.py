"""Seeded page generator for the extraction workload.

The page template is a copy of the synthesizer the program ships
(``sources/pages.py``), kept here so that a change to the program cannot
change the workload. Pages are built from the ``documents`` rows of the
sf0.1 tables in several seeded variants. Every variant keeps the edge
buckets of the template: empty, invalid UTF-8, tiny, long, 180-degree,
low-confidence, image-only, entity-heavy, table and RTL pages.

Two seeded changes make the heavy tail:

- giants: pages of 1.1-3 MiB with about 1000 regions each;
- rows whose ``html_size`` ingest stat is NULL (the smallest giant is
  always among them, so a straggler also reaches the routed leg).

Timestamps are written as microseconds: nanosecond parquet timestamps
fail in Spark with ``PARQUET_TYPE_ILLEGAL``.
"""

from __future__ import annotations

import random
import textwrap
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 4
_EPOCH = datetime(2025, 1, 1)
_MIB = 1 << 20

_NAV_WORDS = ["Home", "About", "Products", "Contact", "Blog", "Careers", "Login", "Search"]
_AD_LINES = [
    "Buy now and save big on everything today",
    "Limited offer click here for amazing deals",
    "Subscribe to our newsletter for weekly coupons",
]
_RTL_WORDS = ["مرحبا", "بالعالم", "هذا", "نص", "عربي", "للاختبار", "مع", "أرقام", "123"]

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
        pa.field("html_size", pa.int64()),
    ]
)


def _wrap(paragraph: str, width: int = 80) -> str:
    return "\n".join(textwrap.wrap(paragraph, width=width)) or paragraph


def _split_paragraphs(words: list, rng: random.Random) -> list:
    paras = []
    i = 0
    while i < len(words):
        take = rng.randint(12, 40)
        paras.append(" ".join(words[i:i + take]))
        i += take
    return paras


def _head(page_id: int, lang: str, rng: random.Random) -> list:
    nav = " ".join(f'<a href="/{w.lower()}">{w}</a>' for w in rng.sample(_NAV_WORDS, 5))
    return [
        "<!DOCTYPE html>",
        "<html>",
        f"<head><title>Doc {page_id}</title>",
        "<style>body { margin: 0; } .ad { color: red; }</style>",
        "<script>var tracker = 'not-content'; function f(){return 1;}</script>",
        "</head>",
        "<body>",
        f"<nav>{nav}</nav>",
        f'<div class="ad"><a href="/promo">{rng.choice(_AD_LINES)}</a></div>',
        "<main>",
        f"<h1>Document {page_id} {lang}</h1>",
    ]


_TAIL = [
    "</main>",
    '<footer><a href="/tos">Terms</a> <a href="/privacy">Privacy</a></footer>',
    "</body></html>",
]


def page_html(page_id: int, text: str, lang: str, rng: random.Random) -> bytes:
    """One ordinary page; ``page_id % 97`` picks its edge bucket."""
    bucket = page_id % 97
    if bucket == 0:
        return b""                                # empty payload
    if bucket == 1:
        return b"\xff\xfe\xfa invalid \x80\x81"    # invalid UTF-8
    paras = _split_paragraphs(text.split(), rng)
    if bucket == 2:
        paras = [" ".join(paras[0].split()[:3])] if paras else []   # tiny
    elif bucket == 3:
        paras = (paras * 40)[:400]                                   # long
    lines = _head(page_id, lang, rng)
    for pi, para in enumerate(paras):
        body = para[::-1] if bucket == 4 and pi == 0 else para       # 180 degrees
        lines += ["<p>", _wrap(body), "</p>"]
        if pi == 1 and bucket == 7:
            lines.append("<p>Q&amp;A &lt;tags&gt; &quot;quoted&quot; &#8212; caf&eacute;&nbsp;style</p>")
    if bucket == 5:   # low-confidence symbols: detected, then dropped
        lines.append("<p>" + " ".join(["#$%^&*!" for _ in range(6)]) + "</p>")
    if bucket == 6:   # tags without visible text
        lines.append('<p><img src="/a.png"><img src="/b.png"></p>')
    if bucket == 9:   # RTL paragraph
        seq = [_RTL_WORDS[(page_id + i) % len(_RTL_WORDS)] for i in range(14)]
        lines.append("<p>" + " ".join(seq) + "</p>")
    if bucket == 8:   # same-row cells the reading-order sort must swap back
        lines.append(
            "<table><tr><td>ab cd</td>"
            "<td>much longer right cell content that widens the box</td>"
            "</tr></table>"
        )
    return "\n".join(lines + _TAIL).encode("utf-8")


def giant_html(page_id: int, text: str, lang: str, rng: random.Random,
               target_bytes: int, regions: int = 1000) -> bytes:
    """A page of about ``target_bytes`` made of ``regions`` paragraphs."""
    words = text.split() or ["giant"]
    per_para = max(1, target_bytes // regions)
    n_words = max(1, per_para // (sum(len(w) + 1 for w in words) / len(words)))
    lines = _head(page_id, lang, rng)
    for j in range(regions):
        para = [words[(j + t) % len(words)] for t in range(int(n_words))]
        body = "\n".join(" ".join(para[k:k + 12]) for k in range(0, len(para), 12))
        lines += ["<p>", body, "</p>"]
    return "\n".join(lines + _TAIL).encode("utf-8")


def read_documents(sf_dir: str) -> list:
    """[(doc_id, text, lang)] of the sf ``documents`` table, by doc_id."""
    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"])
    rows = zip(*(t.column(c).to_pylist() for c in ("doc_id", "text", "lang")))
    return sorted((int(d), x or "", l or "") for d, x, l in rows)


def make_pages(docs: list, seed: int, n_pages: int,
               giant_frac: float = 0.0, null_frac: float = 0.0) -> pa.Table:
    """``n_pages`` pages: variant ``i // len(docs)`` of document ``i % len(docs)``."""
    rng = random.Random(seed)
    n_giants = round(n_pages * giant_frac)
    giants = rng.sample(range(n_pages), n_giants)
    # sizes at the centres of equal bins over 1.1-3 MiB, smallest first,
    # so every seed carries the same giant bytes and routes the same
    # sizes; the seed decides which pages they are
    sizes = [1.1 + 1.9 * (k + 0.5) / n_giants for k in range(n_giants)]
    giant_size = {i: int(s * _MIB) for i, s in zip(giants, sizes)}
    others = [i for i in range(n_pages) if i not in giant_size]
    nulls = set(rng.sample(others, round(n_pages * null_frac)))
    nulls.update(giants[:1])

    cols = {f.name: [] for f in PAGES_SCHEMA}
    for i in range(n_pages):
        doc_id, text, lang = docs[i % len(docs)]
        page_id = seed * 100_000_007 + (i // len(docs)) * 10_000_019 + doc_id
        prng = random.Random(page_id * 1_000_003 + seed)
        if i in giant_size:
            html = giant_html(page_id, text, lang, prng, giant_size[i])
        else:
            html = page_html(page_id, text, lang, prng)
        slug = "".join(prng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))
        cols["url"].append(f"https://example.org/{lang}/{slug}/{page_id}")
        cols["warc_ts"].append(_EPOCH + timedelta(seconds=(page_id * 9_973) % (30 * 86_400)))
        cols["html"].append(html)
        cols["text"].append(text)
        cols["lang"].append(lang)
        cols["html_size"].append(None if i in nulls else len(html))
    return pa.table(cols, schema=PAGES_SCHEMA)


def write_pages(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1024, coerce_timestamps="us")
