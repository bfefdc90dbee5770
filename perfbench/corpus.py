"""Seeded inputs for the crawl workloads, cached per seed.

``small`` is the package's own synthetic corpus (``sources.synth``);
``large`` is generated here: log-normal page sizes built from the same
kind of vocabulary, with lists, links, tables and images, so that
per-byte DOM work dominates instead of per-page fixed costs.

Everything here runs on pyarrow alone (no Spark), so generation and the
expected-output bookkeeping stay outside every timed region.
"""

from __future__ import annotations

import hashlib
import math
import random
from dataclasses import dataclass
from datetime import datetime, timedelta
from pathlib import Path
from statistics import NormalDist

import pyarrow as pa
import pyarrow.parquet as pq

#: Pages larger than this never reach the extractor (sources.pages.prefilter).
MAX_HTML_BYTES = 8 << 20

SMALL_PAGES = 8_000
LARGE_PAGES = 240
LARGE_MEDIAN_BYTES = 48 << 10
LARGE_SIGMA = 0.9
LARGE_CAP_BYTES = 2 << 20

_VOCAB = (
    "system data pipeline cluster stream batch shuffle partition executor "
    "driver memory network storage index query plan filter join aggregate "
    "window sort merge hash scan write read commit checkpoint recover scale "
    "throughput latency skew salt bucket broadcast column row schema type"
).split()

_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us"), nullable=False),
        pa.field("html", pa.binary(), nullable=True),
        pa.field("text", pa.string(), nullable=True),
        pa.field("lang", pa.string(), nullable=True),
    ]
)


@dataclass
class Corpus:
    """A generated pages table plus what the benchmark must expect of it."""

    path: Path
    rows: int
    #: url → (warc_ts, html) of the capture dedup must keep, for every
    #: url the pipeline accepts (non-null html of at most 8 MiB)
    accepted: dict
    html_bytes: int
    size_quantiles: dict

    def sample(self, n: int) -> list[str]:
        """A fixed, seed-independent rule: the n accepted urls with the
        smallest sha1 digest."""
        return sorted(
            self.accepted, key=lambda u: hashlib.sha1(u.encode()).digest()
        )[:n]

    def describe(self) -> dict:
        return {
            "pages": self.rows,
            "accepted_urls": len(self.accepted),
            "html_mb": round(self.html_bytes / 1e6, 2),
            "page_bytes_quantiles": self.size_quantiles,
        }


def load(path: Path) -> Corpus:
    table = pq.read_table(path, columns=["url", "warc_ts", "html"])
    urls = table.column("url").to_pylist()
    tss = table.column("warc_ts").to_pylist()
    htmls = table.column("html").to_pylist()
    accepted: dict = {}
    sizes = []
    for url, ts, html in zip(urls, tss, htmls):
        if html is None:
            continue
        sizes.append(len(html))
        if len(html) > MAX_HTML_BYTES:
            continue
        # dedup keeps the latest capture, then the longest html
        prev = accepted.get(url)
        if prev is None or (ts, len(html)) > (prev[0], len(prev[1])):
            accepted[url] = (ts, html)
    sizes.sort()
    q = {
        f"p{p}": sizes[min(len(sizes) - 1, int(p / 100 * len(sizes)))]
        for p in (10, 50, 90, 99)
    }
    q["max"] = sizes[-1]
    return Corpus(path, len(urls), accepted, sum(sizes), q)


def synth(cache: Path, pages: int, seed: int) -> Path:
    """The package's own synthetic corpus (``sources.synth``), cached."""
    from readembedability_spark.sources.synth import generate_pages

    path = cache / f"small_{pages}_{seed}.parquet"
    if not path.exists():
        tmp = path.with_name(path.name + ".tmp")
        generate_pages(tmp, pages, seed=seed)
        tmp.rename(path)
    return path


def small(cache: Path, seed: int) -> Corpus:
    return load(synth(cache, SMALL_PAGES, seed))


def large(cache: Path, seed: int) -> Corpus:
    path = cache / f"large_{LARGE_PAGES}_{seed}.parquet"
    if not path.exists():
        tmp = path.with_name(path.name + ".tmp")
        _write_large(tmp, seed)
        tmp.rename(path)
    return load(path)


def _write_large(path: Path, seed: int) -> None:
    rng = random.Random(seed)
    # stratified log-normal sizes: every seed gets the same size
    # distribution (and total bytes) in a different order, so the seed
    # changes the pages but not the amount of work
    normal = NormalDist()
    sizes = [
        min(
            LARGE_CAP_BYTES,
            int(LARGE_MEDIAN_BYTES * math.exp(LARGE_SIGMA * normal.inv_cdf((k + 0.5) / LARGE_PAGES))),
        )
        for k in range(LARGE_PAGES)
    ]
    rng.shuffle(sizes)
    # a pool of sentences keeps generation cheap; pages draw from it
    pool = [
        " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(6, 20))).capitalize()
        + "."
        for _ in range(3000)
    ]
    base = datetime(2025, 1, 1)
    rows = []
    for i, target in enumerate(sizes):
        host = f"host{rng.randrange(200)}.example.org"
        url = f"https://{host}/long/{seed}/{i}"
        html = _large_page(rng, pool, host, i, target)
        rows.append((url, base + timedelta(seconds=i * 61), html, None, "en"))
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, _SCHEMA)], schema=_SCHEMA
    )
    pq.write_table(table, path, compression="zstd")


def _large_page(rng: random.Random, pool: list, host: str, i: int, target: int) -> bytes:
    title = rng.choice(pool).rstrip(".")
    head = f"<title>{title} - {host}</title>"
    # head metadata varies by page, as in sources.synth: only a third
    # declare keywords, so the rest derive them from the text
    if i % 3 == 0:
        head += f'<meta name="keywords" content="{",".join(rng.sample(_VOCAB, 5))}">'
    elif i % 3 == 1:
        head += f'<meta property="og:title" content="{title}">'
        head += f'<meta name="author" content="Writer {i % 53}">'
    nav = "".join(f'<a href="/section/{k}">{rng.choice(_VOCAB)}</a> ' for k in range(12))
    parts = [f'<div class="article-content"><h1>{title}</h1>']
    size = 0
    while size < target:
        kind = rng.random()
        if kind < 0.55:
            block = "<p>" + " ".join(
                rng.choice(pool) for _ in range(rng.randint(3, 9))
            ) + "</p>"
        elif kind < 0.7:
            block = "<ul>" + "".join(
                f'<li><a href="https://{host}/a/{rng.randrange(10**6)}">'
                f"{rng.choice(pool)}</a></li>"
                for _ in range(rng.randint(3, 10))
            ) + "</ul>"
        elif kind < 0.85:
            block = "<table>" + "".join(
                "<tr>" + "".join(
                    f"<td>{rng.choice(_VOCAB)} {rng.randrange(1000)}</td>"
                    for _ in range(4)
                ) + "</tr>"
                for _ in range(rng.randint(2, 8))
            ) + "</table>"
        else:
            block = (
                f'<figure><img src="/img/{i}/{rng.randrange(10**6)}.jpg" '
                f'alt="{rng.choice(_VOCAB)}" width="640" height="360">'
                f"<figcaption>{rng.choice(pool)}</figcaption></figure>"
            )
        parts.append(block)
        size += len(block)
    parts.append("</div>")
    body = (
        f'<nav class="navbar">{nav}</nav>'
        + "".join(parts)
        + '<div class="sidebar"><a href="/related">related</a></div>'
        + '<footer class="footer">(c) example</footer>'
    )
    return (
        f"<!doctype html><html><head>{head}</head><body>{body}</body></html>"
    ).encode("utf-8")
