"""Seeded page tables for the benchmark workloads.

Every table is a pure function of (seed, size): the same arguments give a
byte-identical Arrow table. The engine receives only the table (written to
parquet during set-up); the `Expected` record next to it is what the
generator knows about its own output and is used only for verification.

Page HTML is built with the package's own page synthesizer
(`sources.documents.synth_html`, over the `sources.corpus` geometries), so
a page carrying geometry looks exactly like a `build_documents` page.
"""

from __future__ import annotations

import math
import random
import re
from dataclasses import dataclass, field

import pyarrow as pa

from rust_geo_booleanop_spark.sources.corpus import CORPUS_SIZE, HEAVY_EVERY
from rust_geo_booleanop_spark.sources.documents import synth_html, synth_url

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in microseconds

# Word list for page text. Non-ASCII words make the per-url `text`
# byte-identity check meaningful beyond ASCII.
_WORDS = (
    "batch part spark line column order small sort scan fast query agg "
    "value filter customer slow string vector join tile polygon ring hole "
    "river road parcel zone map grid cell area edge sweep union clip "
    "straße café naïve señal größe 東京 地図 区域 données über żółw"
).split()
_LANGS = ("en", "en", "en", "de", "fr", "es", "ja", "pl")

# Replicas of the base case range, as build_documents(replicate=8).
FLAGSHIP_REPLICAS = 8
# Case-id offsets are multiples of lcm(CORPUS_SIZE, HEAVY_EVERY), so every
# seed keeps the same template and heavy-case mix (the cost structure) and
# moves only the spatial slots, the page order and the texts.
_CASE_STRIDE = math.lcm(CORPUS_SIZE, HEAVY_EVERY)


@dataclass
class Expected:
    """What the generator knows about its table (never given to the engine)."""

    pages: int
    geometry_pages: int
    geometry_free: int
    dirty: int
    pairs: int
    # url -> geometry string embedded in that page (clean pages only)
    geom_json: dict = field(default_factory=dict)
    # case_id -> (subject_url, clipping_url)
    cases: dict = field(default_factory=dict)
    dirty_kinds: dict = field(default_factory=dict)

    @property
    def dropped(self) -> int:
        return self.geometry_free + self.dirty


class _Texts:
    """Page texts: seeded slices of one seeded word stream (two draws per
    page instead of one per word)."""

    def __init__(self, rng: random.Random, lo: int, hi: int):
        self.rng, self.lo, self.hi = rng, lo, hi
        self.stream = " ".join(rng.choices(_WORDS, k=4 * hi))

    def next(self) -> str:
        n = self.rng.randint(self.lo, self.hi)
        start = self.rng.randrange(len(self.stream) - n)
        return self.stream[start : start + n]


_SCRIPT_OPEN = b'<script type="application/geo+json">'


def _embedded_geometry(html: bytes) -> str:
    """The geometry string synth_html embedded in a page."""
    start = html.index(_SCRIPT_OPEN) + len(_SCRIPT_OPEN)
    return html[start : html.index(b"</script>", start)].decode("utf-8")


def flagship_pages(seed: int, n_cases: int) -> tuple[pa.Table, Expected]:
    """Two pages (subject, clipping) per case, every page carrying geometry.

    The base case range is replicated FLAGSHIP_REPLICAS times; the seed
    picks each replica's case offset, the page order and the texts.
    """
    rng = random.Random(f"flagship:{seed}")
    base = max(1, n_cases // FLAGSHIP_REPLICAS)
    offsets = [k * _CASE_STRIDE for k in rng.sample(range(1, 1024), FLAGSHIP_REPLICAS)]
    case_ids = [b + off for off in offsets for b in range(base)][:n_cases]
    texts = _Texts(rng, 40, 400)
    rows = []
    exp = Expected(pages=0, geometry_pages=0, geometry_free=0, dirty=0, pairs=0)
    for case_id in case_ids:
        urls = []
        for role in (0, 1):
            doc_id = 2 * case_id + role
            text = texts.next()
            url = synth_url(doc_id)
            html = synth_html(doc_id, text)
            rows.append((url, html, text, rng.choice(_LANGS), rng.randrange(1 << 30)))
            exp.geom_json[url] = _embedded_geometry(html)
            urls.append(url)
        exp.cases[case_id] = tuple(urls)
    rng.shuffle(rows)
    exp.pages = exp.geometry_pages = len(rows)
    exp.pairs = len(case_ids)
    return _pages_table(rows), exp


def _pages_table(rows) -> pa.Table:
    urls, html, texts, langs, secs = zip(*rows)
    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array([_EPOCH_US + s * 1_000_000 for s in secs], pa.int64()).cast(pa.timestamp("us")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
        },
        schema=PAGES_SCHEMA,
    )


_PLAIN_HTML = (
    '<html><head><meta charset="utf-8"><title>{title}</title>'
    '<link rel="stylesheet" href="/static/site.css"></head><body>'
    '<nav><a href="/">home</a> <a href="/maps">maps</a> <a href="/data">data</a> '
    '<a href="/about">about</a></nav><main><h1>{title}</h1><p>{text}</p></main>'
    '<footer><a href="/terms">terms</a> <a href="/privacy">privacy</a></footer>'
    "</body></html>"
)
_NUMBER_RE = re.compile(r"-?\d+\.\d+")
DIRTY_KINDS = ("truncated_json", "nan_token", "invalid_utf8")
# sparse_crawl: ~1 in GEOMETRY_EVERY pages carries a geometry block, ~1 in
# DIRTY_EVERY a dirty one
GEOMETRY_EVERY = 32
DIRTY_EVERY = 400


def _dirty_html(kind: str, case_id: int, text: str) -> bytes:
    page = synth_html(2 * case_id, text)
    gj = _embedded_geometry(page).encode("utf-8")
    if kind == "truncated_json":
        bad = gj[: len(gj) // 2]
    elif kind == "nan_token":
        bad = _NUMBER_RE.sub("NaN", gj.decode("utf-8"), count=1).encode("utf-8")
    else:  # invalid_utf8
        bad = gj[:20] + b"\xff\xfe" + gj[20:]
    return page.replace(gj, bad, 1)


def sparse_crawl_pages(seed: int, n_pages: int) -> tuple[pa.Table, Expected]:
    """A crawl-shaped table: ~1 KB pages, ~1 in GEOMETRY_EVERY carrying a
    geometry block, ~1 in DIRTY_EVERY carrying a dirty block.

    The seed picks the geometry-page positions, the dirty-page positions
    and kinds (truncated JSON, a bare NaN token, invalid UTF-8), the
    case-id offset and every text.
    """
    rng = random.Random(f"sparse_crawl:{seed}")
    n_cases = max(1, n_pages // (2 * GEOMETRY_EVERY))
    n_dirty = max(1, n_pages // DIRTY_EVERY)
    special = rng.sample(range(n_pages), 2 * n_cases + n_dirty)
    geo_pos, dirty_pos = special[: 2 * n_cases], special[2 * n_cases :]
    offset = rng.randrange(1, 1024) * _CASE_STRIDE
    case_ids = [offset + i for i in range(n_cases)]
    exp = Expected(
        pages=n_pages,
        geometry_pages=2 * n_cases,
        geometry_free=n_pages - 2 * n_cases - n_dirty,
        dirty=n_dirty,
        pairs=n_cases,
    )
    slot = {}
    for i, pos in enumerate(geo_pos):
        slot[pos] = ("geo", case_ids[i // 2], i % 2)
    for pos in dirty_pos:
        slot[pos] = ("dirty", rng.choice(case_ids), rng.choice(DIRTY_KINDS))
    texts = _Texts(rng, 450, 700)
    rows = []
    for pos in range(n_pages):
        text = texts.next()
        kind = slot.get(pos)
        if kind is None:
            url = f"https://crawl.example/site{pos % 97}/page/{pos}"
            html = _PLAIN_HTML.format(title=f"page {pos}", text=text).encode("utf-8")
        elif kind[0] == "geo":
            _, case_id, role = kind
            doc_id = 2 * case_id + role
            url = synth_url(doc_id)
            html = synth_html(doc_id, text)
            exp.geom_json[url] = _embedded_geometry(html)
            exp.cases.setdefault(case_id, [None, None])[role] = url
        else:
            _, case_id, dirty_kind = kind
            url = f"https://crawl.example/dirty/page/{pos}"
            html = _dirty_html(dirty_kind, case_id, text)
            exp.dirty_kinds[url] = dirty_kind
        rows.append((url, html, text, rng.choice(_LANGS), rng.randrange(1 << 30)))
    exp.cases = {k: tuple(v) for k, v in exp.cases.items()}
    return _pages_table(rows), exp
