"""Seeded input generation for the extraction-job benchmark.

Every generated input is a pure function of the seed. Sizes (page bytes,
document word counts) are drawn as fixed quantiles of their distribution
and only their order and content depend on the seed, so total work per
rep is nearly the same for every seed and seeds differ in content.

Pages are built from the reference fixtures in ``tests/fixtures``. Each
page appends per-row markup in the fixture's own encoding (UTF-16 for the
UTF-16 fixtures), so every page is distinct and a content-keyed cache
cannot turn repeated documents into a gain.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from pathlib import Path
from statistics import NormalDist

import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_DIR = Path(__file__).resolve().parent.parent / "tests" / "fixtures"
BASE_TS_US = 1_738_454_400_000_000  # 2025-02-02T00:00:00Z

# seeded error pages per corpus: class -> count
ERROR_PAGES = {"decode": 3, "invalid_code_point": 2, "null_html": 2}
# crawl-like page sizes: log-normal around the median, cut at the cap
CRAWL_MEDIAN = 20_000
CRAWL_SIGMA = 1.0
CRAWL_CAP = 400_000

# The shape of the sf-tier documents tables, as measured on sf0.1 (5,000
# rows): every text is 10-100 words drawn from WORDS (44-577 chars, word
# counts uniform); 5% are near-duplicates, another document's text plus
# " dup"; source is "src{doc_id % 20}"; lang is about 40% en, the rest
# zh, es, fr and de in equal shares.
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3
MIN_WORDS, MAX_WORDS = 10, 100
DUP_FRAC = 0.05
# the long-document tail added on top of that shape
LONG_FRAC = 0.01
LONG_CHARS = (2_000, 8_000)


def fixtures() -> dict[str, bytes]:
    found = {p.name: p.read_bytes() for p in sorted(FIXTURE_DIR.glob("*.tmph.html"))}
    if not found:
        raise FileNotFoundError(f"no fixtures under {FIXTURE_DIR}")
    return found


def _encoding(data: bytes) -> str:
    if data.startswith(b"\xff\xfe"):
        return "utf-16-le"
    if data.startswith(b"\xfe\xff"):
        return "utf-16-be"
    return "utf-8"


def _clean(base: bytes) -> bool:
    """UTF-8 and ending outside any tag, comment or raw-text element, so an
    appended block is parsed as content."""
    return _encoding(base) == "utf-8" and base.rstrip().endswith(b"</div>")


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _block(rng: random.Random, row: int, k: int) -> str:
    """One crawl-like content block: heading, paragraph with a link, list."""
    items = "".join(f"<li>{_words(rng, 3)}</li>" for _ in range(rng.randint(2, 5)))
    return (
        f'<div class="c{k % 7}" id="r{row}-{k}"><h2>{_words(rng, 4)}</h2>'
        f"<p>{_words(rng, rng.randint(12, 40))} "
        f'<a href="/p/{row}/{k}">{_words(rng, 2)}</a> {_words(rng, 8)}</p>'
        f"<ul>{items}</ul></div>\n"
    )


def _grow(rng: random.Random, base: bytes, row: int, target: int) -> bytes:
    """``base`` plus content blocks, in the base's encoding, to ``target`` bytes."""
    enc = _encoding(base)
    parts = [base]
    size = len(base)
    k = 0
    while k == 0 or size < target:
        chunk = _block(rng, row, k).encode(enc)
        parts.append(chunk)
        size += len(chunk)
        k += 1
    return b"".join(parts)


def _corrupt(page: bytes, cls: str) -> bytes | None:
    """Turn a UTF-8 page into an error page of class ``cls``."""
    if cls == "null_html":
        return None
    bad = b"\x80" if cls == "decode" else b"\xf4\x90\x80\x80"  # > U+10FFFF
    # inside the heading text of an appended block, so the error surfaces
    # in text content and keeps its class (inside a tag the tree layer
    # reports it instead)
    at = page.index(b"<h2>", page.index(b'<div class="c')) + 4
    return page[:at] + bad + page[at:]


def size_histogram(sizes) -> dict[str, int]:
    """Counts per power-of-two size bucket, keyed by the bucket's upper bound."""
    hist: dict[str, int] = {}
    for n in sizes:
        key = str(1 << max(n - 1, 0).bit_length())
        hist[key] = hist.get(key, 0) + 1
    return dict(sorted(hist.items(), key=lambda kv: int(kv[0])))


@dataclass
class Pages:
    """A generated pages table plus what the output check needs."""

    url: list[str]
    warc_ts: list[int]
    html: list[bytes | None]
    errors: dict[str, int] = field(default_factory=dict)  # class -> pages
    error_rows: list[int] = field(default_factory=list)

    def __len__(self) -> int:
        return len(self.url)

    def html_bytes(self, rows: range | None = None) -> int:
        rows = rows if rows is not None else range(len(self))
        return sum(len(self.html[i] or b"") for i in rows)


    def write(self, path: Path, rows: range | None = None) -> None:
        rows = rows if rows is not None else range(len(self))
        table = pa.table(
            {
                "url": pa.array([self.url[i] for i in rows], pa.string()),
                "warc_ts": pa.array(
                    [self.warc_ts[i] for i in rows], pa.timestamp("us", tz="UTC")
                ),
                "html": pa.array([self.html[i] for i in rows], pa.binary()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
            }
        )
        path.mkdir(parents=True, exist_ok=True)
        # several files, so the scan is split like a real table's
        step = max(1, -(-len(rows) // 4))
        for part, lo in enumerate(range(0, len(rows), step)):
            pq.write_table(table.slice(lo, step), path / f"part-{part:05d}.parquet")


def _pages(rng: random.Random, name: str, bases: list[bytes], targets: list[int]) -> Pages:
    n = len(targets)
    html: list[bytes | None] = [
        _grow(rng, base, row, target) for row, (base, target) in enumerate(zip(bases, targets))
    ]
    # error pages: fixed counts per class, on seeded rows of clean fixtures
    chosen = rng.sample([i for i, b in enumerate(bases) if _clean(b)], sum(ERROR_PAGES.values()))
    for i, cls in zip(chosen, (c for c, k in ERROR_PAGES.items() for _ in range(k))):
        html[i] = _corrupt(html[i], cls)
    salt = rng.getrandbits(32)
    return Pages(
        url=[f"https://{name}-{salt:08x}-{i % 97}.test/page/{i}" for i in range(n)],
        warc_ts=[BASE_TS_US + i * 1_000_000 for i in range(n)],
        html=html,
        errors=dict(ERROR_PAGES),
        error_rows=sorted(chosen),
    )


def crawl_pages(seed: int, n: int) -> Pages:
    """Crawl-like sizes: log-normal around CRAWL_MEDIAN, tail up to CRAWL_CAP."""
    rng = random.Random(f"crawl:{seed}")
    nd = NormalDist()
    targets = [
        min(CRAWL_CAP,
            int(CRAWL_MEDIAN * 2.718281828 ** (CRAWL_SIGMA * nd.inv_cdf((i + 0.5) / n))))
        for i in range(n)
    ]
    rng.shuffle(targets)
    fx = fixtures()
    bases = []
    for t in targets:
        fits = [b for b in fx.values() if len(b) + 256 <= t] or [min(fx.values(), key=len)]
        bases.append(rng.choice(fits))
    # enough rows on clean fixtures for the error pages, at any corpus size
    clean = [b for b in fx.values() if _clean(b)]
    for i in rng.sample(range(n), sum(ERROR_PAGES.values())):
        bases[i] = rng.choice(clean)
    return _pages(rng, "crawl", bases, targets)


def small_pages(seed: int, n: int) -> Pages:
    """The fixture mix (each fixture n/16 times), one content block per page."""
    rng = random.Random(f"small:{seed}")
    fx = list(fixtures().values())
    bases = [fx[i % len(fx)] for i in range(n)]
    rng.shuffle(bases)
    return _pages(rng, "small", bases, [0] * n)


def _text(rng: random.Random, chars: int) -> str:
    """Words from the vocabulary, as few as reach ``chars`` characters."""
    words: list[str] = []
    size = -1
    while size < chars:
        words.append(rng.choice(WORDS))
        size += len(words[-1]) + 1
    return " ".join(words)


def documents(seed: int, n: int) -> pa.Table:
    """A documents table in the measured shape of the sf-tier tables (see
    WORDS), plus a LONG_FRAC tail of LONG_CHARS-long documents.

    Word counts and tail lengths are fixed quantiles, so every seed does
    nearly the same work; the seed picks the words, the near-duplicates,
    their originals and the order.
    """
    rng = random.Random(f"docs:{seed}")
    n_long = max(1, round(n * LONG_FRAC))
    n_short = n - n_long
    span = MAX_WORDS - MIN_WORDS + 1
    texts = [_words(rng, MIN_WORDS + (span * i) // n_short) for i in range(n_short)]
    lo, hi = LONG_CHARS
    texts += [_text(rng, lo + ((hi - lo) * i) // max(1, n_long - 1)) for i in range(n_long)]
    dups = rng.sample(range(n_short), round(n * DUP_FRAC))
    originals = sorted(set(range(n_short)) - set(dups))
    for i in dups:
        texts[i] = texts[rng.choice(originals)] + " dup"
    rng.shuffle(texts)
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(LANGS) for _ in range(n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
