"""Benchmark inputs: pages, alias index and golden triples, built from a seed.

Everything the timed program reads is generated here, in plain Python, and
written to Parquet with pyarrow before any timing starts, so no generator
runs inside a timed region. The program then receives only
``spark.read.parquet(pages)`` and ``spark.read.parquet(alias_index)``.

Page i is ``kgspark.fixtures.page_record(i, seed, bulk_words)``: the same
records the fixture corpus generator makes, so the golden triples are
``fixtures.gen_golden_triples`` for the same seed and page count.

The ``wide`` vocabulary adds synthetic place entities to the fixture alias
index (the reference's Wikidata fetch held 2,897 communities) and appends to
every page a paragraph that mentions a few of them, some with OCR-style
corruptions. Those sentences contain no relation phrase, no fixture alias or
region and no token a fixture alias uses, and every synthetic name is more
than ``MIN_EDIT_GAP`` edits from every fixture alias, so they add mentions,
links and surfaces but leave the golden triples unchanged.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kgspark import fixtures

# fixture aliases, OCR variants and region names: synthetic vocabulary must
# stay clear of all of them
_FIXTURE_SURFACES = sorted(
    {a for r in fixtures.ALIAS_INDEX_ROWS for a in r[2]}
    | set(fixtures.OCR_VARIANTS.values())
    | {r[6] for r in fixtures.ALIAS_INDEX_ROWS if r[6]}
)
_FIXTURE_TOKENS = {t.lower() for s in _FIXTURE_SURFACES for t in s.split()}
_FIXTURE_LOWER = [s.lower() for s in _FIXTURE_SURFACES]


def _letter_counts(s: str) -> np.ndarray:
    return np.bincount(np.frombuffer(s.encode("utf-8"), np.uint8), minlength=256)


_FIXTURE_COUNTS = np.stack([_letter_counts(s) for s in _FIXTURE_LOWER])
_REGIONS = sorted({r[6] for r in fixtures.ALIAS_INDEX_ROWS if r[6]})

MIN_EDIT_GAP = 4  # > link.LEV_MAX + the 2 edits an OCR variant may add
# share of synthetic mentions given an OCR-style corruption: the rate the
# fixture corpus uses for its own mentions (fixtures._pick_surface)
CORRUPT_P = 0.05

_ONSETS = ["b", "br", "c", "cl", "d", "dr", "f", "g", "gr", "h", "j", "l", "m",
           "n", "p", "pl", "r", "s", "st", "t", "tr", "v", "w", "z"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "ou"]
_CODAS = ["", "", "n", "r", "l", "s", "m", "th", "ck", "nd"]
_SUFFIXES = ["Landing", "Creek", "Ridge", "Falls", "Mills", "Crossing",
             "Harbour", "Bend", "Hollow", "Corners", "Point", "Springs"]

# sentence frames for the wide-vocabulary paragraph: each starts with a
# stop-listed word, so only the entity name forms a capitalized span, and
# none contains a relation phrase (mentions._REL_PHRASE_TO_PRED)
_FRAMES = [
    "The old parish rolls name {x} many times.",
    "A letter from {x} arrived that spring.",
    "The survey map shows {x} near the river.",
    "The mill at {x} shipped timber downstream.",
]

# OCR-style single-character confusions (reference analog: the variant
# chains in fixtures.OCR_VARIANTS)
_OCR_SWAPS = [("l", "i"), ("e", "c"), ("h", "b"), ("n", "u"), ("o", "a"), ("r", "n")]

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("lang", pa.string()),
])
ALIAS_SCHEMA = pa.schema([
    ("entity_id", pa.string()), ("canonical_name", pa.string()),
    ("aliases", pa.list_(pa.string())), ("entity_type", pa.string()),
    ("latitude", pa.float64()), ("longitude", pa.float64()),
    ("admin_region", pa.string()), ("geonames_id", pa.string()),
    ("inception_date", pa.date32()),
])
GOLDEN_SCHEMA = pa.schema([
    ("subj", pa.string()), ("pred", pa.string()), ("obj", pa.string()),
    ("src_url", pa.string()),
])


def edit_distance(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _far_from_fixtures(name: str) -> bool:
    low = name.lower()
    if any(t in _FIXTURE_TOKENS for t in low.split()):
        return False
    # the byte-multiset difference bounds the edit distance from below, so
    # the exact distance is needed only for the few surfaces it cannot rule out
    diff = _letter_counts(low) - _FIXTURE_COUNTS
    bound = np.maximum(np.clip(diff, 0, None).sum(1), np.clip(-diff, 0, None).sum(1))
    return all(
        edit_distance(low, _FIXTURE_LOWER[j]) > MIN_EDIT_GAP
        for j in np.flatnonzero(bound <= MIN_EDIT_GAP)
    )


def _word(rng: random.Random) -> str:
    n = rng.choice((2, 2, 3))
    w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(n))
    return (w + rng.choice(_CODAS)).capitalize()


def wide_entities(seed: int, n: int) -> list[tuple]:
    """``n`` synthetic place rows in the fixture alias-index row layout.

    Each has its name as an alias; every third also has a "Port <word>"
    alias, so the gazetteer holds about 4n/3 distinct aliases."""
    rng = random.Random(f"{seed}:wide-vocab")
    seen: set[str] = set()
    rows = []
    while len(rows) < n:
        first = _word(rng)
        name = f"{first} {rng.choice(_SUFFIXES)}" if rng.random() < 0.6 else first
        port = f"Port {first}"
        if name in seen or port in seen or not _far_from_fixtures(name):
            continue
        aliases = [name]
        if len(rows) % 3 == 0 and _far_from_fixtures(port):
            aliases.append(port)
        seen.update(aliases)
        k = len(rows)
        rows.append((
            f"W{k}", name, aliases, "place",
            round(rng.uniform(42.0, 60.0), 4), round(rng.uniform(-130.0, -55.0), 4),
            rng.choice(_REGIONS), None, f"{rng.randint(1650, 1900)}-01-01",
        ))
    return rows


def _ocr_variant(rng: random.Random, surface: str) -> str:
    for good, bad in rng.sample(_OCR_SWAPS, len(_OCR_SWAPS)):
        # never touch the capital: the variant must still start a span
        pos = surface.find(good, 1)
        if pos > 0:
            return surface[:pos] + bad + surface[pos + 1:]
    return surface


def wide_paragraph(seed: int, i: int, entities: list[tuple], per_page: int) -> str:
    """The extra sentences page ``i`` gets: ``per_page`` synthetic mentions."""
    rng = random.Random(f"{seed}:{i}:wide")
    out = []
    for _ in range(per_page):
        surface = rng.choice(rng.choice(entities)[2])
        if rng.random() < CORRUPT_P:
            surface = _ocr_variant(rng, surface)
        out.append(rng.choice(_FRAMES).format(x=surface))
    return " ".join(out)


def alias_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    data = [list(c) for c in cols]
    data[8] = [dt.date.fromisoformat(s) for s in data[8]]
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(data, ALIAS_SCHEMA)], schema=ALIAS_SCHEMA
    )


def build(out_dir: Path, seed: int, n_pages: int, bulk_words: int,
          wide_vocab: int = 0, wide_per_page: int = 0) -> dict:
    """Write pages, alias_index and golden Parquet files under ``out_dir``.

    Returns the paths and the golden triple set (distinct 4-tuples)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    entities = wide_entities(seed, wide_vocab) if wide_vocab else []
    urls, stamps, htmls, langs = [], [], [], []
    golden: set[tuple[str, str, str, str]] = set()
    for i in range(n_pages):
        rec = fixtures.page_record(i, seed, bulk_words, with_text=False)
        html = rec["html"]
        if entities:
            extra = wide_paragraph(seed, i, entities, wide_per_page)
            html = html.replace(b"<footer>", f"<p>{extra}</p><footer>".encode(), 1)
        urls.append(rec["url"])
        stamps.append(rec["warc_ts"])
        htmls.append(html)
        langs.append(rec["lang"])
        golden.update((s, p, o, rec["url"]) for s, p, o in rec["_triples"])
    pages = pa.Table.from_arrays(
        [pa.array(urls), pa.array(stamps, PAGES_SCHEMA.field("warc_ts").type),
         pa.array(htmls, pa.binary()), pa.array(langs)],
        schema=PAGES_SCHEMA,
    )
    gold = sorted(golden)
    golden_t = pa.Table.from_arrays(
        [pa.array(list(c)) for c in zip(*gold)], schema=GOLDEN_SCHEMA
    )
    paths = {k: out_dir / k for k in ("pages", "alias_index", "golden")}
    for p in paths.values():
        p.mkdir(exist_ok=True)
    # several files so the scan has one split per core to start with
    n_files = 6
    step = -(-n_pages // n_files)
    for f in range(n_files):
        pq.write_table(pages.slice(f * step, step), paths["pages"] / f"part-{f:02d}.parquet")
    pq.write_table(
        alias_table(list(fixtures.ALIAS_INDEX_ROWS) + entities),
        paths["alias_index"] / "part-00.parquet",
    )
    pq.write_table(golden_t, paths["golden"] / "part-00.parquet")
    return {"paths": paths, "golden": golden}


def digest(out_dir: Path) -> str:
    """sha256 over every Parquet file under ``out_dir``, in path order."""
    h = hashlib.sha256()
    for p in sorted(out_dir.rglob("*.parquet")):
        h.update(str(p.relative_to(out_dir)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()
