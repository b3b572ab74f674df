"""Seeded corpora and query streams for the two workloads.

Everything here is a pure function of the seed: the corpus row offset into
``fixtures.webtext.generate_rows``, the query pools, the Zipf repetition
over each pool and the batch order.  The engine receives only the generated
inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from search_engine_spark.analysis.text import tokenize
from search_engine_spark.fixtures.webtext import generate_rows, vocabulary

# rows per (seed, salt) slice.  Seeds wrap at _SEED_WRAP so row indexes, and
# the warc_ts the generator derives from them (one second per row), stay
# inside pandas' nanosecond timestamp range.
_SEED_STRIDE = 100_000
_SEED_WRAP = 4999
# salts: each workload's corpus and its warm-up inputs use disjoint slices
SALT_SERVE, SALT_INGEST, SALT_WARMUP = 0, 3, 5
# warm-up query streams come from this seed offset: disjoint from the run's
WARMUP_SEED_OFFSET = 1_000_003

SELECTIVE_SHAPES = ("search", "prefix", "fuzzy", "suggest", "conj", "group", "mlt", "url")
HEAVY_SHAPES = ("sort", "wand", "auto", "dv_filter", "dv_sort", "facet")
# Both cycles give plain searches half the slots.  They are the commonest
# query, and with one shape in the majority the median falls inside that
# shape's latencies instead of on the boundary between two shapes, where it
# moves with the seed.
SELECTIVE_CYCLE = ("search", "prefix", "search", "fuzzy", "search", "suggest", "search",
                   "conj", "search", "group", "search", "mlt", "search", "url")
HEAVY_CYCLE = ("sort", "wand", "sort", "auto", "sort", "dv_filter", "sort", "dv_sort",
               "sort", "facet")

# vocabulary ranks: selective queries draw from the body of the Zipf curve,
# heavy ones from its head (the ten most frequent words are stop-like)
SELECTIVE_RANKS = (100, 5000)
CONJ_RANKS = (100, 600)
HEAVY_RANKS = (10, 300)
POOL = 16  # distinct queries per shape; the stream repeats them Zipf-wise


@dataclass(frozen=True)
class Query:
    shape: str
    text: str
    skip: int = 0
    value: str = ""  # dv_filter value or dv_sort order


@dataclass
class Corpus:
    table: pa.Table  # url, warc_ts, html, text, lang; sorted by url
    url_attrs: dict = field(default_factory=dict)  # url -> (lang, warc_ts us)

    @property
    def n(self) -> int:
        return self.table.num_rows


def corpus(seed: int, n: int, salt: int) -> Corpus:
    """``n`` generated pages for ``seed``, url-ordered (doc_id = url rank)."""
    start = ((seed % _SEED_WRAP) * 7 + salt) * _SEED_STRIDE
    cols = generate_rows(start, n)
    tbl = pa.table({
        "url": pa.array(cols["url"], pa.string()),
        "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us")),
        "html": pa.array(cols["html"], pa.binary()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
    }).sort_by("url")
    ts = tbl.column("warc_ts").cast(pa.int64()).to_pylist()
    attrs = dict(zip(tbl.column("url").to_pylist(), zip(tbl.column("lang").to_pylist(), ts)))
    return Corpus(tbl, attrs)


def write_parquet(tbl: pa.Table, path: str) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))
    return path


def _zipf_stream(rng: np.random.Generator, pool: list, n: int) -> list:
    """``n`` draws from ``pool`` in which the query of rank r appears in
    proportion to 1/r.  The counts are fixed by ``n`` (largest remainder), not
    sampled, so every seed repeats its queries in the same pattern; the seed
    picks the queries and their order."""
    w = 1.0 / np.arange(1, len(pool) + 1)
    share = n * w / w.sum()
    counts = np.floor(share).astype(int)
    counts[np.argsort(counts - share, kind="stable")[: n - counts.sum()]] += 1
    idx = rng.permutation(np.repeat(np.arange(len(pool)), counts))
    return [pool[i] for i in idx]


def _interleave(rng: np.random.Generator, pools: dict[str, list], cycle: tuple,
                reps: int) -> list:
    """``reps`` passes over a fixed shape cycle, so every seed runs the same
    mix in the same order; each slot is a Zipf draw from its shape's pool."""
    streams = {s: iter(_zipf_stream(rng, pools[s], reps * cycle.count(s)))
               for s in dict.fromkeys(cycle)}
    return [next(streams[s]) for _ in range(reps) for s in cycle]


def _misspell(rng: np.random.Generator, term: str) -> str:
    i = int(rng.integers(0, len(term)))
    letters = [c for c in "abdefgiklmnoprstuz" if c != term[i]]
    return term[:i] + letters[int(rng.integers(0, len(letters)))] + term[i + 1:]


def selective_queries(seed: int, reps: int, docs: Corpus) -> list[Query]:
    """``reps`` passes over SELECTIVE_CYCLE of interactive queries."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary()

    def words(n, ranks=SELECTIVE_RANKS):
        return [vocab[r] for r in rng.integers(ranks[0], ranks[1], n)]

    texts = docs.table.column("text").to_pylist()
    pools = {
        "search": [
            Query("search", " ".join(words(int(rng.integers(2, 4)))), skip=10 if i % 3 == 2 else 0)
            for i in range(POOL)
        ],
        # every third prefix has two letters, the rest three
        "prefix": [Query("prefix", w[: 2 if i % 3 == 2 else 3]) for i, w in enumerate(words(POOL))],
        "fuzzy": [Query("fuzzy", _misspell(rng, w)) for w in words(POOL)],
        "suggest": [Query("suggest", _misspell(rng, w)) for w in words(POOL)],
        "conj": [Query("conj", " ".join(words(2, CONJ_RANKS))) for _ in range(POOL)],
        "group": [Query("group", " ".join(words(2))) for _ in range(POOL)],
        "mlt": [
            Query("mlt", " ".join(tokenize(texts[int(rng.integers(0, len(texts)))])[:30]))
            for _ in range(POOL)
        ],
        "url": [Query("url", " ".join(words(2))) for _ in range(POOL)],
    }
    return _interleave(rng, pools, SELECTIVE_CYCLE, reps)


def heavy_queries(seed: int, reps: int) -> list[Query]:
    """``reps`` passes over HEAVY_CYCLE of head-term distributed queries."""
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary()

    def kw():
        a, b = rng.choice(np.arange(*HEAVY_RANKS), size=2, replace=False)
        return f"{vocab[a]} {vocab[b]}"

    pools = {s: [Query(s, kw()) for _ in range(POOL)] for s in HEAVY_SHAPES}
    pools["dv_filter"] = [
        Query("dv_filter", q.text, value=("en", "es", "hi")[i % 3])
        for i, q in enumerate(pools["dv_filter"])
    ]
    pools["dv_sort"] = [
        Query("dv_sort", q.text, value=("desc", "asc")[i % 2])
        for i, q in enumerate(pools["dv_sort"])
    ]
    return _interleave(rng, pools, HEAVY_CYCLE, reps)


def probe_keyword(tbl: pa.Table, row: int) -> tuple[str, str]:
    """(url, keyword) for visibility probes: the page's three rarest words,
    searched conjunctively, must return that page."""
    rank = {w: i for i, w in enumerate(vocabulary())}
    toks = sorted(set(tokenize(tbl.column("text")[row].as_py())), key=lambda t: -rank.get(t, 0))
    return tbl.column("url")[row].as_py(), " ".join(sorted(toks[:3]))
