"""Distributed inverted-index builder.

Re-implements, Spark-first, the index that the reference delegated to Atlas
Search / Lucene (reference search_utils.py:79-97 implies Lucene indexes on the
``name``/``barcode`` paths; here the corpus is the webtext table from
BASELINE.json's input_hint).

Pipeline (pyspark.sql DataFrames; Python appears only in the Arrow codec
kernel; no RDDs, no per-row Python):

1. **doc_id assignment** — zero-based dense rank of ``url`` in lexicographic
   order, computed distributed: ``repartitionByRange(url)`` + per-partition
   local ranks + a driver-side prefix sum over per-partition counts (the
   classic two-phase distributed dense rank; no global sort on one node).
   The (url -> doc_id) map joins back broadcast when it fits, so the text
   payload never crosses a shuffle.
2. **tokenize** — pure JVM whole-stage-codegen: lower + regex split +
   explode + hash-aggregate to (term, doc_id, tf, dl), materialized once as
   compressed columnar parquet (``tokens_tmp``: column-pruned stats re-reads,
   resume reuse, no executor-cache GC pressure).  Doc length ``dl`` rides
   along so it can be encoded inline with postings (query-time BM25 then
   needs no doc-stats join).
3. **stats pass** — corpus stats (N, avgdl), term stats (df), postings-
   weighted term-range partition boundaries, and a (term, term_id, pid)
   dimension — ALL distributed: boundary cuts come from per-partition prefix
   sums (the driver sees only the ≤ n_partitions-1 boundary terms), term ids
   from a two-phase dense rank.  Boundaries give every build partition a
   contiguous term range (-> honest ``term_lo/term_hi`` lineage + query-time
   partition pruning) and are weighted by postings count so Zipf head terms
   don't melt one reducer.  The vocabulary is never collected or broadcast
   above ``BuildConfig.dict_budget``: web-scale vocabularies shuffle-join
   ids onto tokens and join strings back onto encoded blocks.
4. **segment build** — ONE shuffle, written by the one segment writer
   (``_SegmentWriter``) that ``build_index``'s waves, ``ingest_batch``'s
   generations and ``compact_index``'s merges share: posting rows gain a
   dense integer ``term_id`` (broadcast dictionary within
   ``BuildConfig.dict_budget``, a shuffle-joined distributed dimension
   above it) and are bucketed on a *global doc-id grid*
   (``sseg = doc_id // range_docs``).  The grid is shared by all terms, so at
   query time per-range score upper bounds can be summed across query terms —
   that is what makes distributed block-max WAND pruning possible.  Within a
   partition the rows are sorted by (term_id, doc_id) and encoded by a
   ``mapInArrow`` kernel into 1024-posting blocks with delta+varint
   compression and per-block max-score metadata — dictionary-encoded terms,
   zero-copy ints, no per-group Python loop, no python string objects.
5. **manifest** — one lineage row per (partition, wave) with input split, term
   range, postings count, bytes; committed atomically after each wave so a
   killed build resumes from completed partitions (Iceberg MERGE at cluster
   scale; atomic-rename parquet here — see catalog.py).

Placement: the pipeline above is the distributed plan.  A corpus of at most
``SMALL_BATCH_DOCS`` documents is staged on the driver instead, the way
Lucene flushes a small in-memory segment, by the driver stager
``ingest_batch`` uses for its small generations (``stage_on_driver``).  One
job decides: the ``limit(SMALL_BATCH_DOCS + 1).toArrow()`` collect of the
keys (url or ``id_col``, plus the doc values), which on the driver is the
ids' input; a resume decides from the committed ``n_docs``, with no job.
On the driver, urls are ranked by Arrow (UTF-8 byte order, Spark's string
order), the executors tokenize ``corpus ⋈ broadcast(ids)`` and one
``toArrow`` brings the token rows (never the text) to the driver; doc,
term and per-field stats come from numpy, the term cuts from
``vocab_cuts`` (``build_vocab``'s rule, pinned equal), and each wave's pids
are encoded by the same kernel one pid slab at a time
(``write_segments_local``) and land with one Spark write, replacing only
their own partitions.  Both placements write the same tables (pinned by
tests).  Spark jobs of a 1,000-page build on 4 cores, one wave:

- driver (9): the corpus read's schema job, the key collect, the NFC
  sample, the token collect (three), one write each for doc_stats,
  term_stats and the wave's segments;
- distributed (40; 42 before the placement existed): the key collect, the
  url rank, the NFC sample, the staged token stream and its Spark
  aggregates, ``build_vocab`` and the term dimension, the dictionary load,
  the encode and the lineage collect.

The bound is driver memory, not speed.  ``scripts/ingest_placement_bench.py
--mode build`` built url-sorted fixture corpora after a 50-page warm-up
build (``serve-selective`` layout, ``local[4]``, a fresh process per run,
2 runs each; ``BENCH/build_placement.jsonl``):

=======  ==========  ============  =====================
pages    driver      distributed   driver peak-RSS rise
=======  ==========  ============  =====================
1,000    3.2–3.8 s   11.2–12.3 s    17 MB
4,096    4.6–5.1 s   12.0–14.1 s    59 MB
8,192    7.6–8.6 s   18.0–19.6 s   117 MB
=======  ==========  ============  =====================

As for ingest, the driver placement won at every size and its peak grew
~14.5 KB per fixture page, so the builds share ingest's bound: 4,096 pages.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analysis.text import extract_text_series, tokenize_series
from ..catalog import IndexCatalog
from .codec import encode_varints

K1 = 1.2
B = 0.75

# Separator between field name and term in a multi-field posting key.  U+001F
# (unit separator) is outside the analyzer's token codepoint class, so a
# prefixed key can never collide with a single-field term or another field's
# keys, and the term dictionary's lexicographic order groups each field's
# terms contiguously (field-scoped prefix scans come free).
FIELD_SEP = "\x1f"

# Broadcasting the (url -> doc_id) map keeps the TEXT payload out of any
# shuffle: the corpus streams map-side through the id join straight into
# tokenize, whose explode+agg shuffles only compact token rows.  Above this
# many docs (cluster scale) build and ingest fall back to a shuffled join —
# there the text crosses the wire once, unavoidably.
_BCAST_DOCS_MAX = 20_000_000

# The driver placement's size bound, in documents, for a build and for an
# ingest generation alike: ~60 MB of added driver peak at ~14.5 KB per
# fixture page (measured; this module's and ingest's docstrings).
SMALL_BATCH_DOCS = 4096

TOKENS_SCHEMA = "term string, doc_id long, tf int, dl int"
# positional builds carry each (doc, term)'s sorted occurrence offsets
# through the token stream; the encoder folds them into a per-block varint
# blob (codec.encode_position_lists) stored as a SEPARATE segment column
TOKENS_SCHEMA_POS = TOKENS_SCHEMA + ", positions array<int>"
# the (term, term_id, pid) dimension build_vocab computes; tables this
# module writes are read back with their schema given, so a read plans
# without a schema-inference job
_TERM_DIM_SCHEMA = "term string, term_id long, pid int"


@dataclass
class BuildConfig:
    block_docs: int = 1024          # postings per encoded block
    target_ranges: int = 256        # doc-grid ranges (scales with corpus)
    min_range_docs: int = 8192      # lower bound on docs per grid range
    n_partitions: int = 32          # term-range build partitions (lineage grain)
    waves: int = 4                  # manifest commits per build (resume grain)
    shuffle_partitions: int | None = None
    # vocabularies up to this size use a driver-built broadcast term
    # dictionary (one toPandas of the term dim); above it the builder never
    # materializes the vocabulary anywhere: term ids come from a distributed
    # two-phase rank, tokens gain ids via a shuffle join, and the encoder
    # emits ids that a post-encode join maps back to strings.  Web-scale
    # vocabularies (10^9+ terms from typos/urls) take the distributed path.
    dict_budget: int = 2_000_000
    # "auto": JVM tokenizer unless the sampled NFC check fails; "jvm" /
    # "pandas" pin the path (pandas applies NFC — choose it for corpora
    # known to mix normalization forms beyond what sampling can see)
    tokenizer: str = "auto"
    # store per-occurrence token offsets (Lucene DOCS_AND_FREQS_AND_POSITIONS)
    # so the engine can answer phrase queries; costs ~1 varint byte per token
    # occurrence in a separate segment column that non-phrase queries never
    # read.  Off by default: the docs+freqs index is the north-rule build.
    positions: bool = False
    # multi-field index paths (the reference's Lucene fields: every $search
    # clause addresses a named path — name/barcode as should-clauses,
    # store_id/wh_id as must-clauses; reference search_utils.py:79-97,181-203,
    # app.py:472-486).  Each listed column is tokenized separately; posting
    # keys become "<field>\x1f<term>" so the whole segment/WAND machinery
    # (term cuts, doc-grid, block metadata) works unchanged, and corpus stats
    # gain per-field df/doc_count/avgdl so each clause scores BM25 against
    # ITS field's statistics.  None = the classic single-'text'-field build.
    field_cols: tuple | None = None
    # doc-values sidecar (Lucene's column-stride DocValues re-expressed as
    # parquet columns on the doc_stats table): each listed corpus column is
    # stored per doc_id so the engine can evaluate Atlas ``range`` /
    # ``equals`` filter clauses (compound.filter operators beyond text) as a
    # predicate-pushed doc_stats scan + semi-join against the candidate set.
    # Postings stay untouched — doc values are a per-doc columnar sidecar,
    # never an inverted structure.
    docvalues_cols: tuple = ()

    def __post_init__(self):
        # a typo like "panda" would otherwise silently fall through to the
        # auto-sampling path instead of honoring the (misspelled) pin
        if self.tokenizer not in ("auto", "jvm", "pandas"):
            raise ValueError(
                f"tokenizer must be 'auto', 'jvm', or 'pandas'; got {self.tokenizer!r}"
            )
        if self.field_cols is not None:
            self.field_cols = tuple(self.field_cols)
            if not self.field_cols:
                raise ValueError("field_cols must be a non-empty tuple or None")
            for f in self.field_cols:
                if FIELD_SEP in f:
                    raise ValueError(f"field name may not contain the separator: {f!r}")
            if self.tokenizer == "pandas":
                raise NotImplementedError(
                    "field_cols builds use the JVM tokenizer; NFC-normalize at "
                    "ingest (the pandas multi-field tokenizer is not implemented)"
                )
        self.docvalues_cols = tuple(self.docvalues_cols or ())
        # doc_id/url/dl/doc_id_pre live on doc_stats already; "score" would
        # collide with the engine's score column in the field-sort joins;
        # "gen" is the streaming generation partition key inside doc_stats
        reserved = {"doc_id", "url", "dl", "doc_id_pre", "score", "gen"}
        for c in self.docvalues_cols:
            if not isinstance(c, str) or not c:
                raise ValueError(f"docvalues_cols entries must be column names; got {c!r}")
            if c in reserved:
                raise ValueError(
                    f"docvalues column {c!r} collides with a reserved doc_stats column"
                )
        content = set(self.field_cols or ("text",))
        bad = content & set(self.docvalues_cols)
        if bad:
            raise ValueError(
                f"docvalues_cols overlap the indexed content columns: {sorted(bad)}"
            )


# ---------------------------------------------------------------------------
# Phase 1: doc ids
# ---------------------------------------------------------------------------

def assign_doc_ids(docs: DataFrame, n_parts: int = 32) -> DataFrame:
    """(url) -> (url, doc_id) where doc_id = dense lex rank of url.

    Two-phase distributed dense rank, pure JVM: range-partition by url, sort
    within partitions, take ``monotonically_increasing_id`` (a per-partition
    0-based counter in row order) as the local rank, then shift each
    partition by the prefix sum of earlier partition counts.  No global sort
    on one node, no Python workers.
    """
    ranked = (
        docs.select("url")
        .repartitionByRange(n_parts, "url")
        .sortWithinPartitions("url")
        .select(
            "url",
            F.spark_partition_id().alias("pid"),
            F.monotonically_increasing_id().alias("mid"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stats = ranked.groupBy("pid").agg(
        F.count("*").alias("cnt"), F.min("mid").alias("mn"), F.max("mid").alias("mx")
    ).collect()
    rows, acc = [], 0
    for r in sorted(stats, key=lambda r: r["pid"]):
        # monotonically_increasing_id is documented monotonic+unique, not
        # consecutive; its implementation is a per-partition counter, which
        # this relies on — verify before trusting the dense-rank arithmetic
        if int(r["mx"]) - int(r["mn"]) != int(r["cnt"]) - 1:
            raise AssertionError(
                f"monotonically_increasing_id not consecutive in partition "
                f"{r['pid']}: span {int(r['mx']) - int(r['mn']) + 1} != count {r['cnt']}"
            )
        rows.append((int(r["pid"]), int(acc), int(r["mn"])))
        acc += r["cnt"]
    spark = docs.sparkSession
    off_df = spark.createDataFrame(rows, "pid int, offset long, mn long")
    out = (
        ranked.join(F.broadcast(off_df), "pid")
        .select(
            "url",
            (F.col("offset") + (F.col("mid") - F.col("mn"))).alias("doc_id"),
        )
    )
    return out, ranked, acc  # caller unpersists ranked; acc = total docs


# ---------------------------------------------------------------------------
# Phase 1b: distributed vocabulary handling (no full-vocab driver collect)
# ---------------------------------------------------------------------------

def build_vocab(
    spark: SparkSession,
    term_stats_path: str,
    n_partitions: int,
    cuts: list[str] | None = None,
):
    """Distributed vocabulary pass: boundary cuts + (term, term_id, pid) dim.

    ONE range-partitioned sorted scan of term stats feeds everything:

    - per-partition (Σdf, count, min/max mid) comes to the driver — one row
      per range partition, never the vocabulary;
    - postings-weighted boundary cuts: a partition-local running df sum
      flags the terms whose global cumulative postings count crosses each
      ``k * total/n_partitions`` target; only those ≤ n_partitions-1
      boundary terms are collected.  Cut k is the first term reaching
      target k, so a mega-term crossing several targets yields duplicate
      cuts (neighboring partitions come out empty — harmless; the head-term
      split happens on the doc grid, not here);
    - term_id = dense lexicographic rank (partition-local counter + driver
      prefix sum, consecutiveness asserted like ``assign_doc_ids``);
    - pid = count of cuts < term (the cuts literal is tiny and lives in the
      plan).

    Pass ``cuts`` to reuse committed boundaries (resume); returns
    ``(cuts, total_postings, dim_df, backing_df_to_unpersist, n_terms)``.
    """
    from pyspark.sql import Window

    ts = spark.read.schema("term string, df long").parquet(term_stats_path)
    p = max(4, n_partitions // 4)
    ranked = (
        ts.repartitionByRange(p, "term")
        .sortWithinPartitions("term")
        .select(
            "term",
            "df",
            F.spark_partition_id().alias("tp"),
            F.monotonically_increasing_id().alias("mid"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pstats = ranked.groupBy("tp").agg(
        F.sum("df").alias("s"),
        F.count("*").alias("cnt"),
        F.min("mid").alias("mn"),
        F.max("mid").alias("mx"),
    ).collect()
    rows, acc_df, acc_n = [], 0, 0
    for r in sorted(pstats, key=lambda r: r["tp"]):
        if int(r["mx"]) - int(r["mn"]) != int(r["cnt"]) - 1:
            raise AssertionError(
                f"monotonically_increasing_id not consecutive in partition {r['tp']}"
            )
        rows.append((int(r["tp"]), int(acc_df), int(acc_n), int(r["mn"])))
        acc_df += int(r["s"])
        acc_n += int(r["cnt"])
    total_postings, n_terms = acc_df, acc_n
    off_df = spark.createDataFrame(rows, "tp int, doff long, roff long, mn long")
    joined = ranked.join(F.broadcast(off_df), "tp")

    if cuts is None:
        per_part = max(1, total_postings // n_partitions)
        w = Window.partitionBy("tp").orderBy("term").rowsBetween(
            Window.unboundedPreceding, 0
        )
        g = joined.withColumn("gcum", F.col("doff") + F.sum("df").over(w))
        crossing = g.filter(
            (F.floor(F.col("gcum") / per_part) > F.floor((F.col("gcum") - F.col("df")) / per_part))
            & (F.col("gcum") - F.col("df") < per_part * (n_partitions - 1))
        )
        cut_rows = crossing.select("term", "gcum", "df").collect()
        keyed_cuts = []
        for r in cut_rows:
            gcum, df = int(r["gcum"]), int(r["df"])
            lo, hi = (gcum - df) // per_part, gcum // per_part
            for k in range(lo + 1, hi + 1):
                if 1 <= k <= n_partitions - 1:
                    keyed_cuts.append((k, r["term"]))
        cuts = [t for _, t in sorted(keyed_cuts)]

    cuts_lit = F.array(*[F.lit(c) for c in cuts]) if cuts else F.array().cast("array<string>")
    pid = F.size(F.filter(cuts_lit, lambda c: c < F.col("term")))
    dim = joined.select(
        "term",
        (F.col("roff") + (F.col("mid") - F.col("mn"))).alias("term_id"),
        pid.cast("int").alias("pid"),
    )
    return cuts, total_postings, dim, ranked, n_terms


# ---------------------------------------------------------------------------
# Phase 2: tokenization
# ---------------------------------------------------------------------------

# Analyzer codepoint class (FIXTURES.md §3) as a Java regex, applied after
# lower().  NFC normalization is the ingest contract (the pandas path below
# applies it; the corpora here are NFC already) — everything else matches the
# pinned python analyzer exactly, which the rank-identity tests enforce.
_TOKEN_SPLIT_RE = "[^0-9A-Za-zÀ-￿]+"


def tokens_from_docs(
    docs_with_ids: DataFrame, positions: bool = False, fields: tuple | None = None
) -> DataFrame:
    """(doc_id, text) -> (term, doc_id, tf, dl) — pure JVM, whole-stage codegen.

    explode + hash-aggregate: every operator codegens (higher-order-function
    variants run interpreted and measured slower; a pandas tokenizer is
    Python-allocation-bound and stops scaling past ~8 concurrent workers).
    Map-side partial aggregation collapses the exploded stream to one row per
    (doc, term) before the shuffle because a doc's tokens never span
    partitions.

    ``positions=True`` adds each (doc, term)'s sorted occurrence offsets
    (0-based index in the token sequence, == what ``posexplode`` yields over
    the filtered array) as an ``array<int>`` column — still JVM-side
    (``collect_list`` object-hash aggregate).

    ``fields`` (a multi-field index) tokenizes each named column the same
    way instead of ``text``: its rows carry the posting key
    ``"<field>\\x1f<term>"`` and ``dl`` = THAT field's token count — exactly
    what per-field BM25 needs at query time (Lucene norms are per field) —
    and ``positions`` are offsets within the field's own token sequence.
    The per-field streams union without a shuffle.
    """
    parts = []
    for col in fields or ("text",):
        arr = F.array_remove(F.split(F.lower(F.col(col)), _TOKEN_SPLIT_RE), "")
        d1 = docs_with_ids.select("doc_id", arr.alias("arr")).filter(F.size("arr") > 0)
        key = (F.concat(F.lit(col + FIELD_SEP), F.col("term")).alias("term")
               if fields else F.col("term"))
        aggs = [F.count("*").cast("int").alias("tf"), F.max("dl").alias("dl")]
        if positions:
            exploded = F.posexplode("arr").alias("pos", "term")
            aggs.append(F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias("positions"))
        else:
            exploded = F.explode("arr").alias("term")
        parts.append(
            d1.select("doc_id", F.size("arr").cast("int").alias("dl"), exploded)
            .groupBy("doc_id", "term")
            .agg(*aggs)
            .select(key, "doc_id", "tf", "dl", *(["positions"] if positions else []))
        )
    return reduce(DataFrame.unionByName, parts)


def sampled_nfc_ok(docs: DataFrame, rows_per_split: int = 4) -> bool:
    """Cheap ingest-contract check: does sampled ``text`` look NFC?

    The JVM tokenize path assumes NFC input (its regex split has no
    normalization step); when the sample shows non-NFC text the builder
    auto-routes to the spec-exact pandas tokenizer, which applies NFC.

    Sampling discipline: ``rows_per_split`` rows from the head of EVERY
    input partition (``mapPartitions`` + ``islice`` — iterator laziness
    stops each split's read after a few rows, so the cost is one row-group
    touch per split, never a corpus scan).  Unlike a driver-side ``limit``
    — which short-circuits on the first partitions and never sees later
    files — every input split contributes, so a corpus whose early files
    are ASCII and whose later files are NFD is caught.  Residual bias: the
    rows are split HEADS, not uniform within a split; a file that is NFC
    for its first rows and NFD later still slips through, which is the
    price of not scanning — the pandas route remains selectable via
    ``BuildConfig`` for corpora known to be mixed.
    """
    import unicodedata
    from itertools import islice

    txt = docs.select("text").filter(F.col("text").isNotNull())
    heads = txt.rdd.mapPartitions(
        lambda it, n=rows_per_split: list(islice(it, n))
    ).collect()
    if not heads:
        return True
    return all(unicodedata.is_normalized("NFC", r["text"]) for r in heads)


def _resolve_tokenizer(docs: DataFrame, tokenizer: str, fields: tuple | None = None) -> str:
    """The analyzer a build or ingest runs: ``"jvm"`` or ``"pandas"``.

    An explicit pin is honored.  ``"auto"`` runs the sampled NFC contract
    check (on every content column) and picks the JVM tokenizer unless it
    fails, then the spec-exact pandas one.  A multi-field build has no
    pandas form, so there a failed check raises rather than silently
    mis-tokenizing a non-NFC corpus.
    """
    if tokenizer != "auto":
        return tokenizer
    if not fields:
        return "jvm" if sampled_nfc_ok(docs) else "pandas"
    if all(sampled_nfc_ok(docs.select(F.col(f).alias("text"))) for f in fields):
        return "jvm"
    raise ValueError(
        "field_cols build sampled non-NFC text; NFC-normalize the corpus at "
        "ingest (the pandas fallback tokenizer has no multi-field form)"
    )


def tokens_from_docs_pandas(docs_with_ids: DataFrame, positions: bool = False) -> DataFrame:
    """(doc_id, text) -> exploded (term, doc_id, tf, dl); Arrow/pandas path.

    Spec-exact fallback (applies NFC) for corpora that are not NFC at ingest;
    the JVM path above is the default build path.  ``positions=True`` adds
    the per-(doc, term) sorted occurrence offsets, grouped with one stable
    lexsort + ``np.split`` (no per-group pandas apply).
    """

    def tok(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            tok_lists = tokenize_series(pdf["text"])
            lens = tok_lists.str.len().to_numpy(dtype=np.int64)
            nz = lens > 0
            if not nz.any():
                continue
            flat = np.concatenate([np.asarray(t, dtype=object) for t in tok_lists[nz]])
            doc_rep = np.repeat(pdf["doc_id"].to_numpy()[nz], lens[nz])
            dl_rep = np.repeat(lens[nz], lens[nz])
            if not positions:
                tdf = pd.DataFrame({"term": flat, "doc_id": doc_rep, "dl": dl_rep})
                out = (
                    tdf.groupby(["doc_id", "term"], sort=False)
                    .agg(tf=("term", "size"), dl=("dl", "first"))
                    .reset_index()
                )
                yield out[["term", "doc_id", "tf", "dl"]].astype(
                    {"tf": np.int32, "dl": np.int32}
                )
                continue
            # occurrence offset within each doc = local arange per doc
            pos = np.concatenate([np.arange(n, dtype=np.int64) for n in lens[nz]])
            # stable sort by (doc, term); pos stays ascending within groups
            order = np.lexsort((pos, flat, doc_rep))
            doc_s, term_s, dl_s, pos_s = (
                doc_rep[order], flat[order], dl_rep[order], pos[order]
            )
            change = np.empty(len(doc_s), dtype=bool)
            change[0] = True
            change[1:] = (doc_s[1:] != doc_s[:-1]) | (term_s[1:] != term_s[:-1])
            starts = np.flatnonzero(change)
            counts = np.diff(np.append(starts, len(doc_s)))
            yield pd.DataFrame(
                {
                    "term": term_s[starts],
                    "doc_id": doc_s[starts],
                    "tf": counts.astype(np.int32),
                    "dl": dl_s[starts].astype(np.int32),
                    "positions": np.split(pos_s.astype(np.int32), starts[1:]),
                }
            )

    schema = TOKENS_SCHEMA_POS if positions else TOKENS_SCHEMA
    return docs_with_ids.select("doc_id", "text").mapInPandas(tok, schema=schema)


def with_extracted_text(docs: DataFrame) -> DataFrame:
    """Fill missing ``text`` from ``html`` via the pinned extractor (Arrow UDF).

    Only the null-text rows go through the UDF: Spark evaluates a Python
    UDF in its own ``ArrowEvalPython`` node over every row that reaches it,
    even inside a ``CASE WHEN``, so the rows that carry text take a branch
    of their own and never leave the JVM."""
    import pyspark.sql.types as T

    @F.pandas_udf(T.StringType())
    def extract_udf(html: pd.Series) -> pd.Series:
        return extract_text_series(html)

    if "html" in docs.columns and "text" in docs.columns:
        missing = docs.filter(F.col("text").isNull()).withColumn("text", extract_udf("html"))
        return docs.filter(F.col("text").isNotNull()).unionByName(missing)
    if "text" not in docs.columns:
        return docs.withColumn("text", extract_udf("html"))
    return docs


# ---------------------------------------------------------------------------
# Phase 4: vectorized segment encoding (runs inside mapInPandas)
# ---------------------------------------------------------------------------

def _varint_nbytes(v: np.ndarray) -> np.ndarray:
    """Byte width of each value's varint encoding (vectorized)."""
    v = v.astype(np.uint64)
    nb = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nb += tmp > 0
        tmp >>= np.uint64(7)
    return nb


def _binary_slices(buf: bytes, offsets: np.ndarray):
    """Arrow binary array whose value i is ``buf[offsets[i]:offsets[i + 1]]``
    (``offsets`` ascending from 0), sharing ``buf``."""
    import pyarrow as pa

    if offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError(f"{offsets[-1]} bytes of blocks exceed one binary array's 2 GiB")
    return pa.Array.from_buffers(pa.binary(), offsets.size - 1, [
        None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(buf)])


def encode_sorted_arrays(
    term_codes: np.ndarray,
    term_uniques: np.ndarray,
    sseg: np.ndarray,
    doc: np.ndarray,
    tf: np.ndarray,
    dl: np.ndarray,
    pid: np.ndarray | None,
    avgdl: float | np.ndarray,
    block_docs: int,
    pos_flat: np.ndarray | None = None,
    pos_offsets: np.ndarray | None = None,
) -> dict:
    """Encode a (term, sseg, doc_id)-sorted slab into block columns.

    Vectorized across ALL groups at once: group/block boundaries via
    dictionary codes + reduceat, varints encoded in one pass over every value
    in the slab, then sliced per block from byte-length cumsums.  No
    per-group Python loop — this is the hot path of the whole build.
    Term strings enter as (codes, uniques) so the 10^8-row slab never
    materializes python string objects (only the ~10^4 uniques do).

    Positional builds pass ``pos_flat`` (every row's occurrence offsets,
    concatenated in row order) + ``pos_offsets`` (n+1 prefix offsets into
    it); the kernel emits one extra ``positions`` varint blob per block
    (codec layout: deltas restarting absolute at each doc/row), sliced from
    the same one-pass varint encode discipline as the postings sections.

    ``avgdl`` may be a scalar (single-field index: one corpus-wide average)
    or a per-row array (multi-field index: each posting's field avgdl), so
    the baked ``max_tf_norm`` is the block max of EXACTLY the tf_norm that
    query-time scoring computes — tight and attained, which is what makes
    the WAND θ floor sound on compound multi-field queries.
    """
    n = doc.size
    if n == 0:
        return None
    grp_change = np.empty(n, dtype=bool)
    grp_change[0] = True
    grp_change[1:] = (term_codes[1:] != term_codes[:-1]) | (sseg[1:] != sseg[:-1])
    grp_start_of = np.maximum.accumulate(np.where(grp_change, np.arange(n), 0))
    idx_in_grp = np.arange(n) - grp_start_of
    # block boundaries: every block_docs postings within a group
    blk_change = grp_change | (idx_in_grp % block_docs == 0)
    blk_starts = np.flatnonzero(blk_change)
    blk_ends = np.empty_like(blk_starts)
    blk_ends[:-1] = blk_starts[1:]
    blk_ends[-1] = n
    block_id = (idx_in_grp[blk_starts] // block_docs).astype(np.int32)

    # delta within block
    gaps = np.empty_like(doc)
    gaps[1:] = doc[1:] - doc[:-1]
    gaps[blk_starts] = doc[blk_starts]

    # per-block BM25 tf-norm upper bound (idf applied at query time)
    tf_norm = tf / (tf + K1 * (1.0 - B + B * dl / avgdl))
    max_tf_norm = np.maximum.reduceat(tf_norm, blk_starts)

    # every block's blob is varint(gap bytes) varint(tf bytes) gaps tfs
    # dls: lay all blocks' values out in blob order and encode them in one
    # pass, so the blobs are consecutive slices of one buffer (no python
    # object per block; blocks can be as many as a tenth of the postings)
    cnt = blk_ends - blk_starts
    blk_of_row = np.repeat(np.arange(blk_starts.size), cnt)
    header_at = np.concatenate(([0], np.cumsum(2 + 3 * cnt)[:-1]))
    gap_at = np.arange(n) + (header_at + 2 - blk_starts)[blk_of_row]
    vals = np.empty(2 * cnt.size + 3 * n, dtype=np.int64)
    vals[header_at] = np.add.reduceat(_varint_nbytes(gaps), blk_starts)
    vals[header_at + 1] = np.add.reduceat(_varint_nbytes(tf), blk_starts)
    vals[gap_at] = gaps
    vals[gap_at + cnt[blk_of_row]] = tf
    vals[gap_at + 2 * cnt[blk_of_row]] = dl
    blob_at = np.concatenate(([0], np.cumsum(_varint_nbytes(vals))))[
        np.append(header_at, vals.size)]
    postings = _binary_slices(encode_varints(vals), blob_at)

    pos_out = {}
    if pos_flat is not None:
        # per-row delta restart: deltas[row_start] is absolute, the rest are
        # gaps — exactly codec.encode_position_lists, computed slab-wide
        row_starts_flat = pos_offsets[:-1][np.diff(pos_offsets) > 0]
        pdeltas = np.empty_like(pos_flat)
        if pos_flat.size:
            pdeltas[1:] = pos_flat[1:] - pos_flat[:-1]
            pdeltas[row_starts_flat] = pos_flat[row_starts_flat]
        pcum = np.concatenate(([0], np.cumsum(_varint_nbytes(pdeltas))))
        pos_out = {"positions": _binary_slices(
            encode_varints(pdeltas), pcum[pos_offsets[np.append(blk_starts, n)]])}
    term_out = (
        {"term": term_uniques.take(term_codes[blk_starts])}
        if term_uniques is not None
        else {"term_id": term_codes[blk_starts].astype(np.int64)}
    )
    pid_out = {"pid": pid[blk_starts].astype(np.int32)} if pid is not None else {}
    return {
        **pid_out,
        **term_out,
        "sseg": sseg[blk_starts].astype(np.int32),
        "block_id": block_id,
        "first_doc": doc[blk_starts],
        "last_doc": doc[blk_ends - 1],
        "doc_count": (blk_ends - blk_starts).astype(np.int32),
        "max_tf_norm": max_tf_norm,
        "nbytes": np.diff(blob_at),
        "postings": postings,
        **pos_out,
    }


def _segment_schema(id_mode: bool, positions: bool):
    """Arrow schema of the encoder's block rows.  In id mode (vocabulary
    above the broadcast budget) blocks carry the integer ``term_id`` in
    place of ``pid`` and ``term``; a post-encode join on the term dimension
    restores both (neither ships through the token shuffle).  Positional
    indexes add the per-block position blob as a SEPARATE column."""
    import pyarrow as pa

    key = [("term_id", pa.int64())] if id_mode else [("pid", pa.int32()), ("term", pa.string())]
    return pa.schema(key + [
        ("sseg", pa.int32()), ("block_id", pa.int32()), ("first_doc", pa.int64()),
        ("last_doc", pa.int64()), ("doc_count", pa.int32()), ("max_tf_norm", pa.float64()),
        ("nbytes", pa.int64()), ("postings", pa.binary()),
    ] + ([("positions", pa.binary())] if positions else []))


def make_arrow_encoder(
    avgdl: float, block_docs: int, range_docs: int, term_dict=None, packed=False,
    with_positions: bool = False,
    field_avgdl: tuple[np.ndarray, np.ndarray] | None = None,
):
    """mapInArrow kernel: Arrow batches in, encoded block batches out.

    ``term_dict`` (a broadcast of ``(terms_arr, pids_arr)`` indexed by the
    dense ``term_id``, or on the driver that tuple itself) maps ids back to
    strings and pids inside the kernel —
    every input column is fixed-width (zero-copy out of Arrow) and only the
    dictionary's uniques ever materialize python strings.  With
    ``term_dict=None`` (vocabulary above the broadcast budget) the kernel
    emits ``term_id`` only; string AND pid are attached afterwards by a join
    on the (distributed) term dimension.

    Shuffle-row diet (the encode phase is memory-bandwidth-bound, so every
    shuffled byte costs multi-core scaling):

    - ``sseg`` never ships: it is ``doc_id // range_docs`` — monotone in
      doc_id, so sorting by (term_id, doc_id) IS sorting by (term_id, sseg,
      doc_id) and the kernel recomputes it in one vectorized div;
    - ``packed=True``: ``tfdl = tf*4096 + dl`` in one int32 instead of two
      (exact whenever the corpus max doc length < 4096 — tf ≤ dl bounds tf);
    - ``doc_id`` arrives int32 when the corpus has < 2^31 docs (the caller
      chooses; widened back to int64 here).

    Together with dropping pid the shuffled row shrinks 28 -> 12 fixed
    bytes at sub-2^31-doc scale, 28 -> 20 at full web scale.

    ``field_avgdl`` (multi-field indexes only) is ``(tid_starts, avgdls)``:
    the sorted first term_id of each field's contiguous id interval and that
    field's avgdl.  The kernel maps every posting's term_id to its field
    avgdl with one vectorized searchsorted — O(rows · log #fields), no
    strings — so ``max_tf_norm`` bakes at the SAME avgdl query-time scoring
    uses for that field (tight + attained bounds; see encode_sorted_arrays).
    ``None`` keeps the scalar-avgdl bake (single-field indexes, and resumes
    of multi-field indexes built before per-field baking existed).
    """
    import pyarrow as pa

    id_mode = term_dict is None
    out_schema = _segment_schema(id_mode, with_positions)

    def encode_part(batches):
        blist = [b for b in batches if b.num_rows]
        if not blist:
            return
        tbl = pa.Table.from_batches(blist)
        if with_positions:
            # Spark ships array<int> as list<int32> (32-bit offsets); a
            # partition whose total position count exceeds 2^31 elements
            # would fail combine_chunks with an offset-capacity error.  Cast
            # to large_list (64-bit offsets) first so positional encode
            # partitions aren't capped by int32 list offsets.
            i = tbl.schema.get_field_index("positions")
            tbl = tbl.set_column(
                i,
                pa.field("positions", pa.large_list(pa.int32())),
                tbl.column("positions").cast(pa.large_list(pa.int32())),
            )
        tbl = tbl.combine_chunks()
        codes = tbl.column("term_id").to_numpy(zero_copy_only=False).astype(np.int64)
        if id_mode:
            terms_arr, pid_arr = None, None
        else:
            terms_arr, pids_arr = (
                term_dict if isinstance(term_dict, tuple) else term_dict.value)
            pid_arr = pids_arr[codes].astype(np.int64)
        if packed:
            tfdl = tbl.column("tfdl").to_numpy(zero_copy_only=False).astype(np.int64)
            tf_arr = tfdl >> 12
            dl_arr = tfdl & 4095
        else:
            tf_arr = tbl.column("tf").to_numpy(zero_copy_only=False).astype(np.int64)
            dl_arr = tbl.column("dl").to_numpy(zero_copy_only=False).astype(np.int64)
        doc_arr = tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
        if field_avgdl is not None:
            tid_starts, f_avgdls = field_avgdl
            row_avgdl = f_avgdls[
                np.searchsorted(tid_starts, codes, side="right") - 1
            ]
        else:
            row_avgdl = avgdl
        pos_flat = pos_offsets = None
        if with_positions:
            la = tbl.column("positions").chunk(0)
            off = la.offsets.to_numpy().astype(np.int64)
            vals = la.values.to_numpy(zero_copy_only=False).astype(np.int64)
            # normalize away any leading slice offset so row i's positions
            # are pos_flat[pos_offsets[i]:pos_offsets[i+1]]
            pos_flat = np.ascontiguousarray(vals[off[0] : off[-1]])
            pos_offsets = off - off[0]
        cols = encode_sorted_arrays(
            term_codes=codes,
            term_uniques=terms_arr,
            sseg=doc_arr // range_docs,
            doc=doc_arr,
            tf=tf_arr,
            dl=dl_arr,
            pid=pid_arr,
            avgdl=row_avgdl,
            block_docs=block_docs,
            pos_flat=pos_flat,
            pos_offsets=pos_offsets,
        )
        yield pa.record_batch(
            [pa.array(cols[f.name], f.type) for f in out_schema], schema=out_schema
        )

    return encode_part


# ---------------------------------------------------------------------------
# Phase 4b: the one segment writer (build waves, ingest generations, merges)
# ---------------------------------------------------------------------------

class _SegmentWriter:
    """Posting rows under a fixed geometry -> pid-partitioned segment blocks
    on disk, plus their manifest rows.

    ``build_index`` (once per call, then per wave), ``ingest_batch`` (per
    generation) and ``compact_index`` (per merge) all write through this
    one class; they differ only in where their posting rows come from
    (tokens or decoded blocks) and where the blocks land.  The geometry is
    the index's frozen layout: the term ``cuts`` (pid = count of cuts <
    term, the engine's ``searchsorted(cuts, term, "left")`` pruning rule),
    the doc grid ``range_docs``, ``block_docs``, and the ``avgdl`` (or
    per-field ``field_avgdl``) the block bounds bake at.

    Construction resolves the vocabulary once, from ``term_stats`` (a
    parquet table with one row per term).  Vocabularies within
    ``dict_budget`` (the same in-process-dimension pattern as the
    reference's STORE_WH_MAP dict, reference constants.py:17) ride a
    broadcast dictionary with dense lexicographic ids; above it NOTHING
    materializes the vocabulary in one place — a distributed
    (term, term_id, pid) dimension (``dim``, or one :func:`build_vocab`
    pass over ``term_stats`` with the frozen cuts) shuffle-joins ids onto
    the postings and a post-encode join of BLOCK rows (≈ postings /
    block_docs) restores term + pid.  Either way every column that shuffles
    is fixed-width (see :func:`make_arrow_encoder` for the row diet).
    Postings already on the driver take :func:`write_segments_local`.
    """

    def __init__(
        self, spark: SparkSession, term_stats: str, n_terms: int, cuts: list[str], *,
        n_partitions: int, range_docs: int, block_docs: int, avgdl: float,
        max_dl: int, max_doc_id: int, positions: bool, dict_budget: int,
        shuffle_n: int | None = None, field_avgdl=None, dim: DataFrame | None = None,
    ):
        self.spark, self.range_docs, self.positions = spark, int(range_docs), positions
        self.shuffle_n = shuffle_n or int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.id_mode = n_terms > dict_budget
        self._owned = None
        if self.id_mode:
            dict_b = None
            if dim is None:
                _, _, dim, ranked_t, _ = build_vocab(spark, term_stats, n_partitions, cuts=cuts)
                dim = self._owned = dim.persist()
                dim.count()
                ranked_t.unpersist()
            self._term_ids = dim
        else:
            # the schema is given, so the read plans without a footer job
            vocab = (
                spark.read.schema("term string").parquet(term_stats).toPandas()
                .sort_values("term").reset_index(drop=True)
            )
            terms_arr = vocab["term"].to_numpy(dtype=object)
            pids_arr = _term_pids(cuts, terms_arr)
            # int32 ids: tighter shuffle rows
            vocab["term_id"] = np.arange(len(vocab), dtype=np.int32)
            vocab["pid"] = pids_arr
            self._term_ids = F.broadcast(spark.createDataFrame(vocab))
            dict_b = spark.sparkContext.broadcast((terms_arr, pids_arr))
        # tf/dl pack into one int32 when the max doc length allows exact
        # unpacking; doc_id narrows to int32 below 2^31
        self.packed = 0 < max_dl < 4096
        self.doc32 = max_doc_id < (1 << 31)
        self.encoder = make_arrow_encoder(
            avgdl=avgdl, block_docs=block_docs, range_docs=self.range_docs,
            term_dict=dict_b, packed=self.packed, with_positions=positions,
            field_avgdl=field_avgdl,
        )

    def write(self, postings: DataFrame, seg_dir: str, pids: list[int] | None = None,
              file_per_pid: bool = False) -> None:
        """Encode ``postings`` (term, doc_id, tf, dl[, positions]) into
        ``seg_dir``/pid=P — only the build partitions ``pids`` when given
        (one build wave; other partitions already on disk stay).  Every
        encode task writes a file per pid; ``file_per_pid`` (a merge, whose
        point is fewer files) shuffles the encoded blocks, about the index's
        bytes, to one writer task per pid instead, so the encode keeps its
        width."""
        from pyspark.sql.pandas.types import from_arrow_schema

        keyed = postings.join(self._term_ids, "term")
        if pids is not None:
            keyed = keyed.filter(F.col("pid").isin(pids))
        doc_col = F.col("doc_id").cast("int").alias("doc_id") if self.doc32 else F.col("doc_id")
        vals = ([(F.col("tf") * 4096 + F.col("dl")).cast("int").alias("tfdl")]
                if self.packed else [F.col("tf"), F.col("dl")])
        if self.positions:
            vals.append(F.col("positions"))
        schema = _segment_schema(self.id_mode, self.positions)
        blocks = (
            keyed.select(F.col("term_id"), doc_col, *vals)
            .repartition(self.shuffle_n, F.col("term_id"),
                         F.expr(f"CAST(doc_id DIV {self.range_docs} AS INT)"))
            .sortWithinPartitions("term_id", "doc_id")  # sseg monotone in doc_id
            .mapInArrow(self.encoder, schema=from_arrow_schema(schema))
        )
        if self.id_mode:
            blocks = blocks.join(self._term_ids, "term_id").select(
                *_segment_schema(False, self.positions).names
            )
        if file_per_pid:
            blocks = blocks.repartition("pid")
        w = blocks.write.mode("overwrite")
        if pids is not None:
            w = w.option("partitionOverwriteMode", "dynamic")
        w.partitionBy("pid").parquet(seg_dir)

    def lineage(
        self, seg_dir: str, run_id: str, segment: str, input_split: str,
        pids: list[int] | None = None,
    ) -> list[dict]:
        """Manifest rows from what actually landed in ``seg_dir`` (see
        :func:`lineage_rows`)."""
        seg = self.spark.read.schema(
            "pid int, term string, doc_count int, nbytes long").parquet(seg_dir)
        if pids is not None:
            seg = seg.filter(F.col("pid").isin(pids))
        landed = {
            int(r["pid"]): r
            for r in seg.groupBy("pid").agg(
                F.min("term").alias("term_lo"),
                F.max("term").alias("term_hi"),
                F.sum("doc_count").alias("postings_count"),
                F.sum("nbytes").alias("bytes"),
            ).collect()
        }
        return lineage_rows(landed, run_id, segment, input_split, pids)

    def close(self) -> None:
        if self._owned is not None:
            self._owned.unpersist()


def _term_pids(cuts: list[str], terms: np.ndarray) -> np.ndarray:
    """pid of each term: the count of cuts < term."""
    return np.searchsorted(np.array(cuts, dtype=object), terms, side="left").astype(np.int32)


def lineage_rows(
    landed: dict[int, dict], run_id: str, segment: str, input_split: str,
    pids: list[int] | None = None,
) -> list[dict]:
    """Manifest rows from the per-pid aggregates (term_lo, term_hi,
    postings_count, bytes) of what landed: one per pid
    (``segment``-p<pid>), and with ``pids`` an empty row for each of them
    that produced no blocks (it still counts as done)."""
    empty = {"term_lo": "", "term_hi": "", "postings_count": 0, "bytes": 0}
    return [
        {
            "run_id": run_id,
            "partition_id": p,
            "segment_id": f"{segment}-p{p}",
            "input_split": input_split,
            **{k: (landed[p][k] if p in landed else v) for k, v in empty.items()},
            "status": "done",
        }
        for p in list(landed) + [p for p in pids or () if p not in landed]
    ]


def write_segments_local(
    spark: SparkSession, postings, seg_dir: str, terms: np.ndarray, cuts: list[str], *,
    range_docs: int, block_docs: int, avgdl: float, positions: bool,
    pids: list[int] | None = None, field_avgdl=None,
) -> dict[int, dict]:
    """Driver form of :meth:`_SegmentWriter.write` for postings already on
    the driver: an Arrow table of term, doc_id, tf, dl[, positions]
    (``term`` may be dictionary-encoded) over the sorted vocabulary
    ``terms``.  Rows sort by (term_id, doc_id) once; every pid's slab is
    then a contiguous run of that order, sorted as a shuffle partition is,
    and goes through the same encoder kernel one slab at a time (a slab's
    temporaries, not the whole batch's, bound the driver's peak).  With
    ``pids`` (one build wave) only those pids are encoded, and they replace
    their own partitions only.  The blocks land with one Spark write,
    partitioned by pid as the writer lands them.  Returns the per-pid
    aggregates :func:`lineage_rows` takes, so nothing is re-read."""
    import pyarrow as pa
    import pyarrow.compute as pc

    term_pid = _term_pids(cuts, terms)
    encoder = make_arrow_encoder(
        avgdl=avgdl, block_docs=block_docs, range_docs=int(range_docs),
        term_dict=(terms, term_pid), with_positions=positions, field_avgdl=field_avgdl,
    )
    term = postings.column("term").combine_chunks()
    if not pa.types.is_dictionary(term.type):
        term = term.dictionary_encode()
    # dense term ids by an Arrow hash lookup: no string becomes a
    # python object here
    tid = pc.index_in(term.dictionary, value_set=pa.array(terms, pa.string())).to_numpy()[
        term.indices.to_numpy()]
    doc = postings.column("doc_id").to_numpy()
    order = np.lexsort((doc, tid))
    # pids rise with term_id, so pid p's rows are order[bound[p]:bound[p + 1]]
    n_pids = max([len(cuts), *(pids or ())]) + 1
    bound = np.concatenate(([0], np.cumsum(np.bincount(term_pid[tid], minlength=n_pids))))
    rest = postings.select(["tf", "dl"] + (["positions"] if positions else []))
    blocks, landed = [], {}
    for p in range(n_pids) if pids is None else pids:
        rows = order[bound[p]:bound[p + 1]]
        if not rows.size:
            continue
        slab = rest.take(rows)
        batch = pa.RecordBatch.from_arrays(
            [pa.array(tid[rows]), pa.array(doc[rows])]
            + [c.combine_chunks() for c in slab.columns],
            names=["term_id", "doc_id"] + slab.column_names,
        )
        out = next(encoder(iter([batch])))
        blocks.append(out)
        landed[p] = {
            "term_lo": out.column("term")[0].as_py(),
            "term_hi": out.column("term")[-1].as_py(),
            "postings_count": pc.sum(out.column("doc_count")).as_py(),
            "bytes": pc.sum(out.column("nbytes")).as_py(),
        }
    if blocks or pids is None:
        w = spark.createDataFrame(
            pa.Table.from_batches(blocks, _segment_schema(False, positions))
        ).write.mode("overwrite")
        if pids is not None:
            w = w.option("partitionOverwriteMode", "dynamic")
        w.partitionBy("pid").parquet(seg_dir)
    return landed


def corpus_ids(docs: DataFrame, id_col: str) -> DataFrame:
    """``docs`` keyed by the corpus' own unique ids: ``doc_id`` is
    ``id_col`` as a long, and a corpus without urls gets the id's string as
    its ``url``."""
    out = docs.withColumn("doc_id", F.col(id_col).cast("long"))
    if "url" not in out.columns:
        out = out.withColumn("url", F.col("doc_id").cast("string"))
    return out


def vocab_cuts(terms: np.ndarray, df: np.ndarray, n_partitions: int) -> list[str]:
    """:func:`build_vocab`'s postings-weighted term cuts, from the sorted
    vocabulary and its dfs on the driver: cut k is the first term whose
    cumulative df reaches ``k * (Σ df // n_partitions)``, for the k whose
    target the vocabulary reaches (so a mega-term repeats a cut, and
    ``n_partitions > Σ df`` gives fewer cuts, exactly as there)."""
    if not len(terms):
        return []
    g = np.cumsum(df, dtype=np.int64)
    per_part = max(1, int(g[-1]) // n_partitions)
    k = per_part * np.arange(1, n_partitions, dtype=np.int64)
    return [str(t) for t in terms[np.searchsorted(g, k[k <= g[-1]], "left")]]


def write_arrow(spark: SparkSession, columns: dict, path: str, schema=None) -> None:
    """One Spark write of driver-side Arrow columns to ``path``, through
    Spark's committer (``_SUCCESS`` marker included).  ``schema`` pins Spark
    types that Arrow cannot tell apart (a naive Arrow timestamp is either
    TIMESTAMP or TIMESTAMP_NTZ)."""
    import pyarrow as pa

    spark.createDataFrame(pa.table(columns), schema=schema).write.mode(
        "overwrite").parquet(path)


def stage_on_driver(spark, docs, head, with_ids, prior_n, dv_cols, tokens_of,
                    doc_stats_path, term_stats_path, mark, fields: bool = False):
    """The driver placement's staging, shared by ``build_index`` and
    ``ingest_batch``: ids from the collected keys ``head`` (url plus the
    doc values; urls are ranked here, after ``prior_n`` earlier documents)
    or the corpus' own ``with_ids``, one collect of the token rows (never
    the text), numpy stats, one Arrow write each for doc_stats and
    term_stats.  ``fields`` (a multi-field build) adds per-field doc
    counts, avgdls and first term ids.  Returns (token table with a
    dictionary-encoded ``term``, the sorted vocabulary, its dfs, the batch
    aggregates)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    if with_ids is None:
        # the dense lexicographic url rank assign_doc_ids computes: Arrow
        # sorts strings by their UTF-8 bytes, which is Spark's string order
        head = head.sort_by("url")
        head = head.append_column(
            "doc_id", pa.array(prior_n + np.arange(head.num_rows), pa.int64()))
        ids = spark.createDataFrame(head.select(["url", "doc_id"]))
        with_ids = docs.join(F.broadcast(ids), "url")
    mark("ids")
    tokens = tokens_of(with_ids).toArrow()
    mark("tokenize")

    # the chunks share one dictionary: only their indices concatenate
    term = tokens.column("term").dictionary_encode().combine_chunks()
    tokens = tokens.set_column(tokens.schema.get_field_index("term"), "term", term)
    codes = term.indices.to_numpy()
    by_term = pc.array_sort_indices(term.dictionary).to_numpy()
    vocab_arr = term.dictionary.take(by_term)
    vocab = vocab_arr.to_numpy(zero_copy_only=False)
    n_terms = len(vocab)
    ids = head.column("doc_id").to_numpy()
    by_id = np.argsort(ids, kind="stable")
    row_doc = by_id[np.searchsorted(ids[by_id], tokens.column("doc_id").to_numpy())]
    if fields:
        # a multi-field row's dl is its field's length: one (doc, field)
        # grid of lengths gives the doc's dl (their sum) and each field's
        # doc count and avgdl; field keys are contiguous in the sorted
        # vocabulary, so a field's first term id is where its prefix starts
        prefix = np.array([t.split(FIELD_SEP, 1)[0] for t in vocab], dtype=object)
        tid_lo = np.flatnonzero(np.r_[True, prefix[1:] != prefix[:-1]])
        rank = np.empty(n_terms, dtype=np.int64)
        rank[by_term] = np.arange(n_terms)
        row_field = np.searchsorted(tid_lo, rank[codes], side="right") - 1
        per_field = np.zeros((head.num_rows, tid_lo.size), dtype=np.int64)
        per_field[row_doc, row_field] = tokens.column("dl").to_numpy()
        dl = per_field.sum(axis=1).astype(np.int32)
        doc_count, sum_dl = (per_field > 0).sum(axis=0), per_field.sum(axis=0)
        field_stats = {
            str(prefix[lo]): {"doc_count": int(n), "avgdl": float(s) / int(n), "tid_lo": int(lo)}
            for lo, n, s in zip(tid_lo, doc_count, sum_dl)
        }
    else:
        dl = np.zeros(head.num_rows, dtype=np.int32)
        # every token row of a doc carries that doc's length
        dl[row_doc] = tokens.column("dl").to_numpy()
    write_arrow(spark, {"doc_id": head.column("doc_id"), "url": head.column("url"),
                        "dl": pa.array(dl), **{c: head.column(c) for c in dv_cols}},
                doc_stats_path, schema=T.StructType(
                    [T.StructField("doc_id", T.LongType()), T.StructField("url", T.StringType()),
                     T.StructField("dl", T.IntegerType())] + [docs.schema[c] for c in dv_cols]))
    mark("doc_stats")

    df = np.bincount(codes, minlength=n_terms)[by_term]
    cf = np.bincount(codes, weights=tokens.column("tf").to_numpy(), minlength=n_terms)
    write_arrow(spark, {"term": vocab_arr, "df": pa.array(df, pa.int64()),
                        "cf": pa.array(cf[by_term].astype(np.int64))}, term_stats_path)
    mark("term_stats")
    batch = {"n_docs": head.num_rows, "sum_dl": int(dl.sum()), "max_dl": int(dl.max()),
             "max_doc_id": int(ids.max()), "n_terms": n_terms}
    if fields:
        batch["fields"] = field_stats
    return tokens, vocab, df, batch


# ---------------------------------------------------------------------------
# The build driver
# ---------------------------------------------------------------------------

def build_index(
    spark: SparkSession,
    corpus_path: str,
    index_dir: str,
    cfg: BuildConfig | None = None,
    run_id: str = "run-0",
    fail_after_wave: int | None = None,  # test hook for kill/resume
    id_col: str | None = None,  # pre-assigned unique long doc ids (skips rank)
) -> dict:
    """Build (or resume) the index for ``corpus_path`` under ``index_dir``.

    A corpus of at most ``SMALL_BATCH_DOCS`` documents is staged on the
    driver, a larger one by the distributed plan (module docstring); both
    write the same tables.  A resume keeps the placement the committed
    ``n_docs`` implies."""
    import time as _time

    phase_t: dict[str, float] = {}
    _t0 = _time.time()

    def _mark(name):
        nonlocal _t0
        now = _time.time()
        phase_t[name] = round(phase_t.get(name, 0.0) + now - _t0, 2)
        _t0 = now

    cfg = cfg or BuildConfig()
    cat = IndexCatalog(index_dir)
    docs = spark.read.parquet(corpus_path)

    done = cat.completed_partitions()
    phase1_done = -1 in done and cat.has_corpus_stats()
    # positional layout and field layout are committed index properties: a
    # resume honors what phase 1 recorded, not the (possibly different) cfg
    # of the resuming run
    use_pos = bool(cfg.positions)
    field_cols = tuple(cfg.field_cols) if cfg.field_cols else None
    dv_cols = tuple(cfg.docvalues_cols or ())
    if phase1_done:
        _committed = cat.read_corpus_stats()
        use_pos = bool(_committed.get("with_positions", False))
        field_cols = tuple(_committed["field_cols"]) if _committed.get("field_cols") else None
        dv_cols = tuple(_committed.get("docvalues_cols") or ())
    tokens_schema = TOKENS_SCHEMA_POS if use_pos else TOKENS_SCHEMA
    # the corpus' own ids; without id_col each placement ranks the urls
    with_ids = corpus_ids(docs, id_col) if id_col is not None else None

    # multi-field corpora carry their named field columns directly; the
    # html->text extraction contract only applies to the single-field build.
    # JVM tokenize assumes NFC input; the analyzer is resolved once per
    # build (on first use: resume paths that never re-tokenize never pay
    # the sample collect)
    tokenizer: list[str] = []

    def tokens_of(df):
        if not field_cols:
            df = with_extracted_text(df)
        if not tokenizer:
            tokenizer.append(_resolve_tokenizer(
                docs if field_cols else with_extracted_text(docs), cfg.tokenizer, field_cols))
        if tokenizer[0] == "pandas":
            return tokens_from_docs_pandas(df, positions=use_pos)
        return tokens_from_docs(df, positions=use_pos, fields=field_cols)

    tokens = None
    if phase1_done:
        on_driver = int(_committed["n_docs"]) <= SMALL_BATCH_DOCS
    else:
        missing = [c for c in dv_cols if c not in docs.columns]
        if missing:
            raise ValueError(
                f"docvalues_cols not in the corpus: {missing}; "
                f"corpus columns: {sorted(docs.columns)}"
            )
        # one job picks the placement: the keys (and doc values) of up to
        # SMALL_BATCH_DOCS + 1 documents, on the driver the ids' input
        head = (with_ids.select("doc_id", "url", *dv_cols) if with_ids is not None
                else docs.select("url", *dv_cols)).limit(SMALL_BATCH_DOCS + 1).toArrow()
        if head.num_rows == 0:
            raise ValueError(f"corpus {corpus_path} holds no documents")
        on_driver = head.num_rows <= SMALL_BATCH_DOCS

    def stage_mark(name):
        # the stager's ids and tokenize phases are the build's plan_phase1
        _mark("plan_phase1" if name in ("ids", "tokenize") else name)

    if not phase1_done and on_driver:
        tokens, vocab, df, batch = stage_on_driver(
            spark, docs, head, with_ids, 0, dv_cols, tokens_of, cat.doc_stats,
            cat.term_stats, stage_mark, fields=bool(field_cols))
        cuts = vocab_cuts(vocab, df, cfg.n_partitions)
        _mark("term_dim")
        n_docs, total_dl, n_terms = batch["n_docs"], batch["sum_dl"], batch["n_terms"]
        max_dl, max_doc_id = batch["max_dl"], batch["max_doc_id"]
        field_stats = batch.get("fields") or {}
        total_postings = int(df.sum())
    elif not phase1_done:
        if with_ids is None:
            doc_ids, ranked, n_docs_pre = assign_doc_ids(docs, n_parts=cfg.n_partitions)
            small = n_docs_pre <= _BCAST_DOCS_MAX
            with_ids = docs.join(F.broadcast(doc_ids) if small else doc_ids, "url")
        else:
            ranked = None
        # Materialize the token stream as compressed columnar parquet rather
        # than executor-memory cache: at 10^8+ rows an in-memory cache causes
        # GC pressure that *worsens* with core count (measured: doc_stats
        # slower at 32 cores than 8), while parquet gives column-pruned
        # re-reads for the stats passes and survives for resume.
        tokens_of(with_ids).write.mode("overwrite").parquet(cat.tokens_tmp)
        tokens = spark.read.schema(tokens_schema).parquet(cat.tokens_tmp)

        # corpus + term stats in one pass over tokens; url kept so results can
        # hydrate and so resume reuses the committed doc_id assignment
        if field_cols:
            # one row per (doc, field) -> per-doc dl = Σ field lengths, and
            # per-field corpus stats (doc_count, avgdl) in the same pass
            per_fd = tokens.groupBy(
                "doc_id", F.substring_index("term", FIELD_SEP, 1).alias("field")
            ).agg(F.max("dl").alias("dl"))
            dl_df = per_fd.groupBy("doc_id").agg(F.sum("dl").alias("dl"))
        else:
            dl_df = tokens.groupBy("doc_id").agg(F.max("dl").alias("dl"))
        # the doc-values sidecar rides the per-doc attribute columns on the
        # doc_stats parquet (column-pruned away by every existing reader;
        # predicate-pushed by the engine's range/equals filter scan)
        doc_stats = with_ids.select("doc_id", "url", *dv_cols).join(dl_df, "doc_id", "left").select(
            "doc_id", "url", F.coalesce("dl", F.lit(0)).cast("int").alias("dl"), *dv_cols)
        _mark("plan_phase1")
        doc_stats.write.mode("overwrite").parquet(cat.doc_stats)
        _mark("doc_stats")
        agg = spark.read.schema("doc_id long, dl int").parquet(cat.doc_stats).agg(
            F.count("*").alias("n_docs"),
            F.sum("dl").alias("total_dl"),
            F.max("dl").alias("max_dl"),
            F.max("doc_id").alias("max_doc_id"),
        ).collect()[0]
        n_docs, total_dl = agg["n_docs"], agg["total_dl"]
        max_dl = int(agg["max_dl"] or 0)
        # ranked ids are dense (n_docs - 1), but id_col ids can be anything
        max_doc_id = int(agg["max_doc_id"] or 0)
        field_stats: dict[str, dict] = {}
        if field_cols:
            frows = per_fd.groupBy("field").agg(
                F.count("*").alias("doc_count"), F.sum("dl").alias("sum_dl")
            ).collect()
            field_stats = {
                r["field"]: {
                    "doc_count": int(r["doc_count"]),
                    "avgdl": float(r["sum_dl"]) / int(r["doc_count"]),
                }
                for r in frows
            }

        term_stats = tokens.groupBy("term").agg(
            F.count("*").alias("df"), F.sum("tf").alias("cf")
        )
        term_stats.repartitionByRange(max(4, cfg.n_partitions // 4), "term").sortWithinPartitions(
            "term"
        ).write.mode("overwrite").parquet(cat.term_stats)
        _mark("term_stats")

        # postings-weighted term-range boundaries + (term, term_id, pid)
        # dimension — one distributed pass; the driver only ever sees the
        # ≤ n_partitions-1 boundary terms and per-partition counts
        cuts, total_postings, dim, ranked_t, n_terms = build_vocab(
            spark, cat.term_stats, cfg.n_partitions
        )
        dim.write.mode("overwrite").parquet(cat.term_dim)
        ranked_t.unpersist()
        _mark("term_dim")
        if field_cols:
            # per-field dense-term-id ranges: term_id is the lexicographic
            # rank and every posting key is "<field>\x1f<term>", so each
            # field's terms occupy one contiguous id interval.  The encoder
            # maps term_id -> field avgdl with one searchsorted over these
            # starts (works in BOTH dict and id mode — no strings needed
            # kernel-side).  #fields rows, asserted contiguous + exhaustive.
            frng = (
                spark.read.schema(_TERM_DIM_SCHEMA).parquet(cat.term_dim)
                .groupBy(F.substring_index("term", FIELD_SEP, 1).alias("field"))
                .agg(
                    F.min("term_id").alias("lo"),
                    F.max("term_id").alias("hi"),
                    F.count("*").alias("cnt"),
                )
                .collect()
            )
            if {r["field"] for r in frng} != set(field_stats):
                raise AssertionError(
                    f"term_dim fields {sorted(r['field'] for r in frng)} != "
                    f"corpus fields {sorted(field_stats)}"
                )
            for r in frng:
                if int(r["hi"]) - int(r["lo"]) + 1 != int(r["cnt"]):
                    raise AssertionError(
                        f"field {r['field']!r} term_ids not contiguous: "
                        f"[{r['lo']}, {r['hi']}] holds {r['cnt']} terms"
                    )
                field_stats[r["field"]]["tid_lo"] = int(r["lo"])
        if ranked is not None:
            ranked.unpersist()

    if not phase1_done:
        avgdl = total_dl / n_docs
        if field_cols:
            # the scalar stat keeps the old "largest per-field avgdl"
            # convention (any reader of stats["avgdl"] sees a value at which
            # every baked bound would be sound), but the blocks themselves
            # are baked per-field below (per_field_mtn): each posting's
            # tf_norm is computed at ITS field's avgdl — the exact quantity
            # query-time scoring uses — so block bounds are tight AND
            # attained, which keeps the WAND θ floor sound on compound
            # queries instead of merely keeping the upper bound sound.
            avgdl = max(s["avgdl"] for s in field_stats.values())
        range_docs = max(cfg.min_range_docs, -(-n_docs // cfg.target_ranges))
        cat.write_corpus_stats(
            {
                "n_docs": int(n_docs),
                "avgdl": float(avgdl),
                "range_docs": int(range_docs),
                "block_docs": int(cfg.block_docs),
                "term_cuts": cuts,
                "n_partitions": cfg.n_partitions,
                "n_terms": int(n_terms),
                "max_dl": max_dl,
                "max_doc_id": max_doc_id,
                "corpus_path": corpus_path,
                "with_positions": bool(use_pos),
                **({"docvalues_cols": list(dv_cols)} if dv_cols else {}),
                **(
                    {
                        "field_cols": list(field_cols),
                        "field_sep": FIELD_SEP,
                        "fields": field_stats,
                        # block bounds bake at each posting's OWN field avgdl
                        # (tight + attained) — the engine may use the per-
                        # range achievable θ floor on compound queries.
                        # Absent on pre-r5 multi-field indexes (scalar bake).
                        "per_field_mtn": True,
                    }
                    if field_cols
                    else {}
                ),
            }
        )
        cat.append_manifest(
            [
                {
                    "run_id": run_id,
                    "partition_id": -1,
                    "segment_id": "phase1",
                    "input_split": corpus_path,
                    "term_lo": "",
                    "term_hi": "",
                    "postings_count": int(total_postings),
                    "bytes": 0,
                    "status": "done",
                }
            ]
        )

    stats = cat.read_corpus_stats()
    avgdl, range_docs, block_docs = stats["avgdl"], stats["range_docs"], stats["block_docs"]
    cuts = stats["term_cuts"]
    n_partitions = stats["n_partitions"]

    def _result(built: int) -> dict:
        m = cat.read_manifest()
        _mark("manifest")
        return {
            "phase_sec": phase_t,
            "n_docs": stats["n_docs"],
            "avgdl": avgdl,
            "partitions_built": built,
            "partitions_skipped": len(done - {-1}),
            "placement": "driver" if on_driver else "distributed",
            "manifest_rows": m.num_rows,
            "total_bytes": sum(
                b
                for b, s in zip(m.column("bytes").to_pylist(), m.column("status").to_pylist())
                if s == "done"
            ),
        }

    # wave plan first: a fully-built index (no pending partitions) must not
    # pay a token-stream reconstruction just to discover there is no work
    pending = [p for p in range(n_partitions) if p not in done]
    if not pending:
        return _result(0)

    # multi-field per-field bound bake: (sorted field tid starts, avgdls)
    # for the encoder's term_id -> field-avgdl searchsorted.  Requires the
    # tid_lo ranges written by THIS builder version; a resume of an older
    # multi-field index falls back to the scalar bake its existing segments
    # used (stats["avgdl"] = max field avgdl, sound at bound_scale 1.0).
    field_avgdl = None
    fstats = stats.get("fields") or {}
    if fstats and stats.get("per_field_mtn") and all(
        "tid_lo" in v for v in fstats.values()
    ):
        pairs = sorted(
            (int(v["tid_lo"]), float(v["avgdl"])) for v in fstats.values()
        )
        if pairs[0][0] != 0:
            raise AssertionError(
                f"field term_id intervals do not start at 0: {pairs}"
            )
        field_avgdl = (
            np.array([p[0] for p in pairs], dtype=np.int64),
            np.array([p[1] for p in pairs], dtype=np.float64),
        )

    if tokens is None:
        # resume path: rebuild the token stream deterministically, joining
        # the COMMITTED doc_id assignment from doc_stats so segment contents
        # are bit-identical to the interrupted run (the distributed
        # placement first reuses a surviving materialized stream)
        if not on_driver and os.path.exists(os.path.join(cat.tokens_tmp, "_SUCCESS")):
            cand = spark.read.parquet(cat.tokens_tmp)
            # a surviving stream from before the positional layout cannot
            # serve a positional resume; fall through to the rebuild
            if not use_pos or "positions" in cand.columns:
                tokens = cand
        if tokens is None:
            if with_ids is None:
                committed = spark.read.parquet(cat.doc_stats).select("url", "doc_id")
                small = stats["n_docs"] <= _BCAST_DOCS_MAX
                with_ids = docs.join(F.broadcast(committed) if small else committed, "url")
            tokens = tokens_of(with_ids)
            if on_driver:
                import pyarrow.compute as pc

                tokens = tokens.toArrow()
                terms = pc.unique(tokens.column("term"))
                vocab = terms.take(pc.array_sort_indices(terms)).to_numpy(zero_copy_only=False)
            else:
                tokens.write.mode("overwrite").parquet(cat.tokens_tmp)
                tokens = spark.read.schema(tokens_schema).parquet(cat.tokens_tmp)

    if on_driver:
        def write_wave(w: int, pids: list[int], split: str) -> list[dict]:
            landed = write_segments_local(
                spark, tokens, cat.segments, vocab, cuts, range_docs=range_docs,
                block_docs=block_docs, avgdl=avgdl, positions=use_pos, pids=pids,
                field_avgdl=field_avgdl)
            _mark(f"wave{w}_segments")
            return lineage_rows(landed, run_id, run_id, split, pids=pids)
        close = None
    else:
        n_terms = int(stats.get("n_terms", -1))
        if n_terms < 0:
            n_terms = spark.read.parquet(cat.term_stats).count()
        # the committed term dimension serves the id-mode joins; a resume
        # that lost it rebuilds it from the COMMITTED cuts, so pids match
        # the already-written segments
        has_dim = os.path.exists(os.path.join(cat.term_dim, "_SUCCESS"))
        writer = _SegmentWriter(
            spark, cat.term_stats, n_terms, cuts, n_partitions=n_partitions,
            range_docs=range_docs, block_docs=block_docs, avgdl=avgdl,
            # an index whose stats predate max_doc_id resumes with int64 ids
            max_dl=int(stats.get("max_dl", 1 << 30)),
            max_doc_id=int(stats.get("max_doc_id", 1 << 31)),
            positions=use_pos, dict_budget=cfg.dict_budget,
            shuffle_n=cfg.shuffle_partitions, field_avgdl=field_avgdl,
            dim=spark.read.schema(_TERM_DIM_SCHEMA).parquet(cat.term_dim) if has_dim else None,
        )

        def write_wave(w: int, pids: list[int], split: str) -> list[dict]:
            writer.write(tokens, cat.segments, pids=pids)
            _mark(f"wave{w}_segments")
            return writer.lineage(cat.segments, run_id, run_id, split, pids=pids)
        close = writer.close

    # wave loop: commit manifest rows per wave; resume skips done partitions
    wave_size = max(1, -(-n_partitions // cfg.waves))
    waves = [pending[i : i + wave_size] for i in range(0, len(pending), wave_size)]
    try:
        for w, wave_pids in enumerate(waves):
            cat.append_manifest(write_wave(w, wave_pids, f"{corpus_path}#wave{w}"))
            if fail_after_wave is not None and w + 1 >= fail_after_wave:
                raise RuntimeError(f"injected failure after wave {w}")
    finally:
        if close is not None:
            close()

    import shutil

    shutil.rmtree(cat.tokens_tmp, ignore_errors=True)
    return _result(len(pending))
