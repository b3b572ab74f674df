"""Streaming incremental index ingestion — Structured Streaming micro-batches
appended to a growing BM25 index as immutable *generations*.

The reference's ingest story is a batch reload plus Atlas's own incremental
sync (reference lamda/etl scripts + settings.py Atlas delegation); Lucene —
the engine Atlas delegates to — grows an index as immutable segment
generations merged at read time.  This module is that design on Spark:

- ``readStream`` over a document directory; every micro-batch becomes one
  **generation**: ``segments/gen=E/pid=P/``, ``doc_stats/gen=E/``,
  ``term_stats/gen=E/`` (per-term df DELTAS), ``gen_stats/gen=E/`` (one row
  of batch-level stats).  The query engine reads the union: partition
  discovery merges segment generations, term stats aggregate by term, and
  ``corpus_stats.json`` carries cumulative N/avgdl.
- **Exactly-once on at-least-once replays**: every per-generation artifact
  is written with ``mode("overwrite")`` under a deterministic epoch-named
  path, and the LAST artifact written (``gen_stats/gen=E``) doubles as the
  commit marker — a replayed ``foreachBatch`` epoch that finds it returns
  immediately; a replay after a partial crash deterministically rewrites
  the same bytes.  (The same write-then-rename discipline as the batch
  builder's manifest, reference-free.)
- **Global grid + partition map are frozen at generation 0** (``range_docs``,
  ``block_docs``, ``term_cuts``, ``n_partitions``): every generation buckets
  postings on the SAME doc-id grid and the same term->pid rule
  (count of cuts < term == the engine's ``searchsorted(cuts, t, "left")``),
  so cross-generation WAND range bounds stay summable and term->pid pruning
  stays exact.  At cluster scale set ``expected_docs`` so the grid is sized
  for the corpus the stream will become, not the first batch.  Blocks are
  encoded by the batch builder's own segment writer
  (``builder._SegmentWriter``: vocabulary policy, shuffle, encode, lineage),
  so a single-generation ingest writes the segment table a build of the
  same batch writes, byte for byte.
- **BM25 exactness under growth**: scores decode tf+dl from postings and
  apply the CURRENT cumulative avgdl/N/df at query time, so every exact
  path (driver, sort, grouped) returns precisely what a full rebuild over
  the union corpus returns.  The one stats-sensitive *metadata* field —
  per-block ``max_tf_norm``, baked with the avgdl known at encode time — is
  corrected by ``wand_bound_scale = max_g(avgdl_now / avgdl_build_g, 1)``:
  for avgdl1 > avgdl0, ``tf_norm(avgdl1) = tf/(tf+c0+x*avgdl0/avgdl1)
  <= tf_norm(avgdl0) * avgdl1/avgdl0``, so scaled bounds stay sound upper
  bounds and WAND results stay bit-identical to the sort baseline (pinned
  by test).  The scale only loosens pruning as avgdl drifts; a periodic
  re-encode (Lucene's merge) resets it.

Placement: a small generation is staged on the driver, the way Lucene
flushes a small in-memory segment without a distributed plan.  The rule is
the batch's own size: a batch of at most ``builder.SMALL_BATCH_DOCS``
documents (the bound ``build_index`` places by too) takes the driver
placement, a larger one the distributed plan.  Choosing
costs no extra job: the one job that collects the keys (url or ``id_col``,
plus the doc values) of up to ``SMALL_BATCH_DOCS + 1`` documents is also
the emptiness check, and on the driver placement the keys are the doc-id
input.

- **Driver** (8 Spark jobs for a generation after the first, 300 pages on
  4 cores): urls are ranked on the driver (Arrow sorts strings by UTF-8
  bytes, Spark's string order, so the ids are ``assign_doc_ids``'s); the
  same analyzer tokenizes ``docs ⋈ broadcast(ids)`` on the executors and
  one ``toArrow`` brings the token rows (never the text) to the driver;
  doc_stats, term df/cf, the batch aggregates and the vocabulary come from
  numpy/pyarrow (``builder.stage_on_driver``, the build's driver stager
  too); the batch builder's encoder kernel runs one pid slab at a time on
  the driver (``builder.write_segments_local``) and every table lands
  with one Spark write.
- **Distributed** (33 jobs for the same generation): distributed url rank,
  token stream staged as parquet, Spark aggregates, the writer's shuffle
  and ``mapInArrow`` encode, lineage re-read.

Both placements write the same rows with the same column types (pinned by
tests; only the file count differs: the driver placement writes about one
file per table, and per pid for the segments).  Generation 0 takes its
term cuts from ``builder.vocab_cuts`` over the driver's vocabulary on the
driver placement and from ``build_vocab`` over the landed term stats on
the distributed one: the same cuts (pinned by test), without
``build_vocab``'s Spark jobs where nothing needs its term dimension.

The bound is driver memory, not speed.  ``scripts/ingest_placement_bench.py``
ran both placements on url-sorted fixture batches after a 50-page
generation 0 (``ingest-fresh`` layout, ``local[4]``, 3 runs each; medians,
driver vs distributed; ``BENCH/ingest_placement.jsonl``):

=======  =========  ===========  ============================
pages    driver     distributed  driver peak-RSS rise
=======  =========  ===========  ============================
2,048     4.9 s     12.4 s        31 MB
4,096     7.1 s     15.9 s        59 MB
8,192    10.3 s     18.0 s       117 MB
16,384   16.4 s     24.5 s       226 MB
32,768   22.1 s     32.4 s       448 MB
=======  =========  ===========  ============================

The driver placement won at every size, and its lead shrank from 2.5x to
1.5x; no crossover was reached on 4 cores, where both placements tokenize
on the same executors and the distributed encode has 4 tasks.  On more
cores the distributed encode scales out and the driver's does not, so the
crossover moves down.  The driver's peak RSS grew linearly: ~14.5 KB per
fixture page, ~190–205 B per (doc, term) row (the collected token rows plus
the encode's transient sort keys and one pid slab's kernel temporaries).
The distributed placement raised it by at most 15 MB, and the JVM's peak
showed no trend by placement (GC heap growth dominated both).  The bound
caps the driver's added peak at about 64 MB on the fixture's pages
(~77 distinct terms each): 4,096 pages.  A corpus of pages with ~400
distinct terms would take ~300 MB at the bound; that figure is the
per-row cost scaled, not a measurement.  The 300-page ``ingest-fresh``
generation raises the driver's peak RSS by ~2 MB.

Doc-id contract: with ``id_col`` the corpus brings its own unique long ids
(rebuild-identical by construction).  Without it, ids are
``(docs ingested so far) + lexicographic url rank within the batch`` —
assignment-order-stable like Lucene's internal doc ids.  A full REBUILD
ranks urls globally, so incremental doc_ids equal rebuild doc_ids iff
batches arrive in url-lex order; under arbitrary arrival the (url, score)
result sets still match the rebuild exactly and only same-score tiebreak
order can differ (both pinned by tests).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import IndexCatalog
from ..index import builder
from ..index.builder import (
    _BCAST_DOCS_MAX,
    TOKENS_SCHEMA,
    TOKENS_SCHEMA_POS,
    BuildConfig,
    _resolve_tokenizer,
    _SegmentWriter,
    assign_doc_ids,
    build_vocab,
    corpus_ids,
    lineage_rows,
    stage_on_driver,
    tokens_from_docs,
    tokens_from_docs_pandas,
    vocab_cuts,
    with_extracted_text,
    write_arrow,
    write_segments_local,
)


def _gen_dir(root: str, epoch: int) -> str:
    return os.path.join(root, f"gen={int(epoch)}")


def _gen_stats_root(index_dir: str) -> str:
    return os.path.join(index_dir, "gen_stats")


def _frozen_path(index_dir: str) -> str:
    return os.path.join(index_dir, "frozen.json")


def _write_frozen(index_dir: str, frozen: dict) -> None:
    """Atomic (temp+rename) write of the frozen corpus geometry.

    Lands BEFORE any generation's commit marker, so a crash anywhere after
    generation 0's artifacts can always rebuild corpus_stats.json — the
    geometry is never recoverable only from a file a crash can lose."""
    import json
    import uuid

    os.makedirs(index_dir, exist_ok=True)
    tmp = _frozen_path(index_dir) + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(frozen, f)
    os.rename(tmp, _frozen_path(index_dir))


def _read_frozen(index_dir: str) -> dict | None:
    import json

    p = _frozen_path(index_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _committed_gens(index_dir: str, before: int | None = None) -> list[dict]:
    """Rows of gen_stats for committed generations (optionally gen < before).

    Committed = the generation dir carries ``_SUCCESS``.  A crash during
    the very first gen_stats write can leave ``gen=E/`` containing only
    Spark's hidden ``_temporary`` staging, so only the visible parquet
    files of marked dirs are read — with pyarrow: one row per generation
    needs no Spark job."""
    root = _gen_stats_root(index_dir)
    if not os.path.isdir(root):
        return []
    rows = []
    for e in os.listdir(root):
        d = os.path.join(root, e)
        if not e.startswith("gen=") or not os.path.exists(os.path.join(d, "_SUCCESS")):
            continue
        gen = int(e.split("=", 1)[1])
        if before is not None and gen >= int(before):
            continue
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        tbl = pa.concat_tables([pq.read_table(os.path.join(d, f)) for f in files])
        rows += [{**r, "gen": gen} for r in tbl.to_pylist()]
    return sorted(rows, key=lambda r: r["gen"])


@dataclass
class IngestResult:
    epoch: int
    skipped: bool
    n_docs: int = 0
    postings: int = 0
    avgdl_build: float = 0.0
    wall_sec: float = 0.0
    phase_sec: dict | None = None  # per-phase walls (observability)
    placement: str | None = None  # "driver" or "distributed"


def ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index_dir: str,
    epoch: int,
    cfg: BuildConfig | None = None,
    id_col: str | None = None,
    expected_docs: int | None = None,
) -> IngestResult:
    """Index one micro-batch of documents as generation ``epoch``.

    Idempotent: an epoch whose ``gen_stats`` marker exists is skipped, and a
    partially-crashed epoch rewrites every artifact deterministically —
    together the exactly-once contract ``foreachBatch`` needs on top of its
    at-least-once replay semantics.  A batch of at most
    ``SMALL_BATCH_DOCS`` documents is staged on the driver, a larger one
    by the distributed plan (module docstring); both write the same rows.
    """
    t0 = time.time()
    phase_t: dict[str, float] = {}
    _tp = [time.time()]

    def _mark(name):
        now = time.time()
        phase_t[name] = round(now - _tp[0], 2)
        _tp[0] = now

    cfg = cfg or BuildConfig()
    cat = IndexCatalog(index_dir)
    gstats_dir = _gen_dir(_gen_stats_root(index_dir), epoch)
    if os.path.exists(os.path.join(gstats_dir, "_SUCCESS")):
        # replayed epoch: nothing to ingest, but a crash may have landed
        # between the commit marker and the stats refresh — heal it here so
        # corpus_stats.json always reflects every committed generation
        _ensure_stats_fresh(cat)
        return IngestResult(epoch=epoch, skipped=True)

    # positional layout, analyzer and doc-values columns are frozen index
    # geometry: generation 0's cfg decides them; later generations must
    # agree (checked below, once the batch is known to be non-empty)
    frozen_pre = _read_frozen(index_dir)
    dv_cols = tuple(cfg.docvalues_cols or ()) if frozen_pre is None else tuple(
        frozen_pre.get("docvalues_cols") or ())
    # the corpus' own ids (a missing url falls back to the id's string);
    # without id_col each placement ranks the urls its own way
    with_ids = corpus_ids(batch_df, id_col) if id_col is not None else None
    # the placement choice doubles as the emptiness check: one job collects
    # the keys (and doc values) of up to SMALL_BATCH_DOCS + 1 documents
    keys = ["doc_id", "url"] if with_ids is not None else ["url"]
    head = (with_ids if with_ids is not None else batch_df).select(
        *keys, *[c for c in dv_cols if c in batch_df.columns]).limit(
        builder.SMALL_BATCH_DOCS + 1).toArrow()
    if head.num_rows == 0:
        # an empty trigger must not become a generation — at gen 0 it would
        # freeze empty term cuts for the index's whole life
        _ensure_stats_fresh(cat)
        return IngestResult(epoch=epoch, skipped=True)
    on_driver = head.num_rows <= builder.SMALL_BATCH_DOCS

    _mark("preamble")
    prior = _committed_gens(index_dir, before=epoch)
    prior_n = sum(int(r["n_docs"]) for r in prior)
    prior_dl = sum(int(r["sum_dl"]) for r in prior)

    use_pos = (
        bool(cfg.positions) if frozen_pre is None
        else bool(frozen_pre.get("with_positions", False))
    )
    if frozen_pre is not None and bool(cfg.positions) != use_pos:
        raise ValueError(
            f"index at {index_dir} was frozen with with_positions={use_pos}; "
            f"ingest cfg.positions={cfg.positions} does not match"
        )
    if cat.has_corpus_stats() and cat.read_corpus_stats().get("fields"):
        # a multi-field index keys postings as "<field><sep><term>" with
        # per-field stats and per-field-baked bounds; this single-text-column
        # ingest would write unprefixed keys no field clause can match and
        # scalar-baked bounds under a per_field_mtn flag — fail loud
        raise ValueError(
            f"index at {index_dir} is multi-field "
            "(builder.BuildConfig.field_cols); incremental ingest supports "
            "single-field indexes only — rebuild with build_index"
        )

    # the ANALYZER is frozen geometry too: "auto" re-sampled per batch could
    # tokenize generations of one index with different normalization (JVM
    # no-NFC vs pandas NFC), silently diverging from a full rebuild.  Gen 0
    # resolves it once and records it; later generations honor the record
    # (an explicit pin that disagrees raises; indexes frozen before this
    # field existed fall back to the old per-batch sampling).
    tokenizer = (frozen_pre or {}).get("tokenizer")
    if tokenizer is None:
        tokenizer = _resolve_tokenizer(with_extracted_text(batch_df), cfg.tokenizer)
    elif cfg.tokenizer not in ("auto", tokenizer):
        raise ValueError(
            f"index at {index_dir} was frozen with tokenizer={tokenizer!r}; "
            f"ingest cfg.tokenizer={cfg.tokenizer!r} does not match"
        )
    # every batch must carry the frozen doc-values sidecar columns
    if frozen_pre is not None and cfg.docvalues_cols and tuple(cfg.docvalues_cols) != dv_cols:
        raise ValueError(
            f"index at {index_dir} was frozen with docvalues_cols="
            f"{dv_cols}; ingest cfg.docvalues_cols="
            f"{tuple(cfg.docvalues_cols)} does not match"
        )
    missing_dv = [c for c in dv_cols if c not in batch_df.columns]
    if missing_dv:
        raise ValueError(
            f"batch is missing docvalues columns {missing_dv}; "
            f"batch columns: {sorted(batch_df.columns)}"
        )
    tokenize = tokens_from_docs if tokenizer == "jvm" else tokens_from_docs_pandas

    def tokens_of(with_ids: DataFrame) -> DataFrame:
        return tokenize(with_extracted_text(with_ids).select("doc_id", "url", "text"),
                        positions=use_pos)

    # per-generation doc stats (hydration + dl; docs with zero tokens keep
    # dl=0) and term-df deltas (the engine and later stats reads aggregate
    # SUM(df) by term across generations) land first; ``batch`` is the
    # generation's gen_stats row, less avgdl_build
    gen_ds_path, gen_ts_path = _gen_dir(cat.doc_stats, epoch), _gen_dir(cat.term_stats, epoch)
    tokens_tmp = _gen_dir(os.path.join(index_dir, "tokens_tmp"), epoch)
    if on_driver:
        tokens, vocab, df, batch = stage_on_driver(
            spark, batch_df, head, with_ids, prior_n, dv_cols, tokens_of,
            gen_ds_path, gen_ts_path, _mark)
    else:
        tokens, batch = _stage_distributed(
            spark, batch_df, with_ids, prior_n, dv_cols, tokens_of,
            TOKENS_SCHEMA_POS if use_pos else TOKENS_SCHEMA, cfg.n_partitions,
            gen_ds_path, gen_ts_path, tokens_tmp, _mark)

    # frozen corpus geometry: generation 0 computes it and commits it to
    # frozen.json BEFORE encoding anything (atomic rename), every later
    # generation — and every corpus_stats refresh — reads it from there.
    # Keeping it out of corpus_stats.json means a crash between a
    # generation's commit marker and the stats refresh can never lose the
    # geometry (replays recompute identical values from this gen's term
    # stats, but only ever run if the marker is absent).
    frozen = frozen_pre
    gen0_dim = gen0_ranked = None
    if frozen is None:
        n_partitions = cfg.n_partitions
        if on_driver:
            cuts = vocab_cuts(vocab, df, n_partitions)
        else:
            # the (term, term_id, pid) dim this pass computes alongside the
            # cuts is exactly what an id-mode encode needs: hand it to the
            # writer instead of paying the distributed vocabulary pass twice
            cuts, _, gen0_dim, gen0_ranked, _ = build_vocab(
                spark, gen_ts_path, n_partitions
            )
        size_basis = expected_docs or batch["n_docs"]
        frozen = {
            "term_cuts": cuts,
            "range_docs": max(
                cfg.min_range_docs, -(-size_basis // cfg.target_ranges)
            ),
            "block_docs": cfg.block_docs,
            "n_partitions": n_partitions,
            "with_positions": bool(use_pos),
            "tokenizer": tokenizer,
            "docvalues_cols": list(dv_cols),
        }
        _write_frozen(index_dir, frozen)

    # cumulative avgdl at encode time — recorded so the engine can rescale
    # this generation's max_tf_norm bounds if avgdl later drifts
    avgdl_build = (prior_dl + batch["sum_dl"]) / max(1, prior_n + batch["n_docs"])

    # the batch vocabulary keyed with the FROZEN cuts, encoded on the frozen
    # grid by the batch builder's encoder: on the driver, or through the one
    # segment writer (builder._SegmentWriter)
    cuts = list(frozen["term_cuts"])
    grid = dict(range_docs=int(frozen["range_docs"]), block_docs=int(frozen["block_docs"]),
                avgdl=avgdl_build, positions=use_pos)
    seg_dir = _gen_dir(cat.segments, epoch)
    lineage_ids = (f"stream-epoch{epoch}", f"gen{epoch}", f"stream-epoch{epoch}")
    if on_driver:
        _mark("vocab")
        landed = write_segments_local(spark, tokens, seg_dir, vocab, cuts, **grid)
        _mark("encode")
        rows = lineage_rows(landed, *lineage_ids)
    else:
        writer = _SegmentWriter(
            spark, gen_ts_path, batch["n_terms"], cuts,
            n_partitions=int(frozen["n_partitions"]), max_dl=batch["max_dl"],
            max_doc_id=batch["max_doc_id"], dict_budget=cfg.dict_budget,
            shuffle_n=cfg.shuffle_partitions, dim=gen0_dim, **grid,
        )
        _mark("vocab")
        writer.write(tokens, seg_dir)
        _mark("encode")
        writer.close()
        rows = writer.lineage(seg_dir, *lineage_ids)
    if gen0_ranked is not None:
        gen0_ranked.unpersist()
    shutil.rmtree(tokens_tmp, ignore_errors=True)
    _mark("lineage")

    # lineage (observability; a replay after this append but before the
    # gen_stats commit can duplicate rows — harmless, documented)
    postings = sum(r["postings_count"] for r in rows)
    cat.append_manifest(rows)

    # THE commit point: gen_stats lands last, so its presence implies every
    # other artifact of this generation is complete.  The gen value rides
    # the partition directory name (gen=E), not a data column — partition
    # discovery on the root supplies it at read time.  One Arrow row, so
    # the write needs no Python worker.
    write_arrow(spark, {
        "n_docs": pa.array([batch["n_docs"]], pa.int64()),
        "sum_dl": pa.array([batch["sum_dl"]], pa.int64()),
        "max_dl": pa.array([batch["max_dl"]], pa.int32()),
        "max_doc_id": pa.array([batch["max_doc_id"]], pa.int64()),
        "avgdl_build": pa.array([float(avgdl_build)], pa.float64()),
        "n_terms": pa.array([batch["n_terms"]], pa.int64()),
    }, gstats_dir)

    _mark("commit")
    _refresh_corpus_stats(cat)
    _mark("stats_refresh")
    return IngestResult(
        epoch=epoch, skipped=False, n_docs=batch["n_docs"], postings=postings,
        avgdl_build=avgdl_build, wall_sec=round(time.time() - t0, 2),
        phase_sec=phase_t, placement="driver" if on_driver else "distributed",
    )


def _stage_distributed(spark, docs, with_ids, prior_n, dv_cols, tokens_of, tokens_schema,
                       n_parts, doc_stats_path, term_stats_path, tokens_tmp, mark):
    """The distributed placement's staging: ids ranked by Spark (or the
    corpus' own ``with_ids``), the token stream staged as parquet, stats by
    Spark aggregates.  Returns (token DataFrame, the batch row)."""
    ranked = None
    if with_ids is None:
        ids, ranked, n_pre = assign_doc_ids(docs, n_parts=n_parts)
        ids = ids.select("url", (F.col("doc_id") + F.lit(prior_n)).alias("doc_id"))
        # broadcast budget mirrors build_index: a catch-up batch draining a
        # huge backlog must fall back to the shuffled join
        ids = F.broadcast(ids) if n_pre <= _BCAST_DOCS_MAX else ids
        with_ids = docs.join(ids, "url")

    mark("ids_plan")
    # Materialize the generation's token stream as compressed columnar
    # parquet, NOT .persist(): a deserialized JVM cache of ~10^7 token rows
    # is GC-bound (measured: the doc_stats pass took 38 s of a 68 s
    # generation under .persist(); the batch builder hit the same wall and
    # stages tokens_tmp for the same reason — builder.py phase 2 notes).
    # Every downstream consumer (doc stats, term stats, encode) re-reads
    # column-pruned.
    tokens_of(with_ids).write.mode("overwrite").parquet(tokens_tmp)
    tokens = spark.read.schema(tokens_schema).parquet(tokens_tmp)
    mark("tokenize")

    dl_df = tokens.groupBy("doc_id").agg(F.max("dl").alias("dl"))
    doc_stats = (
        with_ids.select("doc_id", "url", *dv_cols)
        .join(dl_df, "doc_id", "left")
        .select("doc_id", "url", F.coalesce("dl", F.lit(0)).alias("dl"), *dv_cols)
    )
    doc_stats.write.mode("overwrite").parquet(doc_stats_path)
    mark("doc_stats")
    agg = spark.read.schema("doc_id long, dl int").parquet(doc_stats_path).agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("s"),
        F.max("dl").alias("m"),
        F.max("doc_id").alias("mx"),
    ).collect()[0]
    if ranked is not None:
        ranked.unpersist()
    mark("doc_agg")

    tokens.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    ).write.mode("overwrite").parquet(term_stats_path)
    mark("term_stats")
    # the landed stats have exactly one row per term, so the vocabulary
    # size is a parquet row-count — no re-shuffle of the token table
    batch = {"n_docs": int(agg["n"]), "sum_dl": int(agg["s"] or 0),
             "max_dl": int(agg["m"] or 0), "max_doc_id": int(agg["mx"] or 0),
             "n_terms": spark.read.schema("term string").parquet(term_stats_path).count()}
    return tokens, batch


def _ensure_stats_fresh(cat: IndexCatalog) -> None:
    """Heal corpus_stats.json if a crash separated a generation's commit
    marker from its stats refresh (replay then skips the generation, so
    this is the only place the refresh can catch up)."""
    gens = _committed_gens(cat.root)
    if not gens:
        return
    committed = [int(r["gen"]) for r in gens]
    if cat.has_corpus_stats():
        if cat.read_corpus_stats().get("generations") == committed:
            return
    _refresh_corpus_stats(cat)


def _refresh_corpus_stats(cat: IndexCatalog) -> dict:
    """Derive corpus_stats.json purely from committed gen_stats + the
    frozen geometry file (both replay-safe inputs)."""
    frozen = _read_frozen(cat.root)
    if frozen is None:
        raise FileNotFoundError(
            f"{_frozen_path(cat.root)} missing — not an incremental index, "
            "or generation 0 never committed"
        )
    cuts = list(frozen["term_cuts"])
    range_docs = int(frozen["range_docs"])
    block_docs = int(frozen["block_docs"])
    n_partitions = int(frozen["n_partitions"])
    gens = _committed_gens(cat.root)
    n_docs = sum(int(r["n_docs"]) for r in gens)
    total_dl = sum(int(r["sum_dl"]) for r in gens)
    avgdl = total_dl / max(1, n_docs)
    scale = max(
        [1.0] + [avgdl / float(r["avgdl_build"]) for r in gens if r["avgdl_build"] > 0]
    )
    # dual of wand_bound_scale for the θ achievable FLOOR: when cumulative
    # avgdl SHRANK below a generation's build-time avgdl, that generation's
    # baked mtn is no longer attained by its block-max doc — but
    # tf_norm(a1) >= tf_norm(a0) * a1/a0 for a1 < a0 (the same linear bound,
    # shrink direction), so idf·mtn·min_g(avgdl_now/avgdl_g) IS attained.
    # 1.0 whenever avgdl only grew (the common case: ingest adds docs drawn
    # from the same distribution).
    floor_scale = min(
        [1.0] + [avgdl / float(r["avgdl_build"]) for r in gens if r["avgdl_build"] > 0]
    )
    stats = {
        "n_docs": n_docs,
        "avgdl": avgdl,
        "range_docs": range_docs,
        "block_docs": block_docs,
        "term_cuts": cuts,
        "n_partitions": n_partitions,
        # per-gen vocab sizes overlap across generations; the sum is only
        # compared against the engine's cache threshold, where an
        # overcount errs toward the distributed path — safe
        "n_terms": sum(int(r["n_terms"]) for r in gens),
        "max_dl": max([0] + [int(r["max_dl"]) for r in gens]),
        "corpus_path": "incremental",
        "wand_bound_scale": float(scale),
        "wand_floor_scale": float(floor_scale),
        "generations": [int(r["gen"]) for r in gens],
        "with_positions": bool(frozen.get("with_positions", False)),
        **(
            {"docvalues_cols": list(frozen["docvalues_cols"])}
            if frozen.get("docvalues_cols")
            else {}
        ),
    }
    cat.write_corpus_stats(stats)
    return stats


def stream_documents(spark: SparkSession, docs_dir: str, schema: str) -> DataFrame:
    """File-source stream of documents (new parquet files = new docs)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(docs_dir)
    )


def incremental_index_stream(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    cfg: BuildConfig | None = None,
    id_col: str | None = None,
    expected_docs: int | None = None,
    available_now: bool = True,
):
    """Wire a document stream into the incremental index sink.

    ``availableNow`` drains everything currently in the source then stops —
    the batch-friendly trigger for tests and catch-up runs; pass
    ``available_now=False`` for a continuously-running micro-batch ingest.
    The checkpoint gives ordered, replayable epochs; ``ingest_batch``'s
    commit marker upgrades the replays to exactly-once.

    The index and its checkpoint are PAIRED: epoch numbers are the
    idempotence key, and a fresh checkpoint renumbers batches from 0 — so
    pointing a new checkpoint at an already-ingested index would silently
    skip every colliding batch.  A stream-id marker written into both
    directories turns that operator error into a loud ``ValueError``
    (recovering from a lost checkpoint means re-pairing deliberately:
    delete ``stream_id`` from the index dir, accepting that already-indexed
    files will re-ingest as new generations, or compact first).
    """
    spark = docs_stream.sparkSession

    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    ckpt_marker = os.path.join(checkpoint_dir, "_ses_stream_id")
    idx_marker = os.path.join(index_dir, "stream_id")
    ckpt_id = open(ckpt_marker).read() if os.path.exists(ckpt_marker) else None
    idx_id = open(idx_marker).read() if os.path.exists(idx_marker) else None
    if idx_id is not None and idx_id != ckpt_id:
        raise ValueError(
            f"index {index_dir} was ingested under a different checkpoint "
            f"(stream_id {idx_id!r} != {ckpt_id!r}); a fresh checkpoint "
            "renumbers epochs from 0 and its batches would be silently "
            "skipped — re-pair deliberately (see docstring)"
        )
    if ckpt_id is None:
        ckpt_id = uuid.uuid4().hex
        with open(ckpt_marker, "w") as f:
            f.write(ckpt_id)
    if idx_id is None:
        os.makedirs(index_dir, exist_ok=True)
        with open(idx_marker, "w") as f:
            f.write(ckpt_id)

    def sink(batch_df: DataFrame, epoch: int) -> None:
        ingest_batch(
            spark, batch_df, index_dir, epoch,
            cfg=cfg, id_col=id_col, expected_docs=expected_docs,
        )

    writer = (
        docs_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
