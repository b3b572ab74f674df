"""Streaming incremental index ingestion (streaming/ingest.py).

Contract under test: an index grown generation-by-generation from
micro-batches answers every query EXACTLY like a batch rebuild over the
union corpus — same doc_ids, same float scores, same totals, on all three
physical paths — and the ingest sink is exactly-once under foreachBatch's
at-least-once replay semantics (replay skip + partial-crash rewrite).
"""

import os
import shutil

import pyarrow.parquet as pq
import pytest

from search_engine_spark.index.builder import BuildConfig, build_index
from search_engine_spark.query.engine import SearchEngine
from search_engine_spark.streaming.ingest import (
    incremental_index_stream,
    ingest_batch,
    stream_documents,
)

from conftest import INGEST_CFG, assert_same_rows, landed_rows, spark_jobs, write_waves

_KWS = ["rice", "cadbury dairy milk", "belt", "oil", "milk", "the", "zzzzqqqq"]
_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


@pytest.fixture(scope="module")
def corpora(webtext_tiny, tmp_path_factory):
    """(sorted table, full-rebuild index dir, waves base dir)."""
    base = str(tmp_path_factory.mktemp("ingest"))
    tbl = pq.read_table(webtext_tiny).sort_by("url")
    return tbl, base


@pytest.fixture(scope="module")
def rebuild_engine(spark, webtext_tiny, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx") / "full")
    build_index(spark, webtext_tiny, idx, BuildConfig(**INGEST_CFG, waves=1))
    return SearchEngine(spark, idx)


@pytest.fixture(scope="module")
def inc_engine(spark, inc_index):
    """Index ingested as 3 url-lex-ordered generations of the same corpus."""
    return SearchEngine(spark, inc_index)


def test_cumulative_stats_match_rebuild(rebuild_engine, inc_engine):
    assert inc_engine.n_docs == rebuild_engine.n_docs == 1000
    assert inc_engine.avgdl == rebuild_engine.avgdl
    # avgdl grew across generations on this corpus slice order, so the
    # WAND bound correction must be ACTIVE (strictly > 1) while the batch
    # index carries exactly 1.0
    assert rebuild_engine.bound_scale == 1.0
    assert inc_engine.bound_scale > 1.0


@pytest.mark.parametrize("mode", ["sort", "wand"])
def test_rank_identity_vs_rebuild_distributed(rebuild_engine, inc_engine, mode):
    for kw in _KWS:
        a = rebuild_engine.search(kw, k=10, mode=mode, force_distributed=True)
        b = inc_engine.search(kw, k=10, mode=mode, force_distributed=True)
        assert a.total == b.total, kw
        assert list(a.page["doc_id"]) == list(b.page["doc_id"]), kw
        assert list(a.page["score"]) == list(b.page["score"]), kw


def test_rank_identity_vs_rebuild_driver_and_grouped(rebuild_engine, inc_engine):
    for kw in _KWS:
        a = rebuild_engine.search(kw, k=10)
        b = inc_engine.search(kw, k=10)
        assert list(a.page["doc_id"]) == list(b.page["doc_id"]), kw
        assert list(a.page["score"]) == list(b.page["score"]), kw
    ag = rebuild_engine.search("milk", k=10, group_by=True)
    bg = inc_engine.search("milk", k=10, group_by=True)
    assert ag.total == bg.total
    assert ag.page.to_dict("list") == bg.page.to_dict("list")


def test_wand_equals_sort_on_incremental_index(inc_engine):
    """Bound-scale soundness: scaled block bounds never prune a winner."""
    for kw in ["the", "milk", "cadbury dairy milk"]:
        s = inc_engine.search(kw, k=15, mode="sort", force_distributed=True)
        w = inc_engine.search(kw, k=15, mode="wand", force_distributed=True)
        assert list(s.page["doc_id"]) == list(w.page["doc_id"]), kw
        assert list(s.page["score"]) == list(w.page["score"]), kw


def _wand_queries(rng, eng, n):
    """``n`` seeded WAND-shaped queries over ``eng``'s dictionary: 1-4
    terms drawn across df strata (rare, mid, head), as a disjunction, a
    conjunction or m-of-n, with dl boosts, k in {1, 2, 10} and either
    total mode.  One-term keywords prefix-expand; longer ones are exact
    term lists, so stopwords stay in."""
    terms = [str(t) for t in eng._terms_arr]
    dfs = eng._dfs_arr
    strata = [[t for t, d in zip(terms, dfs) if lo <= d < hi and t.isalpha()]
              for lo, hi in ((2, 20), (20, 150), (150, 10**9))]
    out = []
    for _ in range(n):
        m = int(rng.integers(1, 5))
        pick = sorted({str(rng.choice(strata[int(rng.integers(3))])) for _ in range(m)})
        opts = {"k": int(rng.choice([1, 2, 10])),
                "total_mode": str(rng.choice(["exact", "approx"])),
                "constant_boost": bool(rng.random() < 0.3),
                "avail_boost": bool(rng.random() < 0.3)}
        if len(pick) > 1:
            opts["exact_terms"] = pick
            shape = rng.choice(["or", "and", "msm"])
            if shape == "and":
                opts["conjunctive"] = True
            elif shape == "msm":
                opts["min_should_match"] = int(rng.integers(2, len(pick) + 1))
        out.append((" ".join(pick), opts))
    return out


def test_wand_differential_seeded(spark, index_tiny, inc_engine):
    """Seeded WAND-shaped queries on the tiny batch index and on the
    3-generation incremental index (bound_scale > 1), each run on the
    driver, forced-distributed sort, ``mode="wand"`` and forced
    ``mode="auto"`` with partition coalescing off, so several tasks prune
    against their own θ: equal pages (ids and float-hex scores) on all
    four, equal exact totals, and approx totals that bound the exact one
    and agree between WAND and auto."""
    import numpy as np

    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    rng = np.random.default_rng(7)
    tiny = SearchEngine(spark, index_tiny)
    assert inc_engine.bound_scale > 1.0
    cases = [(tiny, q) for q in _wand_queries(rng, tiny, 26)]
    cases += [(inc_engine, q) for q in _wand_queries(rng, inc_engine, 14)]
    pruned = 0
    old = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        for eng, (kw, opts) in cases:
            runs = {
                "driver": eng.search(kw, **opts),
                "sort": eng.search(kw, force_distributed=True, **opts),
                "wand": eng.search(kw, mode="wand", **opts),
            }
            pruned += eng.last_wand["blocks_pruned"]
            runs["auto"] = eng.search(kw, mode="auto", force_distributed=True, **opts)
            assert eng.last_dispatch["mode"] == "wand", (kw, opts)
            pages = {m: ([int(d) for d in r.page["doc_id"]],
                         [float(s).hex() for s in r.page["score"]]) for m, r in runs.items()}
            assert pages["driver"] == pages["sort"] == pages["wand"] == pages["auto"], (kw, opts)
            exact = runs["driver"].total
            assert runs["sort"].total == exact, (kw, opts)
            if opts["total_mode"] == "exact":
                assert runs["wand"].total == runs["auto"].total == exact, (kw, opts)
            else:
                assert runs["wand"].total == runs["auto"].total >= exact, (kw, opts)
    finally:
        spark.conf.set(coalesce, old)
    assert pruned > 0


def test_replay_skips_and_partial_crash_rewrites(spark, corpora, rebuild_engine):
    tbl, base = corpora
    idx = os.path.join(base, "replay_idx")
    waves = write_waves(tbl, os.path.join(base, "replay"), [(0, 600), (600, 400)])
    cfg = BuildConfig(**INGEST_CFG)
    for e, w in enumerate(waves):
        ingest_batch(spark, spark.read.parquet(w), idx, e, cfg=cfg)
    # full replay of a committed epoch: skipped, nothing changes
    r = ingest_batch(spark, spark.read.parquet(waves[1]), idx, 1, cfg=cfg)
    assert r.skipped
    # partial crash: the commit marker of gen 1 is lost AFTER its other
    # artifacts landed; the replay must rewrite deterministically
    shutil.rmtree(os.path.join(idx, "gen_stats", "gen=1"))
    r = ingest_batch(spark, spark.read.parquet(waves[1]), idx, 1, cfg=cfg)
    assert not r.skipped
    eng = SearchEngine(spark, idx)
    assert eng.n_docs == 1000
    for kw in ["milk", "the"]:
        a = rebuild_engine.search(kw, k=10, mode="wand", force_distributed=True)
        b = eng.search(kw, k=10, mode="wand", force_distributed=True)
        assert list(a.page["doc_id"]) == list(b.page["doc_id"])
        assert list(a.page["score"]) == list(b.page["score"])


def test_crash_between_marker_and_stats_refresh_heals_on_replay(spark, corpora):
    """The one crash window the commit marker doesn't cover: gen_stats
    landed but corpus_stats.json didn't refresh. The replayed (skipped)
    epoch must heal the stats from frozen.json + gen_stats."""
    import json

    tbl, base = corpora
    idx = os.path.join(base, "heal_idx")
    waves = write_waves(tbl, os.path.join(base, "heal"), [(0, 600), (600, 400)])
    cfg = BuildConfig(**INGEST_CFG)
    for e, w in enumerate(waves):
        ingest_batch(spark, spark.read.parquet(w), idx, e, cfg=cfg)
    good = json.load(open(os.path.join(idx, "corpus_stats.json")))
    # simulate the crash: stats file lost entirely after gen 1 committed
    os.remove(os.path.join(idx, "corpus_stats.json"))
    r = ingest_batch(spark, spark.read.parquet(waves[1]), idx, 1, cfg=cfg)
    assert r.skipped
    healed = json.load(open(os.path.join(idx, "corpus_stats.json")))
    assert healed == good
    assert SearchEngine(spark, idx).n_docs == 1000


def test_uncommitted_generation_is_invisible(spark, corpora, tmp_path):
    """The crash state between a generation's encode and its commit: gen 1's
    segments, doc_stats and term-stat deltas are on disk, but its gen_stats
    marker is absent and corpus_stats.json is still generation 0's.  No
    reader may see gen 1: on both placements every page equals an engine
    over generation 0 alone (total, ids, float-hex scores), and compaction
    merges generation 0 only."""
    from search_engine_spark.index.compact import compact_index

    tbl, _ = corpora
    waves = write_waves(tbl, str(tmp_path / "waves"), [(0, 500), (500, 500)])
    cfg = BuildConfig(**INGEST_CFG)
    gen0, crashed = str(tmp_path / "gen0"), str(tmp_path / "crashed")
    ingest_batch(spark, spark.read.parquet(waves[0]), gen0, 0, cfg=cfg)
    shutil.copytree(gen0, crashed)
    ingest_batch(spark, spark.read.parquet(waves[1]), crashed, 1, cfg=cfg)
    shutil.rmtree(os.path.join(crashed, "gen_stats", "gen=1"))
    shutil.copy(os.path.join(gen0, "corpus_stats.json"), os.path.join(crashed, "corpus_stats.json"))

    want, got = SearchEngine(spark, gen0), SearchEngine(spark, crashed)
    assert got.n_docs == want.n_docs == 500
    for kw in ["the", "milk", "cadbury dairy milk"]:
        for placed in ({}, {"force_distributed": True}):
            a, b = want.search(kw, k=10, **placed), got.search(kw, k=10, **placed)
            assert a.total == b.total, (kw, placed)
            assert list(a.page["doc_id"]) == list(b.page["doc_id"]), (kw, placed)
            assert ([float(x).hex() for x in a.page["score"]]
                    == [float(x).hex() for x in b.page["score"]]), (kw, placed)
    m = compact_index(spark, crashed, str(tmp_path / "compacted"))
    assert m["generations_in"] == 1 and m["n_docs"] == 500


def test_fresh_checkpoint_against_existing_index_raises(spark, corpora, tmp_path):
    """Epoch numbers are the idempotence key; a NEW checkpoint renumbers
    from 0, so pairing it with an already-ingested index must fail loudly
    instead of silently skipping every colliding batch."""
    tbl, base = corpora
    src = str(tmp_path / "src")
    os.makedirs(src)
    pq.write_table(tbl.slice(0, 100), os.path.join(src, "w.parquet"))
    idx = str(tmp_path / "idx")
    cfg = BuildConfig(**INGEST_CFG)
    q = incremental_index_stream(
        stream_documents(spark, src, _SCHEMA), idx, str(tmp_path / "ckpt1"), cfg=cfg
    )
    q.awaitTermination(120)
    assert SearchEngine(spark, idx).n_docs == 100
    with pytest.raises(ValueError, match="different checkpoint"):
        incremental_index_stream(
            stream_documents(spark, src, _SCHEMA), idx, str(tmp_path / "ckpt2"), cfg=cfg
        )


def test_compaction_id_mode_above_dict_budget(spark, inc_index, inc_engine, tmp_path):
    """Vocabularies above dict_budget must compact through the distributed
    dictionary path (no driver vocab materialization) with identical output."""
    from search_engine_spark.index.compact import compact_index

    out = str(tmp_path / "cmp_idmode")
    compact_index(spark, inc_index, out, dict_budget=10)
    eng = SearchEngine(spark, out)
    assert eng.bound_scale == 1.0
    for kw in ["milk", "the"]:
        a = inc_engine.search(kw, k=10, mode="wand", force_distributed=True)
        b = eng.search(kw, k=10, mode="wand", force_distributed=True)
        assert list(a.page["doc_id"]) == list(b.page["doc_id"]), kw
        assert list(a.page["score"]) == list(b.page["score"]), kw


def test_out_of_lex_order_arrival_matches_rebuild_by_url(spark, corpora, rebuild_engine):
    """Arbitrary arrival order: doc_ids differ from a rebuild (documented
    contract) but the (url, score) result sets are identical."""
    tbl, base = corpora
    idx = os.path.join(base, "ooo_idx")
    waves = write_waves(tbl, os.path.join(base, "ooo"), [(500, 500), (0, 500)])
    for e, w in enumerate(waves):
        ingest_batch(spark, spark.read.parquet(w), idx, e, cfg=BuildConfig(**INGEST_CFG))
    eng = SearchEngine(spark, idx)
    assert eng.n_docs == 1000 and eng.avgdl == rebuild_engine.avgdl
    for kw in ["milk", "rice", "the"]:
        a = rebuild_engine.search(kw, k=1000, with_url=True, force_distributed=True)
        b = eng.search(kw, k=1000, with_url=True, force_distributed=True)
        assert a.total == b.total
        sa = sorted(zip(a.page["url"], [round(s, 9) for s in a.page["score"]]))
        sb = sorted(zip(b.page["url"], [round(s, 9) for s in b.page["score"]]))
        assert sa == sb, kw


def test_compaction_merges_generations_exactly(spark, inc_index, inc_engine, tmp_path):
    """index/compact.py: decode->re-encode with current avgdl collapses the
    generations into one batch-layout index with identical query results,
    bound scale exactly 1, and fewer segment files."""
    from search_engine_spark.index.compact import compact_index

    out = str(tmp_path / "compacted")
    m = compact_index(spark, inc_index, out)
    assert m["generations_in"] == 3 and m["n_docs"] == 1000
    eng = SearchEngine(spark, out)
    assert eng.bound_scale == 1.0
    assert eng.n_docs == inc_engine.n_docs and eng.avgdl == inc_engine.avgdl
    for kw in _KWS:
        for mode in ["sort", "wand"]:
            a = inc_engine.search(kw, k=10, mode=mode, force_distributed=True)
            b = eng.search(kw, k=10, mode=mode, force_distributed=True)
            assert a.total == b.total, (kw, mode)
            assert list(a.page["doc_id"]) == list(b.page["doc_id"]), (kw, mode)
            assert list(a.page["score"]) == list(b.page["score"]), (kw, mode)

    def nfiles(d):
        return sum(len(fs) for _, _, fs in os.walk(d))

    assert nfiles(os.path.join(out, "segments")) < nfiles(os.path.join(inc_index, "segments"))


def test_compaction_is_identity_on_batch_index(spark, webtext_tiny, rebuild_engine, tmp_path):
    """Compacting a batch-built index is a lossless rewrite (decode ->
    re-encode round-trip over the real segment format)."""
    from search_engine_spark.index.compact import compact_index

    out = str(tmp_path / "recompacted")
    compact_index(spark, rebuild_engine.cat.root, out)
    eng = SearchEngine(spark, out)
    for kw in ["milk", "the"]:
        a = rebuild_engine.search(kw, k=10, mode="wand", force_distributed=True)
        b = eng.search(kw, k=10, mode="wand", force_distributed=True)
        assert list(a.page["doc_id"]) == list(b.page["doc_id"])
        assert list(a.page["score"]) == list(b.page["score"])


def test_streaming_surface_end_to_end(spark, corpora, rebuild_engine, tmp_path):
    """readStream -> foreachBatch sink across two arrivals + checkpoint
    restart: drains only new files, restart ingests nothing twice."""
    tbl, base = corpora
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    idx, ckpt = str(tmp_path / "idx"), str(tmp_path / "ckpt")
    cfg = BuildConfig(**INGEST_CFG)

    pq.write_table(tbl.slice(0, 700), os.path.join(src, "w0.parquet"))
    q = incremental_index_stream(
        stream_documents(spark, src, _SCHEMA), idx, ckpt, cfg=cfg
    )
    q.awaitTermination(180)
    assert SearchEngine(spark, idx).n_docs == 700

    pq.write_table(tbl.slice(700, 300), os.path.join(src, "w1.parquet"))
    q = incremental_index_stream(
        stream_documents(spark, src, _SCHEMA), idx, ckpt, cfg=cfg
    )
    q.awaitTermination(180)
    eng = SearchEngine(spark, idx)
    assert eng.n_docs == 1000

    # restart with the same checkpoint: no new files -> no new generations
    q = incremental_index_stream(
        stream_documents(spark, src, _SCHEMA), idx, ckpt, cfg=cfg
    )
    q.awaitTermination(180)
    assert SearchEngine(spark, idx).n_docs == 1000

    for kw in ["milk", "the"]:
        a = rebuild_engine.search(kw, k=10, mode="wand", force_distributed=True)
        b = eng.search(kw, k=10, mode="wand", force_distributed=True)
        assert list(a.page["doc_id"]) == list(b.page["doc_id"])
        assert list(a.page["score"]) == list(b.page["score"])


def test_gen0_crash_window_does_not_brick_replay(spark, corpora, rebuild_engine):
    """A crash during generation 0's gen_stats write leaves gen=0/ with only
    Spark's hidden _temporary staging; replay must recover, not die on
    parquet schema inference (the exactly-once contract)."""
    tbl, base = corpora
    idx = os.path.join(base, "crash0_idx")
    wave = write_waves(tbl, os.path.join(base, "crash0"), [(0, 300)])[0]
    # simulate the window: gen dir exists, no visible files, no _SUCCESS
    half = os.path.join(idx, "gen_stats", "gen=0", "_temporary")
    os.makedirs(half, exist_ok=True)
    r = ingest_batch(spark, spark.read.parquet(wave), idx, 0,
                     cfg=BuildConfig(**INGEST_CFG))
    assert not r.skipped and r.n_docs == 300
    eng = SearchEngine(spark, idx)
    assert eng.n_docs == 300
    assert len(eng.search("milk", k=5).page) > 0


def test_ingest_id_mode_identical_to_broadcast_vocab(spark, corpora, monkeypatch):
    """On the distributed placement (forced: these batches fit
    ``SMALL_BATCH_DOCS``), dict_budget below the batch vocabulary forces
    the distributed-dim path; the landed generations must be row-identical
    to the broadcast path on the same waves, and so must the driver
    placement's (which keeps its vocabulary on the driver at any
    budget)."""
    from search_engine_spark.index import builder

    tbl, base = corpora
    slices = [(0, 500), (500, 500)]
    outs = {}
    for name, budget, bound in (("bcast", 2_000_000, 0), ("idmode", 1, 0),
                                ("driver", 1, 500)):
        monkeypatch.setattr(builder, "SMALL_BATCH_DOCS", bound)
        idx = os.path.join(base, f"vocab_{name}_idx")
        waves = write_waves(tbl, os.path.join(base, f"vocab_{name}"), slices)
        for e, w in enumerate(waves):
            r = ingest_batch(spark, spark.read.parquet(w), idx, e,
                             cfg=BuildConfig(**INGEST_CFG, dict_budget=budget))
            assert r.placement == ("driver" if bound else "distributed")
        outs[name] = landed_rows(spark, idx)
    assert_same_rows(outs["bcast"], outs["idmode"])
    assert_same_rows(outs["bcast"], outs["driver"])


def test_small_generation_jobs_and_placement_bound(spark, corpora, monkeypatch):
    """A generation of ``SMALL_BATCH_DOCS`` documents is staged on the
    driver in at most 10 Spark jobs (one collect of the keys, one of the
    token rows, one write per table); one document more takes the
    distributed plan.  Both write the same rows, positions and doc values
    included."""
    from search_engine_spark.index import builder

    tbl, base = corpora
    waves = write_waves(tbl, os.path.join(base, "bound"), [(0, 50), (50, 300)])
    cfg = BuildConfig(**INGEST_CFG, positions=True, docvalues_cols=("lang", "warc_ts"))
    outs = {}
    for placement, bound in (("driver", 300), ("distributed", 299)):
        monkeypatch.setattr(builder, "SMALL_BATCH_DOCS", bound)
        idx = os.path.join(base, f"bound_{placement}_idx")
        ingest_batch(spark, spark.read.parquet(waves[0]), idx, 0, cfg=cfg)
        batch = spark.read.parquet(waves[1])
        r, jobs = spark_jobs(spark, lambda: ingest_batch(spark, batch, idx, 1, cfg=cfg))
        assert r.placement == placement and r.n_docs == 300
        assert {"tokenize", "vocab", "encode", "commit", "stats_refresh"} <= r.phase_sec.keys()
        if placement == "driver":
            assert len(jobs) <= 10, len(jobs)
        outs[placement] = landed_rows(spark, idx)
    assert_same_rows(outs["driver"], outs["distributed"])


def test_driver_url_rank_is_spark_string_order(spark, tmp_path, monkeypatch):
    """The driver placement ranks urls by their UTF-8 bytes, as Spark
    orders strings: on urls sharing a long prefix and differing in
    characters whose UTF-16 order is not their code-point order, both
    placements assign the same doc ids."""
    import pandas as pd

    from search_engine_spark.index import builder

    prefix = "https://example.org/" + "a/" * 40
    tails = ["b", "a", "é", "\uffff", "\U00010000", "Z", "aa", "a\x00"]
    batch = spark.createDataFrame(pd.DataFrame(
        {"url": [prefix + t for t in tails], "text": ["milk oil"] * len(tails)}))
    ids = {}
    for placement, bound in (("driver", len(tails)), ("distributed", 0)):
        monkeypatch.setattr(builder, "SMALL_BATCH_DOCS", bound)
        idx = str(tmp_path / placement)
        assert ingest_batch(spark, batch, idx, 0, cfg=BuildConfig(**INGEST_CFG)).placement == placement
        ids[placement] = landed_rows(spark, idx)["doc_stats"][["doc_id", "url"]]
    assert ids["driver"].equals(ids["distributed"])
    assert list(ids["driver"]["url"]) == sorted(ids["driver"]["url"], key=lambda u: u.encode())


def test_tokenizer_frozen_at_gen0(spark, corpora):
    """The analyzer choice is index geometry: gen 0 records it; a later
    generation with a conflicting explicit pin raises instead of silently
    mixing analyzers across generations."""
    import json

    tbl, base = corpora
    idx = os.path.join(base, "tok_frozen_idx")
    waves = write_waves(tbl, os.path.join(base, "tok_frozen"), [(0, 200), (200, 200)])
    ingest_batch(spark, spark.read.parquet(waves[0]), idx, 0,
                 cfg=BuildConfig(**INGEST_CFG, tokenizer="pandas"))
    with open(os.path.join(idx, "frozen.json")) as f:
        assert json.load(f)["tokenizer"] == "pandas"
    with pytest.raises(ValueError, match="tokenizer"):
        ingest_batch(spark, spark.read.parquet(waves[1]), idx, 1,
                     cfg=BuildConfig(**INGEST_CFG, tokenizer="jvm"))
    # "auto" defers to the frozen choice
    r = ingest_batch(spark, spark.read.parquet(waves[1]), idx, 1,
                     cfg=BuildConfig(**INGEST_CFG))
    assert not r.skipped and r.n_docs == 200


def test_shrunk_avgdl_floor_scale_sound(spark, corpora, tmp_path_factory):
    """A generation of SHORT docs shrinks cumulative avgdl below gen 0's
    build-time avgdl: gen-0's baked mtn is then attained by no doc, so the
    θ floor must shrink by min_g(avgdl_now/avgdl_g) (wand_floor_scale) —
    uncorrected it could exceed the true θ and prune a top-k range.  WAND
    must stay rank- AND score-identical to sort and to a batch rebuild over
    the union corpus, with the (corrected) floor still engaged."""
    tbl, _ = corpora
    base = str(tmp_path_factory.mktemp("shrink"))
    long_dir = os.path.join(base, "wave_long")
    os.makedirs(long_dir)
    pq.write_table(tbl.slice(0, 400), os.path.join(long_dir, "part-0.parquet"))

    import pandas as pd

    short = pd.DataFrame({
        "url": [f"zz://short/{i:05d}" for i in range(600)],
        "text": [
            ["milk oil", "the milk", "oil rice belt", "the oil oil",
             "milk milk rice"][i % 5]
            for i in range(600)
        ],
    })
    short_dir = os.path.join(base, "wave_short")
    spark.createDataFrame(short).write.mode("overwrite").parquet(short_dir)

    idx = os.path.join(base, "idx")
    for e, w in enumerate((long_dir, short_dir)):
        r = ingest_batch(spark, spark.read.parquet(w), idx, e, cfg=BuildConfig(**INGEST_CFG))
        assert not r.skipped and r.n_docs > 0
    eng = SearchEngine(spark, idx)

    assert eng.stats["wand_floor_scale"] < 1.0
    assert eng.floor_scale == eng.stats["wand_floor_scale"]
    assert eng.bound_scale == 1.0  # avgdl only shrank -> upper bounds keep

    union_dir = os.path.join(base, "union")
    spark.read.parquet(long_dir).select("url", "text").unionByName(
        spark.read.parquet(short_dir)
    ).write.mode("overwrite").parquet(union_dir)
    full_idx = os.path.join(base, "full")
    build_index(spark, union_dir, full_idx, BuildConfig(**INGEST_CFG, waves=1))
    full = SearchEngine(spark, full_idx)
    assert eng.avgdl == full.avgdl

    floor_seen = False
    for kw in ("milk oil", "the oil", "milk", "rice belt"):
        s = eng.search(kw, k=10, mode="sort", force_distributed=True)
        w = eng.search(kw, k=10, mode="wand", force_distributed=True)
        f = full.search(kw, k=10, mode="sort", force_distributed=True)
        assert list(s.page["doc_id"]) == list(w.page["doc_id"]) == list(f.page["doc_id"]), kw
        assert list(s.page["score"]) == list(w.page["score"]) == list(f.page["score"]), kw
        assert s.total == w.total == f.total, kw
        lw = eng.last_wand
        if lw is not None and lw.get("theta_floor"):
            floor_seen = True
            assert lw["theta"] >= lw["theta_floor"] - 1e-12
    assert floor_seen  # the corrected floor engages, not just disabled
