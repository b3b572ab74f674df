"""Phrase search (positional index) — rank identity vs the pure-Python oracle.

The engine's phrase operator is Atlas ``$search.phrase`` re-expressed over
the positional index: exact adjacency via composite-key intersections, BM25
over (tf_phrase, df_phrase). Both physical paths (driver fast path and the
sseg-repartitioned distributed kernel) must match ``OracleIndex.
search_phrase`` on doc_ids AND scores, including repeated-term phrases.
"""

import os

import pytest

PHRASES = [
    "milk milk",            # repeated term, overlapping occurrences
    "scan window",          # 2-term, several docs
    "scan window merge",    # 3-term
    "brown fox",            # single doc
    "milk",                 # 1-term phrase == plain tf scoring
    "fox brown",            # order matters: reversed bigram absent
    "zzz qqq",              # absent terms
]

DOCS = [
    "milk milk milk cow",                       # "milk milk" tf=2
    "the quick brown fox jumps",                # "brown fox" tf=1
    "scan window merge scan window",            # "scan window" tf=2, trigram tf=1
    "window scan window merge",                 # trigram tf=1
    "milk cow milk milk",                       # "milk milk" tf=1
    "scan merge window scan",                   # bigram absent (not adjacent)
    "plain filler text with no query words",
    "merge scan window merge scan window merge",  # bigram tf=2, trigram tf=2
]


@pytest.fixture(scope="module")
def phrase_corpus(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("phrase") / "corpus")
    rows = [(f"https://p{i:03d}.example.com/", t) for i, t in enumerate(DOCS)]
    spark.createDataFrame(rows, "url string, text string").write.parquet(path)
    return path, rows


@pytest.fixture(scope="module")
def phrase_oracle(phrase_corpus):
    from search_engine_spark.oracle import OracleIndex

    return OracleIndex(phrase_corpus[1])


@pytest.fixture(scope="module")
def phrase_index(spark, phrase_corpus, tmp_path_factory):
    from search_engine_spark.index.builder import BuildConfig, build_index

    index_dir = str(tmp_path_factory.mktemp("phrase") / "idx")
    cfg = BuildConfig(block_docs=4, target_ranges=4, min_range_docs=2,
                      n_partitions=4, waves=2, positions=True)
    build_index(spark, phrase_corpus[0], index_dir, cfg=cfg)
    return index_dir


@pytest.fixture(scope="module")
def phrase_engine(spark, phrase_index):
    from search_engine_spark.query.engine import SearchEngine

    return SearchEngine(spark, phrase_index)


def _hits(res):
    return [
        (int(d), round(float(s), 6))
        for d, s in zip(res.page["doc_id"], res.page["score"])
    ]


@pytest.mark.parametrize("force_dist", [False, True])
@pytest.mark.parametrize("kw", PHRASES)
def test_phrase_rank_identity(phrase_engine, phrase_oracle, kw, force_dist):
    want = phrase_oracle.search_phrase(kw, k=10)
    res = phrase_engine.search(kw, k=10, phrase=True, force_distributed=force_dist)
    assert _hits(res) == [(d, round(s, 6)) for d, s in want.hits]
    assert res.total == want.total


def test_repeated_term_tfs_are_exact(phrase_oracle):
    # pin the oracle itself on the overlap semantics the engine must copy:
    # "milk milk milk" contains "milk milk" at starts {0, 1} -> tf 2
    res = phrase_oracle.search_phrase("milk milk", k=10)
    tfs = {d: None for d, _ in res.hits}
    assert res.total == 2
    assert set(tfs) == {phrase_oracle.url_to_doc["https://p000.example.com/"],
                        phrase_oracle.url_to_doc["https://p004.example.com/"]}


@pytest.mark.parametrize("force_dist", [False, True])
def test_phrase_boosts_and_pagination(phrase_engine, phrase_oracle, force_dist):
    kw = "scan window"
    want = phrase_oracle.search_phrase(kw, k=2, skip=1,
                                       constant_boost=True, avail_boost=True)
    res = phrase_engine.search(kw, k=2, skip=1, phrase=True,
                               constant_boost=True, avail_boost=True,
                               force_distributed=force_dist)
    assert _hits(res) == [(d, round(s, 6)) for d, s in want.hits]
    assert res.total == want.total


def test_phrase_on_webtext_both_paths(spark, webtext_tiny, oracle_tiny, tmp_path_factory):
    """Rank identity on the real fixture corpus, phrases drawn from doc text."""
    import pyarrow.parquet as pq

    from search_engine_spark.analysis.text import tokenize
    from search_engine_spark.index.builder import BuildConfig, build_index
    from search_engine_spark.query.engine import SearchEngine

    index_dir = str(tmp_path_factory.mktemp("phrase") / "wt_idx")
    cfg = BuildConfig(block_docs=64, target_ranges=16, min_range_docs=64,
                      n_partitions=8, waves=2, positions=True)
    build_index(spark, webtext_tiny, index_dir, cfg=cfg)
    eng = SearchEngine(spark, index_dir)

    tbl = pq.read_table(os.path.join(webtext_tiny, "part-00000.parquet"))
    texts = tbl.column("text").to_pylist()
    phrases = [
        " ".join(tokenize(texts[7])[3:5]),
        " ".join(tokenize(texts[23])[10:13]),
        " ".join(tokenize(texts[40])[0:2]),
    ]
    for kw in phrases:
        want = oracle_tiny.search_phrase(kw, k=10)
        assert want.total >= 1  # drawn from real text, must hit
        for fd in (False, True):
            res = eng.search(kw, k=10, phrase=True, force_distributed=fd)
            assert _hits(res) == [(d, round(s, 6)) for d, s in want.hits], (kw, fd)
            assert res.total == want.total


def test_phrase_requires_positional_index(spark, index_tiny):
    from search_engine_spark.query.engine import SearchEngine

    with pytest.raises(ValueError, match="positional"):
        SearchEngine(spark, index_tiny).search("scan window", phrase=True)


def test_positional_build_paths_identical(spark, phrase_corpus, tmp_path_factory):
    """JVM vs pandas tokenizer and broadcast vs distributed vocab: the
    positional segment contents (incl. the positions blobs) are identical."""
    from search_engine_spark.index.builder import BuildConfig, build_index

    base = dict(block_docs=4, target_ranges=4, min_range_docs=2,
                n_partitions=4, waves=2, positions=True)
    outs = {}
    for name, extra in {
        "jvm": dict(tokenizer="jvm"),
        "pandas": dict(tokenizer="pandas"),
        "idmode": dict(tokenizer="jvm", dict_budget=1),
    }.items():
        d = str(tmp_path_factory.mktemp("phrase") / f"idx_{name}")
        build_index(spark, phrase_corpus[0], d, cfg=BuildConfig(**base, **extra))
        pdf = (
            spark.read.parquet(os.path.join(d, "segments"))
            .select("term", "sseg", "block_id", "postings", "positions")
            .toPandas()
            .sort_values(["term", "sseg", "block_id"])
            .reset_index(drop=True)
        )
        outs[name] = pdf
    for name in ("pandas", "idmode"):
        assert outs["jvm"].equals(outs[name]), name


def test_positional_resume_identical(spark, phrase_corpus, tmp_path_factory):
    """Kill after wave 1, resume: the positional index is byte-identical."""
    from search_engine_spark.index.builder import BuildConfig, build_index

    cfg = BuildConfig(block_docs=4, target_ranges=4, min_range_docs=2,
                      n_partitions=4, waves=2, positions=True)
    whole = str(tmp_path_factory.mktemp("phrase") / "whole")
    build_index(spark, phrase_corpus[0], whole, cfg=cfg)
    resumed = str(tmp_path_factory.mktemp("phrase") / "resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, phrase_corpus[0], resumed, cfg=cfg, fail_after_wave=1)
    build_index(spark, phrase_corpus[0], resumed, cfg=cfg)

    def seg(d):
        return (
            spark.read.parquet(os.path.join(d, "segments"))
            .select("term", "sseg", "block_id", "postings", "positions")
            .toPandas()
            .sort_values(["term", "sseg", "block_id"])
            .reset_index(drop=True)
        )

    assert seg(whole).equals(seg(resumed))


def test_phrase_through_ingest_and_compaction(spark, phrase_corpus, phrase_oracle,
                                              tmp_path_factory):
    """Positional layout survives the full index lifecycle: streaming ingest
    (2 generations) answers phrase queries rank-identically to the oracle,
    compaction preserves them, and a cfg that disagrees with the frozen
    positional layout raises instead of mixing schemas."""
    from pyspark.sql import functions as F

    from search_engine_spark.index.builder import BuildConfig
    from search_engine_spark.index.compact import compact_index
    from search_engine_spark.query.engine import SearchEngine
    from search_engine_spark.streaming.ingest import ingest_batch

    inc_dir = str(tmp_path_factory.mktemp("phrase") / "inc")
    cfg = BuildConfig(block_docs=4, target_ranges=4, min_range_docs=2,
                      n_partitions=4, waves=2, positions=True)
    docs = spark.read.parquet(phrase_corpus[0])
    n = docs.count()
    # url-lex split so incremental doc_ids equal the oracle's global ranks
    urls = sorted(r["url"] for r in docs.select("url").collect())
    cut = urls[n // 2]
    ingest_batch(spark, docs.filter(F.col("url") <= cut), inc_dir, 0,
                 cfg=cfg, expected_docs=n)
    ingest_batch(spark, docs.filter(F.col("url") > cut), inc_dir, 1, cfg=cfg)

    phrases = ["milk milk", "scan window merge", "scan window"]
    eng = SearchEngine(spark, inc_dir)
    for kw in phrases:
        want = phrase_oracle.search_phrase(kw, k=10)
        for fd in (False, True):
            res = eng.search(kw, k=10, phrase=True, force_distributed=fd)
            assert _hits(res) == [(d, round(s, 6)) for d, s in want.hits], (kw, fd)
            assert res.total == want.total

    out_dir = str(tmp_path_factory.mktemp("phrase") / "compacted")
    metrics = compact_index(spark, inc_dir, out_dir)
    assert metrics["generations_in"] == 2
    ceng = SearchEngine(spark, out_dir)
    for kw in phrases:
        want = phrase_oracle.search_phrase(kw, k=10)
        res = ceng.search(kw, k=10, phrase=True)
        assert _hits(res) == [(d, round(s, 6)) for d, s in want.hits], kw
        assert res.total == want.total

    with pytest.raises(ValueError, match="with_positions"):
        ingest_batch(spark, docs.limit(1), inc_dir, 2,
                     cfg=BuildConfig(block_docs=4, target_ranges=4,
                                     min_range_docs=2, n_partitions=4, waves=2))


@pytest.mark.parametrize("force_dist", [False, True])
def test_highlight_first_offsets(phrase_engine, phrase_oracle, force_dist):
    """highlight=True: page rows carry each matched term's first token
    offset as 'term@pos ...' (terms ascending), equal to the oracle's
    positional postings."""
    kw = "scan window"
    res = phrase_engine.search(kw, k=10, highlight=True,
                               force_distributed=force_dist)
    assert len(res.page)
    for _, row in res.page.iterrows():
        d = int(row["doc_id"])
        want = " ".join(sorted(
            f"{t}@{phrase_oracle.positions[t][d][0]}"
            for t in sorted(set(kw.split()))
            if d in phrase_oracle.positions.get(t, {})
        ))
        assert row["highlights"] == want, (d, row["highlights"], want)


@pytest.mark.parametrize("force_dist", [False, True])
def test_phrase_highlight_first_start(phrase_engine, phrase_oracle, force_dist):
    """phrase + highlight: first_pos is the first phrase-START offset."""
    kw = "scan window merge"
    res = phrase_engine.search(kw, k=10, phrase=True, highlight=True,
                               force_distributed=force_dist)
    assert len(res.page)
    terms = kw.split()
    for _, row in res.page.iterrows():
        d = int(row["doc_id"])
        starts = set(phrase_oracle.positions[terms[0]][d])
        for i, t in enumerate(terms[1:], 1):
            starts &= {p - i for p in phrase_oracle.positions[t][d]}
        assert int(row["first_pos"]) == min(starts)


def test_highlight_repeated_term_phrase(phrase_engine):
    # "milk milk milk cow": phrase "milk milk" starts at 0 and 1 -> first 0
    res = phrase_engine.search("milk milk", k=10, phrase=True, highlight=True)
    by_doc = {int(d): int(p) for d, p in zip(res.page["doc_id"], res.page["first_pos"])}
    assert 0 in by_doc.values()


def test_highlight_requires_positional_index(spark, index_tiny):
    from search_engine_spark.query.engine import SearchEngine

    with pytest.raises(ValueError, match="positional"):
        SearchEngine(spark, index_tiny).search("scan window", highlight=True)


@pytest.mark.parametrize("force_dist", [False, True])
@pytest.mark.parametrize("kw,gap", [
    ("scan window", 1),    # matches "scan merge window" (gap 1) too
    ("scan window", 2),
    ("milk milk", 1),      # repeated term with a gap
    ("scan window merge", 1),
    ("milk cow", 3),
])
def test_ordered_proximity_rank_identity(phrase_engine, phrase_oracle, kw, gap,
                                         force_dist):
    """max_gap>0: ordered NEAR semantics — rank identity vs the oracle."""
    want = phrase_oracle.search_phrase(kw, k=10, max_gap=gap)
    res = phrase_engine.search(kw, k=10, phrase=True, max_gap=gap,
                               force_distributed=force_dist)
    assert _hits(res) == [(d, round(s, 6)) for d, s in want.hits]
    assert res.total == want.total


def test_ordered_proximity_widens_matches(phrase_engine, phrase_oracle):
    # "scan merge window scan" has scan..window at gap 1, not adjacent
    exact = phrase_oracle.search_phrase("scan window", k=10)
    near = phrase_oracle.search_phrase("scan window", k=10, max_gap=1)
    assert near.total > exact.total
    res = phrase_engine.search("scan window", k=10, phrase=True, max_gap=1)
    assert res.total == near.total


def test_ordered_proximity_rejects_highlight(phrase_engine):
    with pytest.raises(ValueError, match="max_gap"):
        phrase_engine.search("scan window", k=5, phrase=True, max_gap=1,
                             highlight=True)


def _formatted_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_positions_column_pruned_from_scoring_plans(phrase_engine):
    """The .doc/.pos split must be real in the PHYSICAL plan: a non-phrase
    scoring scan never reads the positions column; the phrase candidate
    scan does; and the term filter is pushed to the parquet scan."""
    def plan(**opts):
        return _formatted_plan(
            phrase_engine._blocks(phrase_engine._search_query("scan window", **opts))
        )

    score_plan = plan()
    assert "positions" not in score_plan
    assert "PushedFilters" in score_plan and "term" in score_plan
    assert "positions" in plan(phrase=True)


def test_phrase_rejects_explicit_wand(phrase_engine):
    """Block score bounds do not bound a phrase's score: an explicit
    ``mode="wand"`` raises like dv_filter/sort do, while ``mode="auto"``
    runs the phrase unpruned on both placements."""
    for fd in (False, True):
        with pytest.raises(ValueError, match="mode='wand'"):
            phrase_engine.search("scan window", phrase=True, mode="wand",
                                 force_distributed=fd)
        auto = phrase_engine.search("scan window", phrase=True, mode="auto",
                                    force_distributed=fd)
        plain = phrase_engine.search("scan window", phrase=True)
        assert _hits(auto) == _hits(plain) and auto.total == plain.total > 0


def test_phrase_rejects_fuzzy(phrase_engine):
    with pytest.raises(ValueError, match="fuzzy"):
        phrase_engine.search("scan window", phrase=True, fuzzy=1)


def test_phrase_matcher_property_vs_bruteforce():
    """Randomized corpora: the composite-key matcher (exact and max_gap)
    equals a direct sliding-scan over the token streams — doc set, tfs,
    dls, and exact-phrase first starts."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from search_engine_spark.query.engine import _phrase_match_arrays

    alphabet = ["a", "b", "c", "d"]

    @given(
        st.lists(st.lists(st.sampled_from(alphabet), min_size=1, max_size=12),
                 min_size=1, max_size=12),
        st.lists(st.sampled_from(alphabet), min_size=1, max_size=3),
        st.integers(0, 2),
    )
    @settings(max_examples=150, deadline=None)
    def check(docs, phrase, gap):
        # decoded[t] = (doc_ids, tfs, dls, pos_flat) as the engine builds it
        decoded = {}
        for t in set(phrase):
            ids, tfs, dls, pos = [], [], [], []
            for d, toks in enumerate(docs):
                p = [i for i, x in enumerate(toks) if x == t]
                if p:
                    ids.append(d); tfs.append(len(p)); dls.append(len(toks))
                    pos.extend(p)
            decoded[t] = (
                np.array(ids, dtype=np.int64), np.array(tfs, dtype=np.int64),
                np.array(dls, dtype=np.int64), np.array(pos, dtype=np.int64),
            )
        uniq, tfs_, dls_, firsts = _phrase_match_arrays(phrase, decoded, max_gap=gap)

        # brute force: chain of END positions with per-adjacent gap <= gap+1
        want = {}
        for d, toks in enumerate(docs):
            ends = {i for i, x in enumerate(toks) if x == phrase[0]}
            for t in phrase[1:]:
                nxt = set()
                for i, x in enumerate(toks):
                    if x == t and any(1 <= i - q <= gap + 1 for q in ends):
                        nxt.add(i)
                ends = nxt
            if ends:
                want[d] = (len(ends), len(toks))
        assert dict(zip(uniq.tolist(), zip(tfs_.tolist(), dls_.tolist()))) == want
        if gap == 0:
            m = len(phrase)
            for d, f in zip(uniq.tolist(), firsts.tolist()):
                toks = docs[d]
                starts = [i for i in range(len(toks) - m + 1)
                          if toks[i:i + m] == phrase]
                assert f == min(starts)

    check()


def test_phrase_keep_selection_is_exact():
    """The distributed phrase plan keeps each task's rows before the phrase
    idf is known (``_phrase_keep``).  Scoring and ranking only the kept
    rows of 1-3 tasks must give the page that scoring and ranking every
    row gives — ids and float-hex scores — for every boost class, skip and
    k (skip+k from 1 to 14), on seeded random rows and on tie-dense rows:
    at avgdl 300, (tf=2, dl=2d+100) and (tf=1, dl=d) have equal tf_norm in
    exact arithmetic, so their float tf_norms and scores tie or differ by
    an ulp, in either order."""
    import numpy as np
    import pandas as pd

    from search_engine_spark.query.engine import (
        _math_idf,
        _phrase_keep,
        _phrase_scored,
        _Query,
        _rank,
    )

    n_docs = 10_000

    def page(q, rows, df, avgdl):
        s = _phrase_scored(q, rows, df, avgdl)
        top = _rank(q, s)[q.skip : q.skip + q.k]
        return [(int(d), float(v).hex()) for d, v in zip(s["doc_id"].iloc[top],
                                                       s["score"].iloc[top])]

    rng = np.random.default_rng(20260)
    for case in range(7_500):
        if case % 5 < 4:  # 6,000 tie-dense cases
            d = rng.integers(20, 400, int(rng.integers(1, 16)))
            tf = np.concatenate([np.full(d.size, 2), np.ones(d.size, np.int64)])
            dl = np.concatenate([2 * d + 100, d])
            avgdl = 300.0
        else:
            tf = rng.integers(1, 5, int(rng.integers(1, 30)))
            dl = tf + rng.integers(0, 600, tf.size)
            avgdl = float(rng.uniform(50.0, 500.0))
        rows = pd.DataFrame({"doc_id": rng.choice(100_000, tf.size, replace=False), "tf": tf,
                             "dl": dl, "first_pos": np.zeros(tf.size, np.int64)})
        df = tf.size + int(rng.integers(0, 50))  # a dv filter may drop rows
        q = _Query(
            keys=["t"], n_docs={"t": n_docs},
            idf={"t": _math_idf(n_docs, df + int(rng.integers(0, 100)))},
            k=int(rng.integers(1, 8)), skip=int(rng.integers(0, 8)),
            constant_boost=bool(rng.integers(2)), avail_boost=bool(rng.integers(2)),
        )
        task = rng.integers(0, int(rng.integers(1, 4)), tf.size)
        kept = pd.concat([_phrase_keep(q, rows[task == t], avgdl) for t in np.unique(task)],
                         ignore_index=True)
        assert page(q, kept, df, avgdl) == page(q, rows, df, avgdl), case
