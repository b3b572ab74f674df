"""End-to-end: Spark index build + query engine vs the pure-Python oracle.

Rank identity = identical (doc_id, score) sequences on the reference query set
(reference test_cases/test_app.py:336,355,374, utils.py:79, metaphone.py:8)
plus generated queries, per BASELINE.json's north_rule.
"""

import numpy as np
import pytest

REFERENCE_QUERIES = ["rice", "cadbury dairy milk", "belt", "oil", "milk"]
GENERATED_QUERIES = [
    "the",  # Zipf head term (skew path)
    "oi",  # autocomplete prefix, multi-expansion
    "bel",  # autocomplete prefix
    "rs 10 oil",  # stopword filter pass-through
    "a belt leather",  # 2nd-char-space strip
    "dairy milk",
    "zzzzqqqq",  # no match
]


def assert_rank_identical(spark_result, oracle_result, label=""):
    assert spark_result.total == oracle_result.total, f"{label}: total mismatch"
    got = [(int(d), float(s)) for d, s in zip(spark_result.page["doc_id"], spark_result.page["score"])]
    want = [(d, s) for d, s in oracle_result.hits]
    assert [g[0] for g in got] == [w[0] for w in want], f"{label}: doc_id order mismatch\n{got}\n{want}"
    np.testing.assert_allclose(
        [g[1] for g in got], [w[1] for w in want], rtol=0, atol=1e-9, err_msg=label
    )


@pytest.fixture(scope="module")
def engine(spark, index_tiny):
    from search_engine_spark.query import SearchEngine

    return SearchEngine(spark, index_tiny)


@pytest.mark.parametrize("kw", REFERENCE_QUERIES + GENERATED_QUERIES)
def test_rank_identity_sort_mode(engine, oracle_tiny, kw):
    got = engine.search(kw, k=10, force_distributed=True)
    want = oracle_tiny.search(kw, k=10)
    assert_rank_identical(got, want, label=f"sort:{kw!r}")


@pytest.mark.parametrize("kw", REFERENCE_QUERIES + ["the", "oi"])
def test_rank_identity_wand_mode(engine, oracle_tiny, kw):
    got = engine.search(kw, k=10, mode="wand", force_distributed=True)
    want = oracle_tiny.search(kw, k=10)
    assert_rank_identical(got, want, label=f"wand:{kw!r}")


@pytest.mark.parametrize("kw", REFERENCE_QUERIES + GENERATED_QUERIES)
def test_rank_identity_driver_fast_path(engine, oracle_tiny, kw):
    got = engine.search(kw, k=10)  # small candidate set -> driver path
    want = oracle_tiny.search(kw, k=10)
    assert_rank_identical(got, want, label=f"driver:{kw!r}")


def test_wand_matches_sort_exactly(engine):
    for kw in ["milk", "cadbury dairy milk", "the"]:
        a = engine.search(kw, k=25, mode="sort", force_distributed=True).page
        b = engine.search(kw, k=25, mode="wand", force_distributed=True).page
        c = engine.search(kw, k=25).page  # driver fast path
        assert a["doc_id"].tolist() == b["doc_id"].tolist() == c["doc_id"].tolist(), kw
        np.testing.assert_array_equal(a["score"].to_numpy(), b["score"].to_numpy())
        np.testing.assert_allclose(
            a["score"].to_numpy(), c["score"].to_numpy(), rtol=0, atol=1e-12
        )


@pytest.mark.parametrize("force_dist", [False, True])
def test_grouped_rank_identity(engine, oracle_tiny, force_dist):
    """Engine group_by= vs the pure-Python oracle's grouped rollup — both
    paths (driver fast path and distributed sort path)."""
    for kw in ["milk", "cadbury dairy milk", "the"]:
        got = engine.search(kw, k=10, group_by=True, force_distributed=force_dist)
        total, rows = oracle_tiny.search_grouped(kw, k=10)
        assert got.total == total, kw
        g = [
            (int(r.g_id), int(r.doc_id), round(float(r.score), 6), int(r.n_docs))
            for r in got.page.itertuples()
        ]
        e = [(gid, d, round(s, 6), n) for gid, d, s, n in rows]
        assert g == e, f"grouped:{kw!r}: {g[:3]} != {e[:3]}"


@pytest.mark.parametrize("force_dist", [False, True])
def test_conjunctive(engine, oracle_tiny, force_dist):
    got = engine.search("cadbury dairy", k=50, conjunctive=True, force_distributed=force_dist)
    want = oracle_tiny.search("cadbury dairy", k=50, conjunctive=True)
    assert_rank_identical(got, want, label="conj")
    # term absent from corpus -> empty
    assert engine.search("cadbury zzzzqqqq", k=10, conjunctive=True).total == 0


@pytest.mark.parametrize("force_dist", [False, True])
def test_boosts(engine, oracle_tiny, force_dist):
    for cb, ab in [(True, False), (False, True), (True, True)]:
        got = engine.search(
            "milk", k=15, constant_boost=cb, avail_boost=ab, force_distributed=force_dist
        )
        want = oracle_tiny.search("milk", k=15, constant_boost=cb, avail_boost=ab)
        assert_rank_identical(got, want, label=f"boost cb={cb} ab={ab}")


@pytest.mark.parametrize("force_dist", [False, True])
def test_pagination(engine, oracle_tiny, force_dist):
    for skip in [0, 5, 10]:
        got = engine.search("the", k=5, skip=skip, force_distributed=force_dist)
        want = oracle_tiny.search("the", k=5, skip=skip)
        assert_rank_identical(got, want, label=f"skip={skip}")


def test_doc_ids_are_lex_rank(spark, index_tiny, oracle_tiny):
    from search_engine_spark.catalog import IndexCatalog

    cat = IndexCatalog(index_tiny)
    rows = spark.read.parquet(cat.doc_stats).select("doc_id", "url").collect()
    for r in rows:
        assert oracle_tiny.url_to_doc[r["url"]] == r["doc_id"]


def test_manifest_lineage(spark, index_tiny):
    from search_engine_spark.catalog import IndexCatalog

    cat = IndexCatalog(index_tiny)
    m = cat.read_manifest().to_pydict()
    done = [i for i, s in enumerate(m["status"]) if s == "done" and m["partition_id"][i] >= 0]
    assert len(done) == 8  # n_partitions
    # term ranges are disjoint and ordered by partition id
    rows = sorted(
        [(m["partition_id"][i], m["term_lo"][i], m["term_hi"][i]) for i in done if m["term_lo"][i]]
    )
    for (p1, _, hi1), (p2, lo2, _) in zip(rows, rows[1:]):
        assert hi1 <= lo2, f"overlapping term ranges p{p1}..p{p2}"
    # lineage counts match the actual segment table
    seg = spark.read.parquet(cat.segments)
    total_postings = seg.groupBy().sum("doc_count").collect()[0][0]
    assert sum(m["postings_count"][i] for i in done) == total_postings


def test_with_url_hydration(engine, spark, webtext_tiny):
    """Response hydration (reference B21: search_utils.py:26-59 joins ids
    back to display fields): with_url=True attaches the source url to every
    page row, on both the driver fast path and the distributed path."""
    import pyarrow.parquet as pq
    import os as _os

    tbl = pq.read_table(_os.path.join(webtext_tiny, "part-00000.parquet"))
    url_by_doc = dict(
        zip(sorted(tbl.column("url").to_pylist()), range(len(tbl.column("url"))))
    )  # doc_id = lex rank of url
    for force in (False, True):
        res = engine.search("oil", k=5, with_url=True, force_distributed=force)
        assert "url" in res.page.columns and len(res.page) == 5
        assert res.page["url"].notna().all()
        for _, row in res.page.iterrows():
            assert url_by_doc[row["url"]] == int(row["doc_id"])


def test_wand_total_modes(engine):
    """Single-term WAND totals come from precomputed df (exact, no decode);
    approx mode upper-bounds multi-term totals without a decode."""
    kw = "oil"
    exact = engine.search(kw, k=5, mode="sort", force_distributed=True)
    wand = engine.search(kw, k=5, mode="wand", force_distributed=True)
    assert wand.total == exact.total  # single matched term -> df shortcut

    multi = "oil water"
    ex = engine.search(multi, k=5, mode="wand", force_distributed=True)
    ap = engine.search(multi, k=5, mode="wand", force_distributed=True, total_mode="approx")
    assert ap.total >= ex.total  # Σdf is an upper bound on distinct docs
    assert list(ex.page["doc_id"]) == list(ap.page["doc_id"])  # page unaffected

    # conjunctive approx bound is min(df) — tight for an intersection, where
    # Σdf can overstate by orders of magnitude
    conj_kw = "milk oil"
    exc = engine.search(conj_kw, k=5, mode="wand", conjunctive=True, force_distributed=True)
    apc = engine.search(
        conj_kw, k=5, mode="wand", conjunctive=True, force_distributed=True,
        total_mode="approx",
    )
    dfs = engine.term_dfs(["milk", "oil"])
    assert exc.total <= apc.total == min(dfs.values()) < sum(dfs.values())
    assert list(exc.page["doc_id"]) == list(apc.page["doc_id"])


# ------------------------------------------------------------------- fuzzy

FUZZY_QUERIES = [
    ("ricee", 1),   # insert -> rice
    ("melk", 1),    # sub -> milk (and any other ed-1 neighbors)
    ("oul", 1),     # sub -> oil
    ("beltt oi", 1),  # multi-term: each term expands independently
    ("milk", 2),    # wider neighborhood of a real term
    ("zzzzqqqq", 1),  # nothing within distance 1
]


@pytest.mark.parametrize("force_dist", [False, True])
@pytest.mark.parametrize("kw,f", FUZZY_QUERIES)
def test_fuzzy_rank_identity(engine, oracle_tiny, kw, f, force_dist):
    got = engine.search(kw, k=10, fuzzy=f, force_distributed=force_dist)
    want = oracle_tiny.search_fuzzy(kw, k=10, fuzzy=f)
    assert_rank_identical(got, want, f"fuzzy {kw} f={f} dist={force_dist}")


def test_fuzzy_expansion_matches_oracle(engine, oracle_tiny):
    for qt, f in [("melk", 1), ("oul", 1), ("milk", 2)]:
        assert engine.expand_fuzzy(qt, f) == oracle_tiny.expand_fuzzy(qt, f)
        assert engine.expand_fuzzy(qt, f, max_expansions=2) == \
            oracle_tiny.expand_fuzzy(qt, f)[:2]


def test_fuzzy_widens_beyond_exact(engine, oracle_tiny):
    exact = engine.search("milk", k=5)
    fz = engine.search("melk", k=5, fuzzy=1)
    assert fz.total >= 1
    # "milk" itself is within distance 1 of "melk", so every exact match
    # is reachable through the fuzzy neighborhood
    assert fz.total >= exact.total or exact.total == 0


def test_fuzzy_rejects_conjunctive(engine):
    with pytest.raises(ValueError, match="conjunctive"):
        engine.search("dairy milk", fuzzy=1, conjunctive=True)


def test_suggest_matches_oracle(engine, oracle_tiny):
    # real terms suggest themselves (distance 0, highest df wins among
    # the neighborhood); misspellings map to their best neighbor; garbage
    # maps to None
    for qt in ["milk", "melk", "ricee", "oul", "zzzzqqqq"]:
        assert engine.suggest(qt) == oracle_tiny.suggest(qt), qt


@pytest.mark.parametrize("kw,f", [("melk", 1), ("beltt oi", 1), ("milk", 2)])
def test_fuzzy_rank_identity_wand_mode(engine, oracle_tiny, kw, f):
    """Fuzzy expansion through block-max WAND: the multi-variant disjunction
    must survive theta pruning rank-identically."""
    got = engine.search(kw, k=10, fuzzy=f, mode="wand", force_distributed=True)
    want = oracle_tiny.search_fuzzy(kw, k=10, fuzzy=f)
    assert_rank_identical(got, want, f"fuzzy-wand {kw} f={f}")


def test_ids_at_or_above_2_31(spark, webtext_tiny, tmp_path, monkeypatch):
    """Corpus-supplied ids (``id_col``) of 2^31 and up: the build records
    the real max doc id and encodes int64 doc ids (the dense-rank bound
    n_docs - 1 would pick int32 and overflow), and both query placements
    return those ids with the oracle's scores; so does an ingest of the
    same pages on each of its placements."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.index import builder
    from search_engine_spark.index.builder import BuildConfig, build_index
    from search_engine_spark.oracle import OracleIndex
    from search_engine_spark.query.engine import SearchEngine
    from search_engine_spark.streaming import ingest as ingest_mod

    base = 1 << 31
    tbl = pq.read_table(webtext_tiny).sort_by("url").slice(0, 100)
    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    pq.write_table(tbl.append_column("my_id", pa.array(base + np.arange(100), pa.int64())),
                   os.path.join(corpus, "part-0.parquet"))
    oracle = OracleIndex(list(zip(tbl.column("url").to_pylist(), tbl.column("text").to_pylist())))
    cfg = BuildConfig(block_docs=64, target_ranges=4, min_range_docs=16, n_partitions=4, waves=1)
    built = str(tmp_path / "built")
    build_index(spark, corpus, built, cfg=cfg, id_col="my_id")
    assert SearchEngine(spark, built).stats["max_doc_id"] == base + 99
    indexes = [built]
    for bound in (100, 99):
        monkeypatch.setattr(builder, "SMALL_BATCH_DOCS", bound)
        indexes.append(str(tmp_path / f"ingested_{bound}"))
        r = ingest_mod.ingest_batch(spark, spark.read.parquet(corpus), indexes[-1], 0,
                                    cfg=cfg, id_col="my_id")
        assert r.placement == ("driver" if bound == 100 else "distributed")
    for idx in indexes:
        eng = SearchEngine(spark, idx)
        for kw in ["the", "milk", "oil"]:
            want = oracle.search(kw, k=10)
            for placed in ({}, {"force_distributed": True}):
                got = eng.search(kw, k=10, **placed)
                assert got.total == want.total, (idx, kw, placed)
                assert [int(d) for d in got.page["doc_id"]] == [base + d for d, _ in want.hits]
                np.testing.assert_allclose(got.page["score"], [s for _, s in want.hits],
                                           rtol=0, atol=1e-9)


def test_vocab_cuts_equal_build_vocab(spark, index_tiny, tmp_path):
    """The driver placement's term cuts (``vocab_cuts``, numpy over the
    sorted vocabulary's dfs) are ``build_vocab``'s, on the 1,000-page
    vocabulary at several partition counts, on a table whose mega-terms
    repeat a cut, and where the partitions outnumber the postings."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.catalog import IndexCatalog
    from search_engine_spark.index.builder import build_vocab, vocab_cuts

    tiny = pq.read_table(IndexCatalog(index_tiny).term_stats, columns=["term", "df"])
    mega = pa.table({"term": [f"t{i:02d}" for i in range(12)],
                     "df": pa.array([1, 1, 900, 2, 1, 400, 1, 1, 1, 3, 250, 1], pa.int64())})
    few = pa.table({"term": ["a", "b", "c"], "df": pa.array([2, 1, 2], pa.int64())})
    for name, tbl, ns in (("tiny", tiny, (1, 2, 4, 8, 64, 103, 104, 105, 257)),
                          ("mega", mega, (2, 3, 8, 16)), ("few", few, (8,))):
        tbl = tbl.sort_by("term")
        path = str(tmp_path / name)
        spark.createDataFrame(tbl).write.parquet(path)
        terms = tbl.column("term").to_numpy(zero_copy_only=False)
        df = tbl.column("df").to_numpy()
        for n in ns:
            cuts, total, _, ranked, _ = build_vocab(spark, path, n)
            ranked.unpersist()
            assert vocab_cuts(terms, df, n) == cuts, (name, n)
            assert total == df.sum()
            if name == "mega" and n == 16:
                assert len(set(cuts)) < len(cuts)
            if name == "few":
                assert len(cuts) < n - 1


def test_extraction_runs_only_on_null_text(spark, webtext_tiny, tmp_path):
    """``with_extracted_text`` fills null ``text`` from ``html`` and sends
    only those rows through the extraction UDF: a corpus of mixed null and
    non-null text tokenizes as the same corpus filled on the driver does,
    and the rows that carry text take a union branch with no
    ``ArrowEvalPython`` in its physical plan."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from search_engine_spark.analysis.text import extract_text_series
    from search_engine_spark.index.builder import tokens_from_docs, with_extracted_text

    tbl = pq.read_table(webtext_tiny, columns=["url", "html", "text"]).slice(0, 90)
    tbl = tbl.append_column("doc_id", pa.array(np.arange(90), pa.int64()))
    null = pa.array(np.arange(90) % 3 == 0)
    mixed = tbl.set_column(2, "text", pc.if_else(null, pa.nulls(90, pa.string()), tbl["text"]))
    filled = extract_text_series(mixed.column("html").to_pandas()).where(
        null.to_numpy(zero_copy_only=False), mixed.column("text").to_pandas())
    want_tbl = mixed.set_column(2, "text", pa.array(filled, pa.string()))
    dirs = {}
    for name, t in (("mixed", mixed), ("filled", want_tbl)):
        dirs[name] = str(tmp_path / name)
        os.makedirs(dirs[name])
        pq.write_table(t, os.path.join(dirs[name], "part-0.parquet"))

    def tokens(df):
        return tokens_from_docs(df).toPandas().sort_values(["doc_id", "term"]).reset_index(
            drop=True)

    docs = with_extracted_text(spark.read.parquet(dirs["mixed"]))
    assert tokens(docs).equals(tokens(spark.read.parquet(dirs["filled"])))
    # the physical plan is a Union; split it into its two children
    plan = docs._jdf.queryExecution().executedPlan().toString().splitlines()
    at = next(i for i, line in enumerate(plan) if line.lstrip(" +-:").startswith("Union"))
    indent = len(plan[at]) - len(plan[at].lstrip(" +-:"))
    second = next(i for i in range(at + 1, len(plan)) if plan[i][indent:].startswith("+- "))
    with_text, without = "\n".join(plan[at + 1:second]), "\n".join(plan[second:])
    assert "ArrowEvalPython" not in with_text and "isnotnull(text" in with_text, plan
    assert "ArrowEvalPython" in without and "isnull(text" in without, plan
