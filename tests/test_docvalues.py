"""Doc-values range/equals filter clauses (Atlas compound.filter operators
beyond text; Lucene FILTER occur + DocValues storage).

``BuildConfig(docvalues_cols=...)`` bakes per-doc attribute columns onto the
doc_stats sidecar; ``search_fields(filter=[{"range": ...}, {"equals": ...}])``
evaluates them as a predicate-pushed doc_stats scan semi-joined with the
term-driven candidate set.  These tests pin both physical paths (driver and
distributed) rank- AND score-identical to the multi-field oracle post-filtered
by the same predicate, plus the fail-loud validation surface.
"""

import hashlib
import os

import numpy as np
import pandas as pd
import pytest

from search_engine_spark.analysis.text import tokenize
from search_engine_spark.oracle import OracleMultiFieldIndex

TITLE_LEN = 6
# en-heavy, deterministic by url hash; ~10% None (lang-ID abstained) so the
# exists operator and equals/range null semantics have real rows to drop
LANGS = ("en", "en", "de", "fr", "en", "en", "de", "fr", "en", None)


def _lang_of(url: str):
    return LANGS[int(hashlib.md5(url.encode()).hexdigest(), 16) % len(LANGS)]


@pytest.fixture(scope="module")
def dv_rows(webtext_tiny):
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(webtext_tiny, "part-00000.parquet"))
    rows = []
    for url, text, ts in zip(
        tbl.column("url").to_pylist(),
        tbl.column("text").to_pylist(),
        tbl.column("warc_ts").to_pylist(),
    ):
        toks = tokenize(text)
        rows.append(
            (
                url,
                {"title": " ".join(toks[:TITLE_LEN]), "body": " ".join(toks[TITLE_LEN:])},
                {"lang": _lang_of(url), "n_chars": len(text), "warc_ts": ts},
            )
        )
    return rows


@pytest.fixture(scope="module")
def dv_oracle(dv_rows):
    return OracleMultiFieldIndex([(u, f) for u, f, _ in dv_rows])


@pytest.fixture(scope="module")
def dv_attrs(dv_rows):
    """doc_id -> attribute dict, under the builder's url-lex-rank id rule."""
    urls = sorted(u for u, _, _ in dv_rows)
    rank = {u: i for i, u in enumerate(urls)}
    return {rank[u]: a for u, _, a in dv_rows}


@pytest.fixture(scope="module")
def dv_index(spark, dv_rows, tmp_path_factory):
    from search_engine_spark.index.builder import BuildConfig, build_index

    corpus = str(tmp_path_factory.mktemp("dv") / "corpus")
    spark.createDataFrame(
        [
            (u, f["title"], f["body"], a["lang"], a["n_chars"], a["warc_ts"])
            for u, f, a in dv_rows
        ],
        "url string, title string, body string, lang string, n_chars long, "
        "warc_ts timestamp",
    ).write.mode("overwrite").parquet(corpus)
    index_dir = str(tmp_path_factory.mktemp("dv") / "index")
    cfg = BuildConfig(
        block_docs=64, target_ranges=16, min_range_docs=64, n_partitions=8,
        waves=2, field_cols=("title", "body"), positions=True,
        docvalues_cols=("lang", "n_chars", "warc_ts"),
    )
    metrics = build_index(spark, corpus, index_dir, cfg=cfg)
    assert metrics["n_docs"] == len(dv_rows)
    return index_dir


@pytest.fixture(scope="module")
def dv_engine(spark, dv_index):
    from search_engine_spark.query.engine import SearchEngine

    return SearchEngine(spark, dv_index)


@pytest.fixture(scope="module")
def dv_term(dv_oracle):
    """Highest-df title term (df desc, term asc tiebreak) — a dense clause."""
    cands = [
        (len(pl), t) for (f, t), pl in dv_oracle.postings.items() if f == "title"
    ]
    return min(cands, key=lambda c: (-c[0], c[1]))[1]


@pytest.fixture(scope="module")
def chars_band(dv_attrs):
    """[median, p90) of n_chars — a selective but non-empty band."""
    vals = sorted(a["n_chars"] for a in dv_attrs.values())
    return vals[len(vals) // 2], vals[(len(vals) * 9) // 10]


def _expected(oracle, attrs, pred, k=15, **kw):
    """Oracle compound evaluation post-filtered by the attribute predicate
    BEFORE pagination (filter clauses constrain matching, not the page)."""
    exp = oracle.search_compound(k=oracle.n_docs, **kw)
    hits = [(d, s) for d, s in exp.hits if pred(attrs[d])]
    return hits[:k], len(hits)


def _check(eng, oracle, attrs, pred, dv_filter, k=15, **kw):
    hits, total = _expected(oracle, attrs, pred, k=k, **kw)
    text_filter = list(kw.pop("filter", ()))
    for fd in (False, True):
        res = eng.search_fields(
            k=k, force_distributed=fd,
            filter=text_filter + list(dv_filter), **kw,
        )
        got = [(int(d), float(s)) for d, s in zip(res.page["doc_id"], res.page["score"])]
        assert [g[0] for g in got] == [h[0] for h in hits], (dv_filter, fd)
        assert np.allclose(
            [g[1] for g in got], [h[1] for h in hits], rtol=0, atol=1e-12
        ), (dv_filter, fd)
        assert res.total == total, (dv_filter, fd, res.total, total)
    return hits, total


def test_docvalues_baked(spark, dv_engine):
    assert dv_engine.docvalues_cols == ("lang", "n_chars", "warc_ts")
    cols = spark.read.parquet(dv_engine.cat.doc_stats).columns
    assert {"doc_id", "url", "dl", "lang", "n_chars", "warc_ts"} <= set(cols)


def test_exists_filter(dv_engine, dv_oracle, dv_attrs, dv_term):
    """Atlas ``exists``: the attribute is non-null.  ~10% of the fixture's
    lang values are None (lang-ID abstained)."""
    assert any(a["lang"] is None for a in dv_attrs.values())
    _check(
        dv_engine, dv_oracle, dv_attrs,
        lambda a: a["lang"] is not None,
        [{"exists": {"path": "lang"}}],
        should=[("title", dv_term), ("body", dv_term)],
    )


def test_equals_drops_nulls(dv_engine, dv_oracle, dv_attrs, dv_term):
    """SQL three-valued logic = Atlas semantics: a null attribute never
    equals anything, so equals('en') and exists+equals agree exactly."""
    a_hits = dv_engine.search_fields(
        must=[("title", dv_term)],
        filter=[{"equals": {"path": "lang", "value": "en"}}], k=50,
    )
    b_hits = dv_engine.search_fields(
        must=[("title", dv_term)],
        filter=[{"exists": {"path": "lang"}},
                {"equals": {"path": "lang", "value": "en"}}], k=50,
    )
    assert a_hits.total == b_hits.total
    assert list(a_hits.page["doc_id"]) == list(b_hits.page["doc_id"])


def test_exists_extra_key_raises(dv_engine, dv_term):
    with pytest.raises(ValueError, match="only path"):
        dv_engine.search_fields(
            must=[("title", dv_term)],
            filter=[{"exists": {"path": "lang", "value": "en"}}],
        )


def test_timestamp_range_filter(dv_engine, dv_oracle, dv_attrs, dv_term):
    """The input-hint's natural dv type: a warc_ts crawl-window range.
    Timestamp literals flow through F.lit into the parquet pushdown."""
    times = sorted(a["warc_ts"] for a in dv_attrs.values())
    lo, hi = times[len(times) // 4], times[(len(times) * 3) // 4]
    _check(
        dv_engine, dv_oracle, dv_attrs,
        lambda a: lo <= a["warc_ts"] < hi,
        [{"range": {"path": "warc_ts", "gte": lo, "lt": hi}}],
        should=[("title", dv_term), ("body", dv_term)],
    )


def test_range_filter_both_paths(dv_engine, dv_oracle, dv_attrs, dv_term, chars_band):
    lo, hi = chars_band
    hits, total = _check(
        dv_engine, dv_oracle, dv_attrs,
        lambda a: lo <= a["n_chars"] < hi,
        [{"range": {"path": "n_chars", "gte": lo, "lt": hi}}],
        should=[("title", dv_term), ("body", dv_term)], minimum_should_match=1,
    )
    base = dv_oracle.search_compound(
        should=[("title", dv_term), ("body", dv_term)], k=dv_oracle.n_docs
    )
    assert 0 < total < base.total  # selective, non-empty
    # FILTER scores nothing: survivors keep their unfiltered score bit-for-bit
    base_scores = dict(base.hits)
    for d, s in hits:
        assert s == base_scores[d], d


def test_equals_filter(dv_engine, dv_oracle, dv_attrs, dv_term):
    hits, total = _check(
        dv_engine, dv_oracle, dv_attrs,
        lambda a: a["lang"] == "de",
        [{"equals": {"path": "lang", "value": "de"}}],
        must=[("title", dv_term)],
    )
    assert total == sum(
        1 for d in dv_oracle.postings[("title", dv_term)]
        if dv_attrs[d]["lang"] == "de"
    )


def test_combined_dv_and_text_filter(dv_engine, dv_oracle, dv_attrs, dv_term, chars_band):
    lo, _ = chars_band
    _check(
        dv_engine, dv_oracle, dv_attrs,
        lambda a: a["lang"] == "en" and a["n_chars"] >= lo,
        [
            {"equals": {"path": "lang", "value": "en"}},
            {"range": {"path": "n_chars", "gte": lo}},
        ],
        should=[("title", dv_term)],
        filter=[("body", dv_term)],
    )


def test_dv_with_must_not(dv_engine, dv_oracle, dv_attrs, dv_term, chars_band):
    lo, hi = chars_band
    body_term = min(
        ((len(pl), t) for (f, t), pl in dv_oracle.postings.items() if f == "body"),
        key=lambda c: (-c[0], c[1]),
    )[1]
    _check(
        dv_engine, dv_oracle, dv_attrs,
        lambda a: lo <= a["n_chars"] < hi,
        [{"range": {"path": "n_chars", "gte": lo, "lt": hi}}],
        must=[("title", dv_term)],
        must_not=[("body", body_term)],
    )


def test_empty_after_filter(dv_engine, dv_term):
    res = dv_engine.search_fields(
        must=[("title", dv_term)],
        filter=[{"range": {"path": "n_chars", "gte": 10**9}}],
    )
    assert res.total == 0 and len(res.page) == 0


def test_dv_requires_term_clause(dv_engine):
    with pytest.raises(ValueError, match="term-bearing"):
        dv_engine.search_fields(
            filter=[{"equals": {"path": "lang", "value": "en"}}]
        )


def test_dv_unknown_path_raises(dv_engine, dv_term):
    with pytest.raises(ValueError, match="doc-values column"):
        dv_engine.search_fields(
            must=[("title", dv_term)],
            filter=[{"range": {"path": "url", "gte": "a"}}],
        )


def test_dv_bad_bound_raises(dv_engine, dv_term):
    with pytest.raises(ValueError, match="unknown range bound"):
        dv_engine.search_fields(
            must=[("title", dv_term)],
            filter=[{"range": {"path": "n_chars", "between": 3}}],
        )
    with pytest.raises(ValueError, match="at least one of"):
        dv_engine.search_fields(
            must=[("title", dv_term)],
            filter=[{"range": {"path": "n_chars"}}],
        )


def test_dv_rejects_wand_mode(dv_engine, dv_term):
    with pytest.raises(ValueError, match="pure-should"):
        dv_engine.search_fields(
            should=[("title", dv_term)],
            filter=[{"equals": {"path": "lang", "value": "en"}}],
            mode="wand",
        )


def test_unbaked_index_rejects_dv(spark, dv_rows, tmp_path_factory):
    """An index built WITHOUT docvalues_cols fails loud on a dv clause."""
    from search_engine_spark.index.builder import BuildConfig, build_index
    from search_engine_spark.query.engine import SearchEngine

    corpus = str(tmp_path_factory.mktemp("nodv") / "corpus")
    spark.createDataFrame(
        [(u, f["title"], f["body"]) for u, f, _ in dv_rows[:200]],
        "url string, title string, body string",
    ).write.mode("overwrite").parquet(corpus)
    index_dir = str(tmp_path_factory.mktemp("nodv") / "index")
    cfg = BuildConfig(
        block_docs=64, target_ranges=8, min_range_docs=64, n_partitions=4,
        waves=1, field_cols=("title", "body"),
    )
    build_index(spark, corpus, index_dir, cfg=cfg)
    eng = SearchEngine(spark, index_dir)
    assert eng.docvalues_cols == ()
    with pytest.raises(ValueError, match="doc-values column"):
        eng.search_fields(
            must=[("title", "the")],
            filter=[{"equals": {"path": "lang", "value": "en"}}],
        )


# ----------------------------------------------------------- field sort
def _sorted_hits(oracle, attrs, path, desc, pred=None, **kw):
    """Oracle matches ordered by (attr, doc_id asc) with nulls LAST."""
    exp = oracle.search_compound(k=oracle.n_docs, **kw)
    hits = [(d, s) for d, s in exp.hits if pred is None or pred(attrs[d])]
    nn = [h for h in hits if attrs[h[0]][path] is not None]
    ns = sorted((h for h in hits if attrs[h[0]][path] is None), key=lambda h: h[0])
    nn.sort(key=lambda h: (attrs[h[0]][path], h[0]) if not desc else h[0])
    if desc:
        nn.sort(key=lambda h: attrs[h[0]][path], reverse=True)
    return nn + ns, len(hits)


def _check_sorted(eng, oracle, attrs, path, desc, k=15, skip=0, dv_filter=(),
                  pred=None, **kw):
    hits, total = _sorted_hits(oracle, attrs, path, desc, pred=pred, **kw)
    want = hits[skip : skip + k]
    for fd in (False, True):
        res = eng.search_fields(
            k=k, skip=skip, force_distributed=fd, filter=list(dv_filter),
            sort={"path": path, "order": "desc" if desc else "asc"}, **kw,
        )
        assert list(res.page.columns) == ["doc_id", "score", path], fd
        got = [(int(d), float(s)) for d, s in zip(res.page["doc_id"], res.page["score"])]
        assert [g[0] for g in got] == [h[0] for h in want], (path, desc, fd)
        assert np.allclose(
            [g[1] for g in got], [h[1] for h in want], rtol=0, atol=1e-12
        ), (path, desc, fd)
        # the page carries the sort attribute verbatim
        for d, v in zip(res.page["doc_id"], res.page[path]):
            a = attrs[int(d)][path]
            assert (a is None and pd.isna(v)) or v == a, d
        assert res.total == total, (path, desc, fd)



def test_sort_numeric_desc(dv_engine, dv_oracle, dv_attrs, dv_term):
    _check_sorted(
        dv_engine, dv_oracle, dv_attrs, "n_chars", True,
        should=[("title", dv_term), ("body", dv_term)],
    )


def test_sort_numeric_asc_with_skip(dv_engine, dv_oracle, dv_attrs, dv_term):
    _check_sorted(
        dv_engine, dv_oracle, dv_attrs, "n_chars", False, skip=7,
        must=[("title", dv_term)],
    )


def test_sort_timestamp_desc_with_filter(dv_engine, dv_oracle, dv_attrs, dv_term):
    """The freshest-first crawl query: filter lang + order by warc_ts."""
    _check_sorted(
        dv_engine, dv_oracle, dv_attrs, "warc_ts", True,
        dv_filter=[{"equals": {"path": "lang", "value": "en"}}],
        pred=lambda a: a["lang"] == "en",
        should=[("title", dv_term), ("body", dv_term)],
    )


def test_sort_nulls_last_either_order(dv_engine, dv_oracle, dv_attrs, dv_term):
    """lang has ~10% Nones: under asc AND desc they sort LAST (missing,
    not small), doc_id asc within."""
    for desc in (True, False):
        hits, total = _sorted_hits(
            dv_oracle, dv_attrs, "lang", desc,
            should=[("title", dv_term), ("body", dv_term)],
        )
        res = dv_engine.search_fields(
            should=[("title", dv_term), ("body", dv_term)], k=total,
            sort={"path": "lang", "order": "desc" if desc else "asc"},
        )
        assert [int(d) for d in res.page["doc_id"]] == [h[0] for h in hits], desc
        n_null = sum(1 for h in hits if dv_attrs[h[0]]["lang"] is None)
        assert n_null > 0
        tail = [int(d) for d in res.page["doc_id"][-n_null:]]
        assert all(dv_attrs[d]["lang"] is None for d in tail), desc
        assert tail == sorted(tail), desc


def test_sort_validation(dv_engine, dv_term):
    should = [("title", dv_term)]
    with pytest.raises(ValueError, match="doc-values column"):
        dv_engine.search_fields(should=should, sort={"path": "dl"})
    with pytest.raises(ValueError, match="asc.*desc|desc.*asc"):
        dv_engine.search_fields(
            should=should, sort={"path": "n_chars", "order": "down"}
        )
    with pytest.raises(ValueError, match="unknown keys"):
        dv_engine.search_fields(
            should=should, sort={"path": "n_chars", "nulls": "first"}
        )
    with pytest.raises(ValueError, match="pure-should"):
        dv_engine.search_fields(
            should=should, sort={"path": "n_chars"}, mode="wand"
        )


# -------------------------------------------------------------- facets
def _oracle_matched(oracle, **kw):
    exp = oracle.search_compound(k=oracle.n_docs, **kw)
    return [d for d, _ in exp.hits]


def test_string_facet_counts(dv_engine, dv_oracle, dv_attrs, dv_term):
    should = [("title", dv_term), ("body", dv_term)]
    matched = _oracle_matched(dv_oracle, should=should)
    out = dv_engine.facet_fields(
        should=should, facets={"langs": {"type": "string", "path": "lang"}}
    )
    assert out["count"] == len(matched)
    from collections import Counter
    exp = Counter(
        dv_attrs[d]["lang"] for d in matched if dv_attrs[d]["lang"] is not None
    )
    want = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))
    got = list(zip(out["facet"]["langs"]["bucket"], out["facet"]["langs"]["count"]))
    assert [(b, int(c)) for b, c in got] == want
    # null-lang docs are counted in count but bucketed nowhere (Atlas rule)
    assert sum(exp.values()) < len(matched)


def test_number_facet_boundaries(dv_engine, dv_oracle, dv_attrs, dv_term):
    should = [("title", dv_term), ("body", dv_term)]
    matched = _oracle_matched(dv_oracle, should=should)
    vals = sorted(dv_attrs[d]["n_chars"] for d in matched)
    b = [vals[0], vals[len(vals) // 3], vals[(2 * len(vals)) // 3], vals[-1]]
    out = dv_engine.facet_fields(
        should=should,
        facets={"sizes": {"type": "number", "path": "n_chars", "boundaries": b}},
    )
    got = list(zip(out["facet"]["sizes"]["bucket"], out["facet"]["sizes"]["count"]))
    exp = []
    for lo, hi in zip(b, b[1:]):
        n = sum(1 for d in matched if lo <= dv_attrs[d]["n_chars"] < hi)
        if n:
            exp.append((str(lo), n))
    assert [(bk, int(c)) for bk, c in got] == exp
    # the max value sits ON the last boundary -> excluded (half-open), so
    # the buckets do NOT tile the matched count
    assert sum(c for _, c in exp) < len(matched)


def test_facet_with_filter_and_mustnot(dv_engine, dv_oracle, dv_attrs, dv_term):
    body_term = min(
        ((len(pl), t) for (f, t), pl in dv_oracle.postings.items() if f == "body"),
        key=lambda c: (-c[0], c[1]),
    )[1]
    matched = [
        d for d in _oracle_matched(
            dv_oracle, must=[("title", dv_term)], must_not=[("body", body_term)]
        )
        if dv_attrs[d]["lang"] is not None
    ]
    out = dv_engine.facet_fields(
        must=[("title", dv_term)],
        must_not=[("body", body_term)],
        filter=[{"exists": {"path": "lang"}}],
        facets={"langs": {"type": "string", "path": "lang"}},
    )
    assert out["count"] == len(matched)
    assert int(out["facet"]["langs"]["count"].sum()) == len(matched)


def test_string_facet_num_buckets_cap(dv_engine, dv_term):
    out = dv_engine.facet_fields(
        should=[("title", dv_term), ("body", dv_term)],
        facets={"langs": {"type": "string", "path": "lang", "num_buckets": 2}},
    )
    assert len(out["facet"]["langs"]) == 2  # top-2 by count


def test_facet_validation(dv_engine, dv_term):
    should = [("title", dv_term)]
    with pytest.raises(ValueError, match="at least one facet"):
        dv_engine.facet_fields(should=should, facets={})
    with pytest.raises(ValueError, match="doc-values column"):
        dv_engine.facet_fields(
            should=should, facets={"x": {"type": "string", "path": "dl"}}
        )
    with pytest.raises(ValueError, match="'string' or 'number'"):
        dv_engine.facet_fields(
            should=should, facets={"x": {"type": "date", "path": "lang"}}
        )
    with pytest.raises(ValueError, match="ascending"):
        dv_engine.facet_fields(
            should=should,
            facets={"x": {"type": "number", "path": "n_chars",
                          "boundaries": [5, 3]}},
        )
    with pytest.raises(ValueError, match="term-bearing"):
        dv_engine.facet_fields(
            filter=[{"exists": {"path": "lang"}}],
            facets={"x": {"type": "string", "path": "lang"}},
        )


# --------------------------------- single-field surface + incremental ingest
def _attrs_from_doc_stats(spark, eng):
    pdf = (
        spark.read.parquet(eng.cat.doc_stats)
        .select("doc_id", "lang", "warc_ts").toPandas()
    )
    return {
        int(r.doc_id): {"lang": r.lang, "warc_ts": r.warc_ts}
        for r in pdf.itertuples()
    }


def _check_sf_filter(spark, eng, keyword, dv_filter, pred, k=15):
    base = eng.search(keyword, k=10**6)
    attrs = _attrs_from_doc_stats(spark, eng)
    exp = [
        (int(d), float(s))
        for d, s in zip(base.page["doc_id"], base.page["score"])
        if pred(attrs[int(d)])
    ]
    res = eng.search(keyword, k=k, dv_filter=dv_filter)
    got = [(int(d), float(s)) for d, s in zip(res.page["doc_id"], res.page["score"])]
    assert got == exp[:k]
    assert res.total == len(exp)
    return res


def test_single_field_dv_filter(spark, sf_dv_index):
    from search_engine_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, sf_dv_index)
    assert eng.docvalues_cols == ("lang", "warc_ts")
    _check_sf_filter(
        spark, eng, "the oil",
        [{"equals": {"path": "lang", "value": "en"}}],
        lambda a: a["lang"] == "en",
    )
    # timestamp crawl window
    attrs = _attrs_from_doc_stats(spark, eng)
    times = sorted(a["warc_ts"] for a in attrs.values())
    lo, hi = times[len(times) // 4], times[(3 * len(times)) // 4]
    _check_sf_filter(
        spark, eng, "the oil",
        [{"range": {"path": "warc_ts", "gte": lo, "lt": hi}}],
        lambda a: lo <= a["warc_ts"] < hi,
    )


def test_single_field_dv_dispatch_and_raises(spark, sf_dv_index):
    from search_engine_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, sf_dv_index)
    flt = [{"equals": {"path": "lang", "value": "en"}}]
    # auto mode routes to sort (WAND cannot see the filter; the short-circuit
    # skips the cost model entirely, like skip/group_by)
    res = eng.search("the oil", k=5, dv_filter=flt, mode="auto")
    ref = eng.search("the oil", k=5, dv_filter=flt, mode="sort")
    assert list(res.page["doc_id"]) == list(ref.page["doc_id"])
    assert res.total == ref.total
    with pytest.raises(ValueError, match="mode='wand'"):
        eng.search("the oil", dv_filter=flt, mode="wand")
    with pytest.raises(ValueError, match="group_by"):
        eng.search("the oil", dv_filter=flt, group_by=True)
    with pytest.raises(ValueError, match="operator objects only"):
        eng.search("the oil", dv_filter=[("lang", "en")])


def test_incremental_ingest_carries_docvalues(spark, webtext_tiny, tmp_path_factory):
    """The streaming-crawl case end-to-end: docvalues_cols freeze at
    generation 0, every generation's doc_stats carries the sidecar, dv
    filters work on the grown index, a disagreeing later pin raises, and
    compaction preserves the sidecar."""
    import pyarrow.parquet as pq

    from search_engine_spark.index.builder import BuildConfig
    from search_engine_spark.index.compact import compact_index
    from search_engine_spark.query.engine import SearchEngine
    from search_engine_spark.streaming.ingest import ingest_batch

    tbl = pq.read_table(os.path.join(webtext_tiny, "part-00000.parquet"))
    rows = sorted(
        zip(
            tbl.column("url").to_pylist(),
            tbl.column("text").to_pylist(),
            tbl.column("lang").to_pylist(),
            tbl.column("warc_ts").to_pylist(),
        )
    )[:400]
    idx = str(tmp_path_factory.mktemp("ingdv") / "index")
    cfg = BuildConfig(
        block_docs=64, target_ranges=8, min_range_docs=64, n_partitions=4,
        waves=1, docvalues_cols=("lang", "warc_ts"),
    )
    schema = "url string, text string, lang string, warc_ts timestamp"
    for epoch, lo in enumerate(range(0, 400, 200)):
        r = ingest_batch(
            spark, spark.createDataFrame(rows[lo : lo + 200], schema),
            idx, epoch, cfg=cfg, expected_docs=400,
        )
        assert not r.skipped
    eng = SearchEngine(spark, idx)
    assert eng.docvalues_cols == ("lang", "warc_ts")
    res = _check_sf_filter(
        spark, eng, "the oil",
        [{"equals": {"path": "lang", "value": "en"}}],
        lambda a: a["lang"] == "en",
    )
    assert res.total > 0
    # a later generation pinning different docvalues fails loud
    bad_cfg = BuildConfig(
        block_docs=64, target_ranges=8, min_range_docs=64, n_partitions=4,
        waves=1, docvalues_cols=("lang",),
    )
    with pytest.raises(ValueError, match="frozen with docvalues_cols"):
        ingest_batch(
            spark, spark.createDataFrame(rows[:10], schema), idx, 2, cfg=bad_cfg
        )
    # a batch missing a frozen docvalues column fails loud
    with pytest.raises(ValueError, match="missing docvalues columns"):
        ingest_batch(
            spark,
            spark.createDataFrame(
                [(u, t) for u, t, _, _ in rows[:10]], "url string, text string"
            ),
            idx, 2, cfg=cfg,
        )
    # compaction preserves the sidecar and the filter result
    out = str(tmp_path_factory.mktemp("ingdv") / "compacted")
    compact_index(spark, idx, out)
    ceng = SearchEngine(spark, out)
    assert ceng.docvalues_cols == ("lang", "warc_ts")
    cres = ceng.search(
        "the oil", k=15, dv_filter=[{"equals": {"path": "lang", "value": "en"}}]
    )
    assert cres.total == res.total
    assert list(cres.page["doc_id"]) == list(res.page["doc_id"])


# ------------------------------------------------- review-found edge cases
def test_idcol_duplicate_urls_join_on_doc_id(spark, tmp_path_factory):
    """An id_col corpus may repeat urls (the id is the identity); the dv
    sidecar must join on doc_id, never multiplying doc_stats rows."""
    from search_engine_spark.index.builder import BuildConfig, build_index

    corpus = str(tmp_path_factory.mktemp("dupurl") / "corpus")
    rows = [
        (i, "http://dup.example/page", f"spark doc {i} " + "filler " * (i % 7),
         ("en", "de")[i % 2])
        for i in range(300)
    ]
    spark.createDataFrame(
        rows, "my_id long, url string, text string, lang string"
    ).write.mode("overwrite").parquet(corpus)
    idx = str(tmp_path_factory.mktemp("dupurl") / "index")
    cfg = BuildConfig(
        block_docs=64, target_ranges=8, min_range_docs=64, n_partitions=4,
        waves=1, docvalues_cols=("lang",),
    )
    metrics = build_index(spark, corpus, idx, cfg=cfg, id_col="my_id")
    assert metrics["n_docs"] == 300  # one row per id, not per (id x url-dup)
    from search_engine_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, idx)
    stats = spark.read.parquet(eng.cat.doc_stats)
    assert stats.count() == 300
    res = eng.search(
        "spark", k=5, dv_filter=[{"equals": {"path": "lang", "value": "de"}}]
    )
    assert res.total == 150  # every odd id


def test_empty_sorted_result_keeps_sort_column(dv_engine, dv_term):
    """Both physical paths: an empty page from a sorted query still carries
    the sort attribute column (the documented page shape)."""
    for fd in (False, True):
        res = dv_engine.search_fields(
            should=[("title", dv_term)],
            filter=[{"range": {"path": "n_chars", "gte": 10**9}}],
            sort={"path": "n_chars", "order": "desc"},
            force_distributed=fd,
        )
        assert res.total == 0
        assert list(res.page.columns) == ["doc_id", "score", "n_chars"], fd


def test_reserved_docvalues_names_raise():
    from search_engine_spark.index.builder import BuildConfig

    for bad in ("score", "gen", "doc_id", "url", "dl"):
        with pytest.raises(ValueError, match="reserved"):
            BuildConfig(docvalues_cols=(bad,))


# --------------------------------------------------------- phrase + dv
def test_phrase_with_dv_filter(spark, sf_dv_index, webtext_tiny):
    """dv filter on phrase search (both paths): matching constrained, the
    phrase idf UNCHANGED (FILTER scores nothing) — survivors keep their
    unfiltered score bit-for-bit and total is the filtered match count."""
    import pyarrow.parquet as pq

    from search_engine_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, sf_dv_index)
    text0 = pq.read_table(
        os.path.join(webtext_tiny, "part-00000.parquet"), columns=["text"]
    ).column("text")[0].as_py()
    phrase = " ".join(tokenize(text0)[:2])
    base = eng.search(phrase, phrase=True, k=10**6)
    assert base.total > 0
    attrs = _attrs_from_doc_stats(spark, eng)
    exp = [
        (int(d), float(s))
        for d, s in zip(base.page["doc_id"], base.page["score"])
        if attrs[int(d)]["lang"] == "en"
    ]
    flt = [{"equals": {"path": "lang", "value": "en"}}]
    for fd in (False, True):
        res = eng.search(phrase, phrase=True, k=12, dv_filter=flt,
                         force_distributed=fd)
        got = [(int(d), float(s)) for d, s in zip(res.page["doc_id"], res.page["score"])]
        assert got == exp[:12], fd
        assert res.total == len(exp), fd


def test_field_phrase_with_dv_filter(spark, dv_engine, dv_rows):
    """The Atlas phrase clause's path option composes with dv operators."""
    bigram = dv_rows[0][1]["title"].split()[:2]
    phrase = " ".join(bigram)
    base = dv_engine.search_field_phrase("title", phrase, k=10**6)
    assert base.total > 0
    attrs_pdf = (
        dv_engine.spark.read.parquet(dv_engine.cat.doc_stats)
        .select("doc_id", "lang").toPandas()
    )
    lang_of = dict(zip(attrs_pdf["doc_id"].astype(int), attrs_pdf["lang"]))
    exp = [
        (int(d), float(s))
        for d, s in zip(base.page["doc_id"], base.page["score"])
        if lang_of[int(d)] == "en"
    ]
    res = dv_engine.search_field_phrase(
        "title", phrase, k=12,
        dv_filter=[{"equals": {"path": "lang", "value": "en"}}],
    )
    got = [(int(d), float(s)) for d, s in zip(res.page["doc_id"], res.page["score"])]
    assert got == exp[:12]
    assert res.total == len(exp)


# --------------------------------------- single-field sort + keyword facets
def test_single_field_sort(spark, sf_dv_index):
    """search(kw, sort=...): freshest-first keyword query — page ordered by
    the attribute (doc_id tiebreak), carries the sort column, total
    unchanged; composes with dv_filter in ONE doc_stats probe."""
    from search_engine_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, sf_dv_index)
    base = eng.search("the oil", k=10**6)
    attrs = _attrs_from_doc_stats(spark, eng)
    ids = sorted(
        (int(d) for d in base.page["doc_id"]),
        key=lambda d: (attrs[d]["warc_ts"], d),
    )
    ids_desc = sorted(
        (int(d) for d in base.page["doc_id"]),
        key=lambda d: d,
    )
    ids_desc.sort(key=lambda d: attrs[d]["warc_ts"], reverse=True)
    res = eng.search("the oil", k=10, sort={"path": "warc_ts", "order": "desc"})
    assert [int(d) for d in res.page["doc_id"]] == ids_desc[:10]
    assert list(res.page.columns) == ["doc_id", "score", "warc_ts"]
    assert res.total == base.total
    asc = eng.search("the oil", k=10, sort={"path": "warc_ts", "order": "asc"})
    assert [int(d) for d in asc.page["doc_id"]] == ids[:10]
    # filter + sort composed
    both = eng.search(
        "the oil", k=10, sort={"path": "warc_ts", "order": "desc"},
        dv_filter=[{"equals": {"path": "lang", "value": "en"}}],
    )
    exp = [d for d in ids_desc if attrs[d]["lang"] == "en"]
    assert [int(d) for d in both.page["doc_id"]] == exp[:10]
    assert both.total == len(exp)
    with pytest.raises(ValueError, match="mode='wand'"):
        eng.search("the oil", sort={"path": "warc_ts"}, mode="wand")
    with pytest.raises(ValueError, match="group_by or phrase"):
        eng.search("the oil", sort={"path": "warc_ts"}, group_by=True)


def test_single_field_keyword_facets(spark, sf_dv_index):
    """facet_fields(keyword=...): per-lang counts over a plain keyword's
    match set, equal to a brute Counter over the unfiltered result."""
    from collections import Counter

    from search_engine_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, sf_dv_index)
    base = eng.search("the oil", k=10**6)
    attrs = _attrs_from_doc_stats(spark, eng)
    exp = Counter(attrs[int(d)]["lang"] for d in base.page["doc_id"])
    out = eng.facet_fields(
        keyword="the oil",
        facets={"langs": {"type": "string", "path": "lang"}},
    )
    assert out["count"] == base.total
    got = dict(zip(out["facet"]["langs"]["bucket"], out["facet"]["langs"]["count"]))
    assert {b: int(c) for b, c in got.items()} == dict(exp)
    # a single-term keyword prefix-expands exactly as search() does
    # ("oil" also matches oiler/oily), max_expansions included
    for opts in ({}, {"max_expansions": 1}):
        one = eng.search("oil", k=10**6, **opts)
        out = eng.facet_fields(
            keyword="oil", facets={"langs": {"type": "string", "path": "lang"}}, **opts
        )
        assert out["count"] == one.total, opts
        exp = Counter(attrs[int(d)]["lang"] for d in one.page["doc_id"])
        got = dict(zip(out["facet"]["langs"]["bucket"], out["facet"]["langs"]["count"]))
        assert {b: int(c) for b, c in got.items()} == {b: c for b, c in exp.items() if b}, opts
    assert eng.search("oil").total > eng.search("oil", max_expansions=1).total
    with pytest.raises(ValueError, match="replaces the clause"):
        eng.facet_fields(
            keyword="the", must=[("title", "x")],
            facets={"langs": {"type": "string", "path": "lang"}},
        )


def test_zero_match_facets_keep_the_schema(spark, sf_dv_index):
    """A facet over no matched doc has the columns and dtypes of a
    populated one: bucket object, count int64."""
    from search_engine_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, sf_dv_index)
    facets = {"langs": {"type": "string", "path": "lang"}}
    full = eng.facet_fields(keyword="the oil", facets=facets)["facet"]["langs"]
    out = eng.facet_fields(keyword="zzzzq", facets=facets)
    assert out["count"] == 0 and len(full) > 0
    empty = out["facet"]["langs"]
    assert len(empty) == 0
    assert empty.dtypes.to_dict() == full.dtypes.to_dict()


def test_keyword_facets_rejected_on_multifield(dv_engine):
    with pytest.raises(ValueError, match="single-field"):
        dv_engine.facet_fields(
            keyword="the",
            facets={"langs": {"type": "string", "path": "lang"}},
        )


def test_number_facet_default_bucket(dv_engine, dv_oracle, dv_attrs, dv_term):
    """Atlas's optional default bucket collects out-of-range docs (ordered
    last); totals then tile the matched count exactly."""
    should = [("title", dv_term), ("body", dv_term)]
    matched = _oracle_matched(dv_oracle, should=should)
    vals = sorted(dv_attrs[d]["n_chars"] for d in matched)
    b = [vals[len(vals) // 4], vals[len(vals) // 2]]  # leaves both tails out
    out = dv_engine.facet_fields(
        should=should,
        facets={"sizes": {"type": "number", "path": "n_chars",
                          "boundaries": b, "default": "other"}},
    )
    pdf = out["facet"]["sizes"]
    got = {bk: int(c) for bk, c in zip(pdf["bucket"], pdf["count"])}
    in_band = sum(1 for d in matched if b[0] <= dv_attrs[d]["n_chars"] < b[1])
    assert got[str(b[0])] == in_band
    assert got["other"] == len(matched) - in_band
    assert list(pdf["bucket"])[-1] == "other"  # default ordered last
    with pytest.raises(ValueError, match="collides"):
        dv_engine.facet_fields(
            should=should,
            facets={"x": {"type": "number", "path": "n_chars",
                          "boundaries": b, "default": str(b[0])}},
        )


def test_page_schema_is_one_shape(spark, sf_dv_index, dv_engine, dv_term):
    """Every page has one schema: the same columns in the same order
    whether the page is empty or populated and on both placements, with
    doc_id int64, score float64 and one g_id dtype — for a hit, an absent
    term and an empty wildcard expansion alike."""
    from search_engine_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, sf_dv_index)
    sort = {"path": "warc_ts"}
    single = [
        {"with_url": True}, {"group_by": True}, {"sort": sort},
        {"group_by": True, "with_url": True}, {"sort": sort, "with_url": True},
    ]
    queries = [("milk", {}), ("zzzzq", {}), ("zzq*", {"wildcard": True})]
    g_ids = set()
    for opts in single:
        shapes = {}
        for fd in (False, True):
            for kw, extra in queries:
                res = eng.search(kw, k=5, force_distributed=fd, **opts, **extra)
                assert (res.total > 0) == (kw == "milk"), (kw, opts, fd)
                page = res.page
                shapes[(kw, fd)] = list(page.columns)
                assert page["doc_id"].dtype == np.int64, (kw, opts, fd)
                assert page["score"].dtype == np.float64, (kw, opts, fd)
                if "g_id" in page:
                    g_ids.add(page["g_id"].dtype)
        assert len({tuple(c) for c in shapes.values()}) == 1, (opts, shapes)
    assert len(g_ids) == 1, g_ids
    clause_queries = [
        [("title", dv_term)], [("title", "zzzzq")],
        [{"field": "title", "query": "zzq*", "kind": "wildcard"}],
    ]
    for opts in ({"with_url": True}, {"sort": {"path": "n_chars"}},
                 {"sort": {"path": "n_chars"}, "with_url": True}):
        shapes = set()
        for fd in (False, True):
            for i, should in enumerate(clause_queries):
                res = dv_engine.search_fields(
                    should=should, k=5, force_distributed=fd, **opts
                )
                assert (res.total > 0) == (i == 0), (should, fd)
                shapes.add(tuple(res.page.columns))
                assert res.page["doc_id"].dtype == np.int64, (should, opts, fd)
                assert res.page["score"].dtype == np.float64, (should, opts, fd)
        assert len(shapes) == 1, (opts, shapes)


# ------------------------------- distributed partials merged across tasks
COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"
# (where, keyword, options): "tiny" runs search() on index_tiny; "dv" runs
# search_fields over dv_term on the doc-values fixture (same corpus and
# 16-range grid, ~10% null lang), since index_tiny carries no doc values;
# "phrase" runs a phrase search() on the single-field positional dv index,
# "field_phrase" a body-scoped phrase on the doc-values fixture; "facet"
# runs facet_fields over dv_term's clauses, "facet_kw" a keyword facet on
# the single-field dv index
PHRASE = "of the"
LANG_FACET = {"langs": {"type": "string", "path": "lang", "num_buckets": 2}}
MERGE_CASES = [
    ("tiny", "the oil", {}),
    ("tiny", "milk", {}),
    ("tiny", "the oil milk", {"conjunctive": True}),
    ("tiny", "the oil milk rice", {"min_should_match": 2}),
    ("tiny", "the oil", {"constant_boost": True, "avail_boost": True}),
    ("tiny", "the oil", {"group_by": True}),
    ("tiny", "the oil", {"skip": 600}),  # past any one task's matches
    ("tiny", "milk", {"k": 10**4}),  # k larger than the total
    ("tiny", "the oil", {"mode": "wand"}),
    ("tiny", "milk rice", {"mode": "wand"}),
    ("dv", None, {"filter": [{"equals": {"path": "lang", "value": "de"}}]}),
    ("dv", None, {"sort": {"path": "lang", "order": "asc"}, "k": 10**4}),
    ("dv", None, {"sort": {"path": "lang", "order": "desc"}, "k": 10**4}),
    ("phrase", PHRASE, {}),
    ("phrase", PHRASE, {"constant_boost": True, "avail_boost": True, "skip": 60}),
    ("phrase", PHRASE, {"max_gap": 1}),
    ("phrase", PHRASE, {"highlight": True}),  # the page carries first_pos
    ("phrase", PHRASE, {"dv_filter": [{"equals": {"path": "lang", "value": "en"}}]}),
    ("field_phrase", PHRASE, {}),
    # top-2 of 3 langs: a per-task top-2 would drop a runner-up's counts
    ("facet", None, {"facets": LANG_FACET}),
    ("facet", None, {"facets": {"sizes": {"type": "number", "path": "n_chars",
                                          "boundaries": [394, 660, 923],
                                          "default": "other"}}}),
    ("facet", None, {"facets": LANG_FACET, "must_not": [("body", "to")],
                     "filter": [{"exists": {"path": "lang"}}]}),
    ("facet_kw", "oil", {"facets": LANG_FACET}),
]


def _jobs(spark, group, fn):
    """Run ``fn`` under its own job group -> (result, [SparkJobInfo])."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    return out, [tracker.getJobInfo(j) for j in sorted(tracker.getJobIdsForGroup(group))]


def _page_key(res):
    page = res.page
    rest = [c for c in page.columns if c not in ("doc_id", "score")]
    return (res.total, [int(d) for d in page["doc_id"]],
            [float(s).hex() for s in page["score"]],
            {c: [str(v) for v in page[c]] for c in rest})


def _facet_key(out):
    return (out["count"], {n: [(b, int(c)) for b, c in zip(f["bucket"], f["count"])]
                           for n, f in out["facet"].items()})


def _brute_buckets(spec, vals):
    """A facet's buckets over the matched docs' attribute values, by the
    Atlas rules facet_fields documents."""
    from bisect import bisect_right
    from collections import Counter

    vals = [v for v in vals if v is not None]
    if spec["type"] == "string":
        got = Counter(str(v) for v in vals)
        return sorted(got.items(), key=lambda kv: (-kv[1], kv[0]))[: spec["num_buckets"]]
    b, default = spec["boundaries"], spec.get("default")
    got = Counter()
    for v in vals:
        i = bisect_right(b, v) - 1
        if 0 <= i < len(b) - 1:
            got[str(b[i])] += 1
        elif default is not None:
            got[default] += 1
    return [(k, got[k]) for k in [*map(str, b), default] if got[k]]


@pytest.mark.parametrize("case", MERGE_CASES, ids=lambda c: " ".join(map(str, c)))
def test_distributed_partials_merge_across_tasks(spark, index_tiny, dv_engine, dv_term,
                                                 dv_attrs, sf_dv_index, case):
    """With partition coalescing off, the 16 doc ranges spread over several
    kernel tasks, so the driver merges real per-task partials (top skip+k
    plus count, group rollups, phrase rows, facet label counts): pages and
    totals must equal the driver placement bit-for-bit, and facets the
    brute counts over the driver placement's matched set.  WAND's pages
    must equal the driver's sort page."""
    from search_engine_spark.query.engine import SearchEngine

    where, kw, opts = case
    eng = SearchEngine(spark, index_tiny if where == "tiny" else sf_dv_index)
    should = [("title", dv_term), ("body", dv_term)]
    if where.startswith("facet"):
        facets = opts["facets"]
        clauses = {k: v for k, v in opts.items() if k != "facets"}
        if where == "facet_kw":
            attrs = _attrs_from_doc_stats(spark, eng)
            matched = eng.search(kw, k=10**6)

            def run():
                return eng.facet_fields(keyword=kw, facets=facets)
        else:
            attrs = dv_attrs
            matched = dv_engine.search_fields(should=should, k=10**6, **clauses)

            def run():
                return dv_engine.facet_fields(should=should, facets=facets, **clauses)
        ids = [int(d) for d in matched.page["doc_id"]]
        want = (matched.total, {n: _brute_buckets(s, [attrs[d][s["path"]] for d in ids])
                                for n, s in facets.items()})
        key = _facet_key
    else:
        search = {
            "tiny": lambda **o: eng.search(kw, **o),
            "phrase": lambda **o: eng.search(kw, phrase=True, **o),
            "field_phrase": lambda **o: dv_engine.search_field_phrase("body", kw, **o),
            "dv": lambda **o: dv_engine.search_fields(should=should, **o),
        }[where]
        want = _page_key(search(**{k: v for k, v in opts.items() if k != "mode"}))

        def run():
            return search(force_distributed=True, **opts)
        key = _page_key
    old = spark.conf.get(COALESCE)
    spark.conf.set(COALESCE, "false")
    try:
        got, jobs = _jobs(spark, f"merge-{case}", run)
    finally:
        spark.conf.set(COALESCE, old)
    assert want[0] > 0
    assert key(got) == want
    kernel = spark.sparkContext.statusTracker().getStageInfo(max(jobs[-1].stageIds))
    assert kernel.numTasks > 1


def test_distributed_search_runs_two_jobs(spark, index_tiny, sf_dv_index):
    """One forced-distributed plain search is two Spark jobs: the
    compressed-block shuffle by doc range and the kernel tasks that return
    their partials.  A facet call is the same two jobs, with the doc-values
    slice in the shuffle, and so is WAND (explicit, or ``mode="auto"`` on a
    query the driver does not take): its tasks prune in place; and so is a
    forced-distributed phrase on a resident index, whose ranges holding
    every phrase term come from the resident block metadata."""
    from search_engine_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, index_tiny)
    sf = SearchEngine(spark, sf_dv_index)
    for name, fn, most in [
        ("two-jobs", lambda: eng.search("the oil", force_distributed=True), 2),
        ("wand-jobs", lambda: eng.search("the oil", mode="wand"), 2),
        ("auto-jobs", lambda: eng.search("the oil", mode="auto", force_distributed=True), 2),
        ("facet-jobs", lambda: sf.facet_fields(
            keyword="the oil", facets={"langs": {"type": "string", "path": "lang"}}), 2),
        ("phrase-jobs", lambda: sf.search(PHRASE, phrase=True, force_distributed=True), 2),
    ]:
        fn()
        res, jobs = _jobs(spark, name, fn)
        assert (res["count"] if isinstance(res, dict) else res.total) > 0
        assert len(jobs) <= most, (name, [j.stageIds for j in jobs])


def test_resident_driver_queries_run_no_jobs(spark, sf_dv_index):
    """On a resident index a driver-placed search, a ``with_url`` search
    and a phrase run no Spark job; on the collect path (``_resident =
    None``) the same search runs one, a phrase two (its eligible ranges'
    block metadata, then their blocks) and a forced-distributed phrase
    three (the metadata, then the shuffle and the kernel)."""
    from search_engine_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, sf_dv_index)
    cases = [
        ("resident-search", lambda: eng.search("the oil"), 0),
        ("resident-url", lambda: eng.search("the oil", with_url=True), 0),
        ("resident-phrase", lambda: eng.search(PHRASE, phrase=True, highlight=True), 0),
        ("collect-search", lambda: eng.search("the oil"), 1),
        ("collect-phrase", lambda: eng.search(PHRASE, phrase=True), 2),
        ("collect-dist-phrase", lambda: eng.search(PHRASE, phrase=True,
                                                   force_distributed=True), 3),
    ]
    for name, fn, want in cases:
        if name.startswith("collect"):
            eng._resident = None
        res, jobs = _jobs(spark, name, fn)
        assert res.total > 0
        assert len(jobs) == want, (name, [j.stageIds for j in jobs])
