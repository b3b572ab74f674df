"""The driver-resident segment table (``SearchEngine._resident``).

A small index is held in driver memory at open, so driver-placed queries
read their blocks and urls without a Spark job.  Every driver surface must
give the same page from the resident table as from the collect path
(``_resident = None``): totals, ids, float-hex scores and page schema, and
both must agree with the pure-Python oracle.
"""

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from search_engine_spark.analysis.text import preprocess_query, tokenize
from search_engine_spark.oracle import QueryResult
from search_engine_spark.query.engine import SearchEngine

from conftest import spark_jobs

K = 8


def _page(res):
    """Everything a page carries: total, schema, ids, float-hex scores and
    the other columns."""
    page = res.page
    rest = [c for c in page.columns if c not in ("doc_id", "score")]
    return (res.total, [(c, str(t)) for c, t in page.dtypes.items()],
            [int(d) for d in page["doc_id"]], [float(s).hex() for s in page["score"]],
            {c: [str(v) for v in page[c]] for c in rest})


def _queries(rng, oracle, texts, positional):
    """Seeded (surface, keyword, options) over the oracle's vocabulary: two
    of each driver surface, the positional-only ones on a positional dv
    index.  Terms come from df strata, phrases and more_like_this texts
    from the corpus' own token streams, so every surface has matches."""
    df = {t: len(p) for t, p in oracle.postings.items()}
    pool = [t for t in oracle.terms_sorted
            if 2 <= df[t] < 300 and t.isalpha() and preprocess_query(t) == [t]]

    def words(n):
        return " ".join(str(w) for w in rng.choice(pool, n, replace=False))

    def span(n):
        toks = []
        while len(toks) < n + 1:
            toks = tokenize(texts[int(rng.integers(len(texts)))])
        at = int(rng.integers(len(toks) - n))
        return " ".join(toks[at:at + n])

    out = []
    for _ in range(2):
        term = str(rng.choice([t for t in pool if len(t) > 4]))
        at = int(rng.integers(len(term)))
        typo = term[:at] + ("a" if term[at] != "a" else "e") + term[at + 1:]
        out += [
            ("search", words(int(rng.integers(2, 4))), {"skip": int(rng.choice([0, 3]))}),
            ("search", term[: int(rng.integers(2, 4))], {}),  # autocomplete prefix
            ("fuzzy", typo, {"fuzzy": 1}),
            ("search", span(2), {"conjunctive": True}),
            ("group", words(2), {"group_by": True}),
            ("mlt", span(20), {}),
            ("url", words(2), {"with_url": True}),
        ]
        if positional:
            out += [
                ("phrase", span(2), {"phrase": True}),
                ("highlight", words(2), {"highlight": True}),
                ("dv_filter", words(2), {"dv_filter": [{"equals": {"path": "lang",
                                                                    "value": "en"}}]}),
                ("sort", words(2), {"sort": {"path": "warc_ts", "order": "desc"}}),
            ]
    return out


def _run(eng, surface, kw, opts):
    if surface == "mlt":
        return eng.more_like_this(kw, k=K)
    return eng.search(kw, k=K, **opts)


def _check_oracle(oracle, urls, attrs, surface, kw, opts, res):
    """``res`` against the oracle: equal totals and ids, scores within
    1e-9, and each surface's extra column."""
    skip = opts.get("skip", 0)
    if surface == "group":
        total, rows = oracle.search_grouped(kw, k=K)
        got = [(int(g), int(d), round(float(s), 6), int(n)) for g, d, s, n in
               zip(res.page["g_id"], res.page["doc_id"], res.page["score"], res.page["n_docs"])]
        assert (res.total, got) == (total, [(g, d, round(s, 6), n) for g, d, s, n in rows])
        return
    if surface == "fuzzy":
        want = oracle.search_fuzzy(kw, k=K, fuzzy=1)
    elif surface == "mlt":
        want = oracle.more_like_this(kw, k=K)
    elif surface == "phrase":
        want = oracle.search_phrase(kw, k=K)
    elif surface in ("dv_filter", "sort"):
        hits = oracle.search(kw, k=oracle.n_docs).hits
        if surface == "dv_filter":
            hits = [h for h in hits if attrs[h[0]][0] == opts["dv_filter"][0]["equals"]["value"]]
        else:  # warc_ts desc, nulls last, doc_id asc
            hits = sorted(hits, key=lambda h: (attrs[h[0]][1] is None,
                                               -(attrs[h[0]][1] or 0), h[0]))
        want = QueryResult(total=len(hits), hits=hits[:K])
    else:
        want = oracle.search(kw, k=K, skip=skip, conjunctive=opts.get("conjunctive", False))
    assert res.total == want.total
    assert [int(d) for d in res.page["doc_id"]] == [d for d, _ in want.hits]
    assert np.allclose(res.page["score"], [s for _, s in want.hits], rtol=0, atol=1e-9)
    ids = [d for d, _ in want.hits]
    if surface == "url":
        assert list(res.page["url"]) == [urls[d] for d in ids]
    if surface == "highlight":
        terms = sorted(set(preprocess_query(kw)))
        assert list(res.page["highlights"]) == [
            " ".join(sorted(f"{t}@{oracle.positions[t][d][0]}" for t in terms
                            if d in oracle.positions.get(t, {}))) for d in ids]


@pytest.mark.parametrize("fixture", ["index_tiny", "sf_dv_index", "inc_index"])
def test_resident_equals_collect_and_oracle(spark, webtext_tiny, oracle_tiny, fixture,
                                            request):
    """Seeded queries over every driver surface, run from the resident
    table and again with ``_resident = None`` (the collect path): equal
    pages bit for bit, and both equal to the oracle."""
    eng = SearchEngine(spark, request.getfixturevalue(fixture))
    assert eng._resident is not None
    tbl = pq.read_table(os.path.join(webtext_tiny, "part-00000.parquet"))
    texts = tbl.column("text").to_pylist()
    urls = sorted(tbl.column("url").to_pylist())
    positional = "positions" in eng._segments_df.columns
    attrs = {}
    if positional:
        pdf = eng._doc_stats_df.select("doc_id", "lang", "warc_ts").toPandas()
        attrs = {int(r.doc_id): (r.lang, None if pd.isna(r.warc_ts) else r.warc_ts.value)
                 for r in pdf.itertuples()}
    queries = _queries(np.random.default_rng(8), oracle_tiny, texts, positional)
    resident = [_run(eng, *q) for q in queries]
    eng._resident = None
    for q, res in zip(queries, resident):
        assert _page(res) == _page(_run(eng, *q)), q
        _check_oracle(oracle_tiny, urls, attrs, *q, res)
    assert [q for q, r in zip(queries, resident) if not r.total] == []


def test_residency_rule(spark, index_tiny, monkeypatch):
    """Resident iff the term dictionary is cached and the index's total
    postings (the dictionary's Σ df) fit ``SMALL_QUERY_POSTINGS``; the
    resident table holds every segment row."""
    from search_engine_spark.query import engine as engine_mod

    eng = SearchEngine(spark, index_tiny)
    total = int(eng._dfs_arr.sum())
    assert eng._resident is not None
    assert eng._resident.seg.num_rows == eng._segments_df.count()
    assert eng._resident.doc_ids.size == eng.n_docs
    monkeypatch.setattr(SearchEngine, "SMALL_QUERY_POSTINGS", total)
    assert SearchEngine(spark, index_tiny)._resident is not None
    monkeypatch.setattr(SearchEngine, "SMALL_QUERY_POSTINGS", total - 1)
    assert SearchEngine(spark, index_tiny)._resident is None
    monkeypatch.undo()
    monkeypatch.setattr(engine_mod, "_TERM_DICT_CACHE_MAX", 0)
    eng = SearchEngine(spark, index_tiny)
    assert eng._terms_arr is None and eng._resident is None


@pytest.mark.parametrize("fixture", ["index_tiny", "inc_index"])
def test_open_job_count(spark, fixture, request):
    """Opening a resident engine runs 5 Spark jobs, on a batch index and a
    generational one alike: doc_stats' schema inference (its doc-values
    column types are not recorded), the dictionary's one grouped collect,
    which also decides whether it is cached (a shuffle stage and a result),
    and the two resident tables.  Segments and term_stats open with their
    known schemas, so neither infers one."""
    idx = request.getfixturevalue(fixture)
    SearchEngine(spark, idx)  # warm: the counts are of a steady open
    eng, jobs = spark_jobs(spark, lambda: SearchEngine(spark, idx))
    assert eng._resident is not None
    assert len(jobs) == 5, jobs
