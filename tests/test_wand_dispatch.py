"""WAND placement (``mode="wand"`` / ``mode="auto"``) and the in-task
pruning rule (``_wand_task``).

The pruning rule is pinned in pure numpy on seeded random blocks; the
end-to-end placement's rank identity on the tiny index.
"""

import numpy as np
import pandas as pd
import pytest

def test_auto_mode_rank_identity(spark, index_tiny, oracle_tiny):
    from search_engine_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, index_tiny)
    for kw in ("cadbury dairy milk", "the oil"):
        pages = {}
        for mode in ("sort", "wand", "auto"):
            res = eng.search(kw, k=10, mode=mode, force_distributed=True)
            pages[mode] = [
                (int(d), round(float(s), 6))
                for d, s in zip(res.page["doc_id"], res.page["score"])
            ]
        assert pages["sort"] == pages["wand"] == pages["auto"], kw
        assert eng.last_dispatch is not None
        assert eng.last_dispatch["mode"] in ("sort", "wand")


def test_auto_mode_skip_routes_to_sort(spark, index_tiny):
    from search_engine_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, index_tiny)
    a = eng.search("cadbury dairy milk", k=5, skip=3, mode="auto", force_distributed=True)
    b = eng.search("cadbury dairy milk", k=5, skip=3, mode="sort", force_distributed=True)
    assert list(a.page["doc_id"]) == list(b.page["doc_id"])


def test_last_dispatch_describes_every_auto_call(spark, index_tiny):
    """A driver-placed mode="auto" query records its own dispatch instead
    of leaving the previous query's estimate in place."""
    from search_engine_spark.analysis.text import preprocess_query
    from search_engine_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, index_tiny)
    eng.search("the oil", k=5, mode="auto", force_distributed=True)
    forced = dict(eng.last_dispatch)
    assert forced["mode"] == "wand"  # WAND-shaped, and the driver did not take it
    kw = "cadbury dairy"
    res = eng.search(kw, k=5, mode="auto")
    assert res.total > 0
    small = eng.last_dispatch
    assert small["mode"] == "sort"
    assert small["total_dc"] == sum(eng.term_dfs(sorted(set(preprocess_query(kw)))).values())
    assert set(small) == {"mode", "total_dc"}


def test_unknown_mode_and_total_mode_raise(spark, index_tiny):
    """One check in the compile step serves every surface: an unknown
    ``mode`` or ``total_mode`` raises instead of running sort / counting
    exactly, on every placement and on a query with no match."""
    from search_engine_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, index_tiny)
    for kw in ("the oil", "zzzzq"):
        for fd in (False, True):
            with pytest.raises(ValueError, match="mode must be"):
                eng.search(kw, mode="bogus", force_distributed=fd)
            with pytest.raises(ValueError, match="total_mode must be"):
                eng.search(kw, mode="wand", total_mode="bogus", force_distributed=fd)
    with pytest.raises(ValueError, match="total_mode must be"):
        eng.search("the oil", total_mode="exactly")


def _task_blocks(rng, q, ranges, avgdl, bound_scale, floor_scale, tie_dense, shares):
    """Seeded posting blocks of ``q.keys`` over doc ranges of 64 docs: key
    ``t`` is absent from a range or holds fewer than ``shares[t]`` of its
    docs, drawn Zipf-wise so keys co-occur, cut into blocks of 1-16
    postings.  Each block's ``max_tf_norm`` is sound for both corrections:
    ``mtn·bound_scale >=`` and ``mtn·floor_scale <=`` the block's true max
    tf_norm (exact on the power-of-two scales)."""
    from search_engine_spark.index.codec import encode_postings
    from search_engine_spark.query.engine import B, K1

    terms, ssegs, mtns, bufs = [], [], [], []
    zipf = 1.0 / np.arange(1, 65)
    zipf /= zipf.sum()
    for r in ranges:
        docs = np.arange(64 * r, 64 * r + 64)
        if tie_dense:  # few (tf, dl) profiles, so scores tie across ranges
            dl = rng.choice([37, 74, 111, 120, 150], docs.size)
        else:
            dl = rng.integers(1, 400, docs.size)
        for t in q.keys:
            ids = np.sort(rng.choice(docs, int(rng.integers(1, shares[t])), replace=False,
                                     p=zipf))  # keys share popular docs
            if rng.random() < 0.4:
                continue  # the key is absent from this range
            tf = rng.integers(1, 3 if tie_dense else 9, ids.size)
            dls = dl[ids - 64 * r]
            cuts = np.cumsum(rng.integers(1, 17, ids.size))
            for blk in np.split(np.arange(ids.size), cuts[cuts < ids.size]):
                t_max = float(np.max(tf[blk] / (tf[blk] + K1 * (1.0 - B + B * dls[blk] / avgdl))))
                u = rng.choice([1.0 / bound_scale, 1.0, 1.0 / floor_scale,
                                rng.uniform(1.0 / bound_scale, 1.0 / floor_scale)])
                terms.append(t)
                ssegs.append(r)
                mtns.append(t_max * u)
                bufs.append(encode_postings(ids[blk], tf[blk], dls[blk]))
    perm = rng.permutation(len(terms))  # blocks reach a task in any order
    return [[x[i] for i in perm] for x in (terms, ssegs, mtns, bufs)]


def test_wand_task_pruning_is_exact():
    """``_wand_task`` against the unpruned fold on seeded random blocks:
    over several doc ranges and tasks, with tie-dense scores, dl boosts,
    conjunctive and m-of-n occur, and bound_scale / floor_scale != 1, each
    task's emitted top k (ids and float-hex scores) and its match count
    ``n`` equal those of ``_fold`` run over every block of each range.
    Tie-dense cases weigh keys by powers of two, so the block bounds and
    the attained floor equal real scores exactly and a θ-tie is pruned
    only if the rule is not strict; a third of the cases are head + rare
    conjunctions, where a floor taken under a count-based occur overshoots
    the matched docs' scores."""
    from search_engine_spark.query.engine import _fold, _partial, _Query, _wand_task

    def page(rows):
        if rows is None or not len(rows):
            return []
        return [(int(d), float(s).hex()) for d, s in zip(rows["doc_id"], rows["score"])]

    rng = np.random.default_rng(20261)
    avgdl = 100.0
    pruned = floors = 0
    for case in range(600):
        tie_dense = case % 2 == 0
        if case % 3 == 1:  # "the cadbury": a dense light key AND a rare heavy one
            keys, shares = ["t0", "t1"], {"t0": 64, "t1": 4}
            clauses = {"must": [["t0"], ["t1"]]}
        else:
            keys = [f"t{i}" for i in range(int(rng.integers(1, 5)))]
            shares = {t: int(rng.choice([4, 16, 64])) for t in keys}
            occur = rng.choice(["should", "must", "msm"]) if len(keys) > 1 else "should"
            if occur == "should":
                clauses = {"should": [keys], "msm": 1}
            elif occur == "must":
                clauses = {"must": [[t] for t in keys]}
            else:
                clauses = {"should": [[t] for t in keys],
                           "msm": int(rng.integers(2, len(keys) + 1))}
        # rare keys weigh more, as idf does
        idf = {t: float(2.0 ** (rng.integers(0, 2) + {4: 2, 16: 0, 64: -2}[shares[t]])
                        if tie_dense else rng.uniform(*{4: (3, 8), 16: (1, 4),
                                                         64: (0.05, 1)}[shares[t]]))
               for t in keys}
        q = _Query(keys=keys, idf=idf, k=int(rng.choice([1, 1, 2, 3, 10])),
                   constant_boost=bool(rng.integers(2)), avail_boost=bool(rng.integers(2)),
                   **clauses)
        bound_scale, floor_scale = rng.choice([1.0, 2.0]), rng.choice([1.0, 0.5])
        n_ranges = int(rng.integers(1, 13))
        task = rng.integers(0, int(rng.integers(1, 3)), n_ranges)
        for t in np.unique(task):
            ranges = np.flatnonzero(task == t)
            terms, ssegs, mtns, bufs = _task_blocks(
                rng, q, ranges, avgdl, bound_scale, floor_scale, tie_dense, shares)
            if not terms:
                continue
            parts, n_ref = [], 0
            for r in ranges:
                ix = [i for i, s in enumerate(ssegs) if s == r]
                cands = _fold(q, [terms[i] for i in ix], [bufs[i] for i in ix], avgdl)
                n_ref += len(cands)
                parts.append(_partial(q, cands))
            want = page(_partial(q, pd.concat(parts, ignore_index=True)))
            for count in (True, False) if case % 4 == 0 else (True,):
                rows, n, stats = _wand_task(q, terms, ssegs, mtns, bufs, avgdl,
                                            bound_scale, floor_scale, count)
                assert page(rows) == want, (case, count)
                assert stats["blocks_read"] + stats["blocks_pruned"] == len(terms)
                if count:
                    assert n == n_ref, case
                    pruned += stats["blocks_pruned"]
                    floors += stats["theta_floor"] is not None
    assert pruned > 1_000 and floors > 100, (pruned, floors)


def test_wand_bound_covers_fold_rounding():
    """The builder bakes ``max_tf_norm = fl(tf/den)`` and the fold scores
    ``fl(fl(idf·tf)/den)``; at idf = idf(N=1000, df=3), tf = 1, dl = 23
    the fold's score is one ulp above ``fl(idf·max_tf_norm)``.  Two docs
    with that (tf, dl) sit in two ranges, k = 1: the range holding the
    larger doc id is visited first (a second key raises its bound), its
    doc raises θ to the shared score, and the other doc, the page's by the
    doc_id tiebreak, must not be pruned by a bound one ulp below θ."""
    from search_engine_spark.index.codec import encode_postings
    from search_engine_spark.query.engine import B, K1, _fold, _math_idf, _partial, _Query, _wand_task

    avgdl, tf, dl = 100.0, 1, 23
    w = _math_idf(1000, 3)
    mtn = tf / (tf + K1 * (1.0 - B + B * dl / avgdl))
    assert w * tf / (tf + K1 * (1.0 - B + B * dl / avgdl)) > w * mtn  # the ulp
    q = _Query(keys=["t0", "t1"], idf={"t0": w, "t1": 0.5}, k=1, should=[["t0", "t1"]], msm=1)
    blocks = [("t0", 0, 5), ("t0", 1, 70), ("t1", 1, 80)]  # (key, range, doc)
    terms, ssegs = [b[0] for b in blocks], [b[1] for b in blocks]
    bufs = [encode_postings(np.array([d]), np.array([tf]), np.array([dl])) for *_, d in blocks]
    mtns = [mtn] * len(blocks)
    want = _partial(q, pd.concat([_fold(q, terms[:1], bufs[:1], avgdl),
                                  _fold(q, terms[1:], bufs[1:], avgdl)], ignore_index=True))
    assert list(want["doc_id"]) == [5]
    for floor_scale in (1.0, 0.0):
        rows, n, _ = _wand_task(q, terms, ssegs, mtns, bufs, avgdl, 1.0, floor_scale)
        assert n == 3
        assert [(int(d), float(s).hex()) for d, s in zip(rows["doc_id"], rows["score"])] == [
            (5, float(want["score"][0]).hex())]
