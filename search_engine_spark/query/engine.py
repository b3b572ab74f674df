"""BM25 top-k query engine over the posting-segment index.

Reproduces the search semantics the reference delegated to Atlas Search
(reference search_utils.py:75-117 text/autocomplete dispatch,
search_utils.py:104-151 compound must/should, search_utils.py:157-171 boosts,
pipelines.py:27-42 facet count + skip/limit pagination) — rank-identically to
the pure-Python oracle.

Every search surface (``search``, ``search_fields``, ``facet_fields``,
phrase search) compiles to one internal query (``_Query``: must/should/
must_not clauses of posting keys, minimum_should_match, per-key idf, and a
phrase's token sequence).  One planner places it on the driver kernel
(small candidate sets), the distributed kernel, or WAND, and one pandas
finisher ranks and pages every placement's candidates.  The distributed
kernel (:meth:`SearchEngine._dist_kernel`) is the only distributed query
plan:

- ``mode="sort"`` (correctness baseline): every term's postings are bucketed
  on the SAME global doc-id grid (builder.py), so the candidate blocks
  shuffle by doc range (``sseg``) while still compressed, with the
  doc-values slice keyed by the same range beside them.  One ``mapInArrow``
  task then runs the driver's own matcher one range at a time — the fold
  (:func:`_fold`), or the phrase matcher (:func:`_phrase_rows`) — applies
  the slice, and emits its top ``skip+k`` rows by the page's rank key plus
  its match count (its group rollup under ``group_by``; for a phrase, the
  rows that can still reach the page once the phrase idf is known; for
  facets, each label's count); the driver merges these partials by the
  same rule.

- ``mode="wand"`` (block-max pruned) is the same single kernel call.  Each
  task already holds every block of its doc ranges with the blocks'
  ``max_tf_norm``, so it bounds each block, seeds a local θ from its own
  ranges' attained floor, visits its ranges best bound first and skips the
  tf/dl decode and the scoring of every block whose bound is strictly below
  its running θ (:func:`_wand_task`).  A pruned block's doc ids are still
  decoded, so the call's match count is the exact total.  Strict inequality
  never drops a θ-tie that doc_id could still admit: results stay
  bit-identical to the baseline.

The driver kernel (:meth:`SearchEngine._driver_kernel`) serves a small
index from driver memory: when the dictionary is cached and the index's
total postings fit ``SMALL_QUERY_POSTINGS``, the engine loads its segment
table and doc_stats' urls once at open, so a driver-placed query (its
blocks, phrase positions, highlights and urls) runs no Spark job; above
that, each driver-side read is one collect.  Doc-values filters and sorts
on the driver still probe doc_stats through Spark.

Float determinism: every placement sums a doc's scores in ascending key
order in numpy, starting from 0.0 — a doc's postings all live in one range,
so a per-range fold adds exactly what the whole-query fold adds.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass, replace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from ..analysis.text import (
    edit_distance_leq,
    preprocess_query,
    regex_pattern_parts,
    tokenize,
    wildcard_pattern_parts,
)
from ..catalog import IndexCatalog
from ..index.builder import _segment_schema
from ..index.codec import decode_doc_ids, decode_position_lists, decode_postings
from ..numerics import round_half_away

K1 = 1.2
B = 0.75
CONSTANT_BOOST = 5.0  # reference constants.py:16
AVAIL_BOOST = 10.0  # reference search_utils.py:157
# derived group key for grouped search (reference /v2/search groups scored
# hits by g_id, app.py:488-520); like boosted/avail it derives from dl so
# the engine and every oracle compute it identically from the corpus
GROUP_MOD = 53

# the engine-owned page columns: one dtype each, empty page or populated
_PAGE_DTYPES = {"doc_id": "int64", "score": "float64", "g_id": "int64",
                "n_docs": "int64", "first_pos": "int64"}


@dataclass
class SearchResult:
    total: int
    page: pd.DataFrame  # columns: doc_id, score (ranked)


@dataclass
class _Query:
    """The one internal query form every search surface compiles to.

    Clauses hold PRESENT posting keys only: ``must`` carries must AND
    filter clauses (filter keys score with weight 0), at least ``msm``
    ``should`` clauses must match, and any ``must_not`` hit excludes the
    doc.  ``idf`` is per key with the clause boost folded in, ``avgdl`` the
    per-key field avgdl (None: the corpus avgdl), ``n_docs`` the per-key
    scoring doc count.  ``keys`` stays empty when no document can match.
    A phrase query carries its token sequence in ``phrase`` (its distinct
    terms are must ``keys``) and its ``max_gap``.  The rest is the page
    request plus the single-field extras, carried through unchanged.
    """

    keys: list = ()
    dfs: dict | None = None
    idf: dict | None = None
    avgdl: dict | None = None
    n_docs: dict | None = None
    phrase: tuple = ()
    max_gap: int = 0
    must: list = ()
    should: list = ()
    must_not: list = ()
    msm: int = 0
    k: int = 10
    skip: int = 0
    mode: str = "sort"
    force_distributed: bool = False
    dv_pred: object = None
    sort_path: str | None = None
    sort_desc: bool = True
    constant_boost: bool = False
    avail_boost: bool = False
    group_by: bool = False
    highlight: bool = False
    first_pos: bool = False  # phrase highlight: the page carries first_pos
    with_url: bool = False
    total_mode: str = "exact"

    def occur(self):
        """How the kernels decide membership, cheapest form first:

        - ``None``: pure-should with msm <= 1 — every decoded doc matches;
        - ``("==", n)`` / ``(">=", m)``: one key per clause, all must or all
          should, together covering every key — the per-doc matched-key
          count decides (conjunctive / m-of-n);
        - ``"clauses"``: anything else — one membership flag per clause.
        """
        if not self.must and not self.must_not and self.msm <= 1:
            return None
        if self.must_not or (self.must and self.should):
            return "clauses"
        cl = self.must or self.should
        if all(len(c) == 1 for c in cl) and sorted(c[0] for c in cl) == self.keys:
            return ("==", len(cl)) if self.must else (">=", self.msm)
        return "clauses"

    @property
    def wand_shaped(self) -> bool:
        """WAND's θ-pruning scope: page 1 of a score-ranked, ungrouped,
        unfiltered term query whose membership is a count (or nothing)."""
        return (
            not self.skip and not self.group_by and self.dv_pred is None
            and self.sort_path is None and not self.phrase
            and self.occur() != "clauses"
        )

    @property
    def reads_dl(self) -> bool:
        """The dl-derived boosts and group key are the only readers of the
        per-doc max(dl); every other query skips it."""
        return self.constant_boost or self.avail_boost or self.group_by


def _math_idf(n_docs: int, df: int) -> float:
    import math

    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


# term dictionaries up to this size are cached in driver memory; above it the
# engine falls back to distributed parquet range scans (the cluster-scale path)
_TERM_DICT_CACHE_MAX = 2_000_000


def _phrase_match_arrays(
    terms_seq: list[str], decoded: dict[str, tuple], max_gap: int = 0
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Phrase / ordered-proximity matching over decoded positional postings.

    ``decoded[t] = (doc_ids, tfs, dls, pos_flat)`` concatenated over t's
    blocks (``pos_flat`` groups by posting row, each run sorted ascending).
    Occurrences become composite keys ``doc_id * stride + pos`` with
    ``stride`` exceeding the largest possible in-doc shift, so "term_{i}
    at position p+d in the same doc" is exactly "key + d" — the whole
    chain is sorted-set intersections with NO per-doc loop.  Works
    unchanged for repeated phrase terms ("milk milk": K + 1 ∩ K).

    ``max_gap=0`` is the exact phrase.  ``max_gap=g`` is ordered proximity
    (the Lucene Intervals "ordered NEAR with maxgaps" semantics, NOT
    SloppyPhraseQuery's transposition slop): every adjacent pair may be
    separated by up to g extra tokens, terms strictly in order; tf counts
    the distinct LAST-term positions that complete a chain.

    Returns matched (doc_ids, tfs, dls, first_starts); ``first_starts`` is
    each doc's first phrase START offset for the exact phrase, and -1 when
    ``max_gap > 0`` (variable gaps make the start unrecoverable from the
    end key alone — highlight refuses proximity queries for this reason).
    Keys never leave this function, so callers on different partitions may
    see different strides.
    """
    empty = (np.empty(0, np.int64),) * 4
    if any(t not in decoded or decoded[t][0].size == 0 for t in terms_seq):
        return empty
    m = len(terms_seq)
    max_dl = max(int(decoded[t][2].max()) for t in set(terms_seq))
    stride = max_dl + (m - 1) * (max_gap + 1) + 2
    keys: dict[str, np.ndarray] = {}
    for t in set(terms_seq):
        ids, tfs, _, pos = decoded[t]
        keys[t] = np.sort(np.repeat(ids, tfs) * stride + pos)
    s = keys[terms_seq[0]]
    for t in terms_seq[1:]:
        if max_gap == 0:
            s = np.intersect1d(s + 1, keys[t], assume_unique=True)
        else:
            s = np.unique(
                np.concatenate(
                    [
                        np.intersect1d(s + d, keys[t], assume_unique=True)
                        for d in range(1, max_gap + 2)
                    ]
                )
            )
        if s.size == 0:
            return empty
    # s is sorted, holds the LAST term's keys -> per doc, the first key is
    # the first occurrence; exact-phrase START = end position - (m-1)
    uniq, first_ix, counts = np.unique(s // stride, return_index=True,
                                       return_counts=True)
    if max_gap == 0:
        firsts = s[first_ix] % stride - (m - 1)
    else:
        firsts = np.full(uniq.size, -1, dtype=np.int64)
    # dl lookup from the first term's postings (matched docs ⊆ its docs;
    # a (term, doc) posting lives in exactly one block, so ids are unique)
    ids0, _, dls0, _ = decoded[terms_seq[0]]
    order = np.argsort(ids0)
    dl_out = dls0[order][np.searchsorted(ids0[order], uniq)]
    return uniq, counts.astype(np.int64), dl_out.astype(np.int64), firsts.astype(np.int64)


def _phrase_rows(q: _Query, terms, bufs, poss) -> pd.DataFrame:
    """The one phrase matcher both placements run where term queries run
    :func:`_fold` — the driver over every candidate block, a distributed
    task once per doc range: decode the blocks (``terms[i]``'s postings
    ``bufs[i]`` and positions ``poss[i]``), then
    :func:`_phrase_match_arrays`.  Columns doc_id (ascending), tf, dl,
    first_pos; unscored, since the phrase idf needs the global match
    count."""
    parts: dict[str, list] = {}
    for t, buf, pbuf in zip(terms, bufs, poss):
        ids, tfs, dls = decode_postings(buf)
        parts.setdefault(t, []).append((ids, tfs, dls, decode_position_lists(pbuf, tfs)))
    decoded = {t: tuple(map(np.concatenate, zip(*ps))) for t, ps in parts.items()}
    return pd.DataFrame(dict(zip(
        ("doc_id", "tf", "dl", "first_pos"),
        _phrase_match_arrays(list(q.phrase), decoded, max_gap=q.max_gap),
    )))


def _add_boosts(q: _Query, acc: np.ndarray, dls: np.ndarray | None = None) -> np.ndarray:
    """The dl-derived boosts, added one after the other: reference A6
    (constant-score should clause, constants.py:16) and A8 (post-search
    availability boost, search_utils.py:157-165).  ``dls=None`` adds both
    in the same order: WAND's boost ceiling."""
    if q.constant_boost:
        acc = acc + (CONSTANT_BOOST if dls is None else np.where(dls % 37 == 0, CONSTANT_BOOST, 0.0))
    if q.avail_boost:
        acc = acc + (AVAIL_BOOST if dls is None else np.where(dls % 7 > 0, AVAIL_BOOST, 0.0))
    return acc


def _phrase_tf(q: _Query, rows: pd.DataFrame, avgdl: float) -> tuple:
    """(tf, dl, BM25 length-norm denominator) of phrase match rows, at the
    phrase field's avgdl (``avgdl``: the corpus's)."""
    tf = rows["tf"].to_numpy(dtype=np.float64)
    dls = rows["dl"].to_numpy(dtype=np.int64)
    adl = q.avgdl[q.keys[0]] if q.avgdl else avgdl
    return tf, dls, tf + K1 * (1.0 - B + B * dls.astype(np.float64) / adl)


def _phrase_scored(q: _Query, rows: pd.DataFrame, df: int, avgdl: float) -> pd.DataFrame:
    """Phrase match rows -> (doc_id, score, first_pos), on both placements:
    the phrase scores as ONE pseudo-term, ``idf(df) * tf_norm`` with the
    field's docCount/avgdl, then the dl boosts.  ``df`` is the UNfiltered
    phrase df: Lucene FILTER never changes scoring stats."""
    tf, dls, den = _phrase_tf(q, rows, avgdl)
    w = _math_idf(q.n_docs[q.keys[0]], df)
    return pd.DataFrame({
        "doc_id": rows["doc_id"].to_numpy(dtype=np.int64),
        "score": _add_boosts(q, w * tf / den, dls),
        "first_pos": rows["first_pos"].to_numpy(dtype=np.int64),
    })


def _phrase_keep(q: _Query, rows: pd.DataFrame, avgdl: float) -> pd.DataFrame:
    """The phrase rows of one task (or range) that can still reach the
    page, chosen before the phrase idf ``w`` is known — it needs every
    task's match count.

    Within a boost class (rows whose dl boosts are equal) the score
    ``w * tf / den + boost`` orders rows by ``tf_norm = tf / den`` — up to
    rounding: rows one ulp apart in tf_norm can tie on the score, and rows
    tied on tf_norm can differ on it.  So each class keeps its top
    ``skip+k`` by (tf_norm desc, doc_id asc) plus every row with tf_norm
    >= cutoff - δ, cutoff being the (skip+k)-th tf_norm and δ = 2^-46 /
    w_min + 2^-48.  w_min, the smallest term idf, bounds w from below (the
    phrase df is at most every term's df); 2^-46 covers two ulps of a score
    below 64 once the boost is added, 2^-48 the relative roundings of
    w·tf/den.  A dropped row then scores strictly below ``skip+k`` rows of
    its own class, so it can reach no page.
    """
    m = max(q.skip + q.k, 1)
    tf, dls, den = _phrase_tf(q, rows, avgdl)
    tfn, ids = tf / den, rows["doc_id"].to_numpy()
    delta = 2.0**-46 / min(q.idf.values()) + 2.0**-48
    cls = _add_boosts(q, np.zeros(tf.size), dls)
    keep = []
    for c in np.unique(cls):
        ix = np.flatnonzero(cls == c)
        ix = ix[np.lexsort((ids[ix], -tfn[ix]))]
        if ix.size > m:
            ix = ix[: max(m, np.count_nonzero(tfn[ix] >= tfn[ix[m - 1]] - delta))]
        keep.append(ix)
    return rows.iloc[np.sort(np.concatenate(keep))] if keep else rows


def _fold(q: _Query, terms, bufs, avgdl: float, pruned=((), ())) -> pd.DataFrame:
    """The one scoring fold both placements run — the driver over every
    candidate block, a distributed task once per doc range: decode the
    blocks (``terms[i]``'s postings ``bufs[i]``), BM25 summed per doc in
    ascending key order, the occur reduction, boosts, and max(dl) when
    boosts or the group key read it.  ``pruned`` holds WAND's pruned
    blocks (terms, bufs): only their doc ids are decoded, for membership,
    and a matched doc one of them holds scores NaN — counted, never
    ranked.  Columns doc_id (ascending), score [, g_id, n_docs = 1]."""
    per_key: dict[str, list] = {}
    for t, buf in zip(terms, bufs):
        per_key.setdefault(t, []).append(decode_postings(buf))
    decoded = {
        t: tuple(np.concatenate([p[j] for p in ps]) for j in range(3))
        for t, ps in per_key.items()
    }
    skipped: dict[str, list] = {}
    for t, buf in zip(*pruned):
        skipped.setdefault(t, []).append(decode_doc_ids(buf))
    skipped = {t: np.concatenate(ids) for t, ids in skipped.items()}
    all_ids = [d[0] for d in decoded.values()] + list(skipped.values())
    uniq = np.unique(np.concatenate(all_ids)) if all_ids else np.empty(0, dtype=np.int64)
    acc = np.zeros(uniq.size, dtype=np.float64)
    dls = np.zeros(uniq.size, dtype=np.int64)
    occ = q.occur()
    n_keys = np.zeros(uniq.size, dtype=np.int64) if isinstance(occ, tuple) else None
    where: dict[str, np.ndarray] = {}
    for t in sorted(decoded.keys() | skipped.keys()):
        pos = np.empty(0, dtype=np.int64)
        if t in decoded:
            ids, tfs, dl = decoded[t]
            tf = tfs.astype(np.float64)
            adl = q.avgdl[t] if q.avgdl else avgdl
            s = q.idf[t] * tf / (tf + K1 * (1.0 - B + B * dl.astype(np.float64) / adl))
            pos = np.searchsorted(uniq, ids)
            acc[pos] = acc[pos] + s
            if q.reads_dl:
                np.maximum.at(dls, pos, dl.astype(np.int64))
        if t in skipped:
            pos = np.concatenate([pos, np.searchsorted(uniq, skipped[t])])
        if n_keys is not None:
            n_keys[pos] += 1
        elif occ == "clauses":
            where[t] = pos
    if skipped:
        acc[np.searchsorted(uniq, np.concatenate(list(skipped.values())))] = np.nan
    keep = None
    if n_keys is not None:
        keep = n_keys == occ[1] if occ[0] == "==" else n_keys >= occ[1]
    elif occ == "clauses":
        def hit(c):  # one flag array per clause, never per key
            flag = np.zeros(uniq.size, dtype=bool)
            for t in c:
                if t in where:
                    flag[where[t]] = True
            return flag
        keep = np.ones(uniq.size, dtype=bool)
        for c in q.must:
            keep &= hit(c)
        if q.msm:
            n_should = np.zeros(uniq.size, dtype=np.int64)
            for c in q.should:
                n_should += hit(c)
            keep &= n_should >= q.msm
        for c in q.must_not:  # Lucene MUST_NOT: any hit excludes the doc
            keep &= ~hit(c)
    if keep is not None:
        uniq, acc, dls = uniq[keep], acc[keep], dls[keep]
    cands = pd.DataFrame({"doc_id": uniq, "score": _add_boosts(q, acc, dls)})
    if q.group_by:
        cands = cands.assign(g_id=dls % GROUP_MOD, n_docs=np.ones(uniq.size, np.int64))
    return cands


def _rank(q: _Query, rows: pd.DataFrame) -> np.ndarray:
    """Row positions of ``rows`` (a RangeIndex frame) in rank order: score
    desc (the 6-decimal rounded score for groups), or the sort attribute
    with nulls last; doc_id asc breaks every tie."""
    if q.sort_path is not None:
        return rows.sort_values(
            [q.sort_path, "doc_id"], ascending=[not q.sort_desc, True],
            na_position="last",
        ).index.to_numpy()
    score = rows["score"].to_numpy(dtype=np.float64)
    if q.group_by:
        score = round_half_away(score, 6)
    return np.lexsort((rows["doc_id"].to_numpy(), -score))


def _partial(q: _Query, rows: pd.DataFrame) -> pd.DataFrame:
    """What a placement keeps of ``rows`` for the page, and the merge of
    such partials: under ``group_by`` one row per g_id — the best hit on
    the rounded score (the rule every oracle uses, so a last-ulp float
    difference cannot flip a winner; reported scores stay raw) with the
    member counts summed (reference /v2/search, app.py:488-520); else the
    top ``skip+k`` rows by the page's rank key."""
    if not q.group_by:
        top = _rank(q, rows)[: max(q.skip + q.k, 1)]
        return rows.iloc[top].reset_index(drop=True)
    ids, n = rows["doc_id"].to_numpy(), rows["n_docs"].to_numpy()
    score = rows["score"].to_numpy(dtype=np.float64)
    order = np.lexsort((ids, -round_half_away(score, 6)))
    gid, first, inv = np.unique(
        rows["g_id"].to_numpy()[order], return_index=True, return_inverse=True
    )
    return pd.DataFrame({
        "doc_id": ids[order][first], "score": score[order][first], "g_id": gid,
        "n_docs": np.bincount(inv, weights=n[order], minlength=gid.size).astype(np.int64),
    })


def _label_counts(labels: pd.DataFrame) -> pd.DataFrame:
    """(facet, bucket, count) over matched rows' facet label columns, the
    i-th column facet i; a null label counts in no bucket."""
    return pd.concat([
        labels[c].value_counts().rename_axis("bucket").reset_index().assign(facet=i)
        for i, c in enumerate(labels.columns)
    ], ignore_index=True)


def _wand_task(
    q: _Query, terms, ssegs, mtns, bufs, avgdl: float, bound_scale: float,
    floor_scale: float, count: bool = True,
) -> tuple[pd.DataFrame, int, dict]:
    """WAND inside one kernel task: :func:`_fold` over each doc range the
    task holds, pruned block by block against the task's own running θ.

    Bounds come from the blocks (``terms[i]``, range ``ssegs[i]``, baked
    ``mtns[i]``, postings ``bufs[i]``).  A (key, range) cell's bound is its
    largest ``idf·max_tf_norm·bound_scale``.  A block's bound is its own
    plus what the other keys could add in its range (their cells' bounds),
    summed the way the fold sums a score — ascending key order from 0.0,
    then each boost at its ceiling — so float rounding keeps it at or above
    the score of every doc the block holds.  θ starts at the attained floor
    where one is sound: the k-th largest per-range ``idf·max_tf_norm``,
    times ``floor_scale``.  The doc realizing a block max scores at least
    that, distinct ranges hold distinct docs, and under ``occur() is None``
    every decoded doc matches; a count-based occur, or ``floor_scale == 0``
    (bounds not attained, the caller's call), leaves θ unset.  Ranges are
    visited best bound first, and after each one θ rises to the k-th best
    score the task has folded so far.

    A block whose bound is strictly below θ is pruned: its tf/dl are never
    decoded nor scored.  With ``count`` its doc ids still are, so ``n`` is
    the exact match count and the docs it holds are counted, never emitted
    (:func:`_fold`'s NaN scores); without it the block is skipped outright
    and a doc missing its share keeps a partial score.  A range holding
    fewer keys than a count-based occur needs matches nothing.

    Rounding: the builder bakes ``max_tf_norm = fl(tf/den)`` while
    :func:`_fold` scores ``fl(fl(idf·tf)/den)``, so the doc attaining a
    block max can score a few ulps above ``fl(idf·fl(max_tf_norm·
    bound_scale))`` and below ``fl(idf·max_tf_norm)``.  Each rounding moves
    a value by a relative u = 2^-53 at most: the score lies within
    (1 ± u)^2 of its exact value, the bound and the floor (one more
    rounding for the margin below) within (1 ± u)^4 of theirs, so they
    part by a relative 6u + O(u²) at most.  Each per-key bound is therefore
    widened up by the relative margin 2^-48 = 32u and the floor down by it,
    and the rounded sums above, monotone in every operand, stay at or
    above every score they cover.

    Why pages stay bit-identical: each score that raises θ is a full or
    partial score of a doc this task matched, and a partial score never
    exceeds the full one, so θ never exceeds the task's true k-th score,
    which never exceeds the global k-th.  A doc a pruned block holds
    scores at most that block's bound, strictly below θ, so it cannot
    reach the page, and neither can a partial row, which scores less than
    its doc.  A doc scoring at least θ sits in no pruned block, so it is
    scored in full, a θ-tie that doc_id could admit included.  Hence the
    task's emitted top k equals the unpruned fold's.

    Returns (the task's top k rows, ``n``, {"theta_floor", "theta",
    "blocks_read", "blocks_pruned"}; θs None when unset).
    """
    k, occ, n_keys = max(q.k, 1), q.occur(), len(q.keys)
    w = np.array([q.idf[t] for t in terms], dtype=np.float64)
    mtn = np.asarray(mtns, dtype=np.float64)
    ub = w * (mtn * bound_scale) * (1.0 + 2.0**-48)
    key = np.searchsorted(np.array(q.keys, dtype=object), np.array(terms, dtype=object))
    ranges, blk_rng = np.unique(np.asarray(ssegs, np.int64), return_inverse=True)
    cell = (blk_rng, key)
    cell_ub, best = np.zeros((ranges.size, n_keys)), np.zeros(ranges.size)
    np.maximum.at(cell_ub, cell, ub)
    np.maximum.at(best, blk_rng, w * mtn)
    has = np.zeros((ranges.size, n_keys), dtype=bool)
    has[cell] = True
    bound = np.zeros(len(terms))
    for j in range(n_keys):
        bound = bound + np.where(key == j, ub, cell_ub[blk_rng, j])
    bound = _add_boosts(q, bound)
    floor = None
    if occ is None and floor_scale > 0.0 and ranges.size >= k:
        floor = float(np.sort(best)[-k] * floor_scale * (1.0 - 2.0**-48))
    theta, top = -np.inf if floor is None else floor, np.empty(0)
    order = np.argsort(blk_rng, kind="stable")
    blocks = np.split(order, np.flatnonzero(np.diff(blk_rng[order])) + 1)
    rng_keys = has.sum(axis=1)
    parts, n, read = [], 0, 0
    for r in np.lexsort((ranges, -cell_ub.sum(axis=1))):
        b = blocks[r]
        if occ is not None and rng_keys[r] < occ[1]:
            continue
        cut = bound[b] < theta
        live, dead = b[~cut], (b[cut] if count else b[:0])
        read += live.size
        if not live.size and not dead.size:
            continue
        cands = _fold(q, [terms[i] for i in live], [bufs[i] for i in live], avgdl,
                      pruned=([terms[i] for i in dead], [bufs[i] for i in dead]))
        n += len(cands)
        cands = cands[cands["score"].notna()].reset_index(drop=True)
        if len(cands):
            top = np.sort(np.concatenate([top, cands["score"].to_numpy()]))[-k:]
            if top.size == k:
                theta = max(theta, float(top[0]))
            parts.append(_partial(q, cands))
    rows = _partial(q, pd.concat(parts, ignore_index=True)) if parts else None
    stats = {"theta_floor": floor, "theta": None if theta == -np.inf else theta,
             "blocks_read": read, "blocks_pruned": len(terms) - read}
    return rows, n, stats


def _fuzzy_term_cond(operand, term: str, fuzzy: int, transpositions: bool):
    """The distributed edit-distance filter over a term (or key-suffix)
    column — THE three-way dispatch both dictionary-scale expansions share:
    plain ``levenshtein``; at transpositions+k=1 the exact closed form
    ``levenshtein <= 1 OR operand IN swap_variants(q)``; and only for the
    no-closed-form transpositions+k>=2 shape (beyond Lucene's own cap) an
    Arrow-batched pandas_udf running the banded OSA DP."""
    if not transpositions:
        return F.levenshtein(operand, F.lit(term)) <= fuzzy
    if fuzzy == 1:
        from ..analysis.text import swap_variants

        cond = F.levenshtein(operand, F.lit(term)) <= fuzzy
        swaps = swap_variants(term)
        if swaps:
            cond = cond | operand.isin(swaps)
        return cond
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _osa_leq(vals: pd.Series) -> pd.Series:
        return vals.map(lambda t: edit_distance_leq(t, term, fuzzy, True))

    return _osa_leq(operand)


def soundex_key_col(c):
    """``analysis.text.soundex_key`` as a pure-JVM Spark column expression —
    the chain the distributed phonetic expansion and the declarative twins
    share with the python and DuckDB forms (one definition, three stacks):
    translate a..z to codes -> collapse adjacent-duplicate codes -> drop the
    first code (the kept letter's own) -> drop vowel zeros -> pad/cut to 3.
    Non-[a-z]+ terms key to themselves."""
    from ..analysis.text import _SOUNDEX_MAP

    codes = F.translate(c, "abcdefghijklmnopqrstuvwxyz", _SOUNDEX_MAP)
    deduped = F.regexp_replace(codes, r"(.)\1+", "$1")
    rest = F.regexp_replace(F.substring(deduped, 2, 1_000_000), "0", "")
    key = F.concat(
        F.upper(F.substring(c, 1, 1)),
        F.substring(F.rpad(rest, 3, "0"), 1, 3),
    )
    return F.when(c.rlike("^[a-z]+$"), key).otherwise(c)


class _Resident:
    """A small index held in driver memory: the segment table sorted by
    (term, sseg) and doc_stats' (doc_id, url) sorted by doc_id, each read
    with one ``toArrow()`` at open, sorted in the scan so the driver holds
    one copy.  Every driver-side block read is then a ``searchsorted``
    slice and url hydration a ``searchsorted`` lookup — the same bytes a
    collect returns, with no Spark job."""

    def __init__(self, seg: DataFrame, docs: DataFrame):
        def load(frame, *keys):
            return frame.coalesce(1).sortWithinPartitions(*keys).toArrow()

        self.seg = load(seg, "term", "sseg")
        terms = self.seg["term"]
        runs = pc.not_equal(terms[1:], terms[:-1]).to_numpy(zero_copy_only=False)
        heads = np.flatnonzero(np.r_[True, runs])[: len(terms)]
        # the distinct terms, each one's first row, and the row count last
        self.terms = terms.take(heads).to_numpy(zero_copy_only=False)
        self.starts = np.r_[heads, len(terms)].astype(np.int64)
        self.sseg = self.seg["sseg"].to_numpy()
        docs = load(docs, "doc_id")
        self.doc_ids, self.urls = docs["doc_id"].to_numpy(), docs["url"]

    def blocks(self, terms, cols, ssegs=None, span=None) -> dict:
        """The block rows of ``terms`` (only doc ranges ``ssegs`` and blocks
        overlapping the doc ids ``span`` = (lo, hi) when given): column ->
        list of values, as a collect returns them."""
        at = np.searchsorted(self.terms, np.array(terms, dtype=object))
        at = [int(i) for i, t in zip(at, terms) if i < self.terms.size and self.terms[i] == t]
        rows = np.concatenate([np.arange(self.starts[i], self.starts[i + 1]) for i in at]
                              + [np.empty(0, np.int64)])
        if ssegs is not None:
            rows = rows[np.isin(self.sseg[rows], ssegs)]
        if span is not None:
            lo, hi = (self.seg[c].take(rows).to_numpy() for c in ("first_doc", "last_doc"))
            rows = rows[(lo <= span[1]) & (hi >= span[0])]
        tbl = self.seg.select(cols).take(rows)
        return {c: tbl[c].to_pylist() for c in cols}

    def urls_of(self, ids) -> pd.DataFrame:
        """(doc_id, url) of the ``ids`` doc_stats holds."""
        ids = np.asarray(ids, dtype=np.int64)
        at = np.searchsorted(self.doc_ids, ids)
        hit = at < self.doc_ids.size
        hit[hit] = self.doc_ids[at[hit]] == ids[hit]
        return pd.DataFrame({"doc_id": ids[hit], "url": self.urls.take(at[hit]).to_pylist()})


class SearchEngine:
    def __init__(self, spark: SparkSession, index_dir: str, log_queries: bool = False):
        self.spark = spark
        self.cat = IndexCatalog(index_dir)
        # C7 query-log sink (reference logs request/response on every search
        # endpoint, app.py:62-64,436-438): when enabled, every search()
        # appends one row to the catalog's append-only query_log table
        self.log_queries = log_queries
        # resume qids from the existing append-only log: a second engine
        # instance (or a restart) against the same index must not reuse qids,
        # or qid stops being a usable log key (the log table is shared)
        self._qid = 0
        if log_queries:
            existing = self.cat.read_query_log()
            if existing.num_rows:
                # default=0 guards a log whose every qid is null (a corrupt
                # or hand-written table must not crash engine construction)
                self._qid = max(
                    (q for q in existing.column("qid").to_pylist() if q is not None),
                    default=0,
                )
        self.stats = self.cat.read_corpus_stats()
        self.n_docs = int(self.stats["n_docs"])
        self.avgdl = float(self.stats["avgdl"])
        self.cuts = list(self.stats["term_cuts"])
        # incremental indexes (streaming/ingest.py) bake each generation's
        # max_tf_norm with the avgdl known AT that generation; if avgdl has
        # since grown, old block bounds under-estimate and WAND pruning would
        # be unsound.  bound_scale = max_g(avgdl_now / avgdl_build_g, 1) is a
        # sound uniform correction (tf_norm(avgdl1) <= tf_norm(avgdl0) *
        # avgdl1/avgdl0 for avgdl1 > avgdl0); batch indexes carry 1.0 and
        # x * 1.0 == x leaves their plans bit-identical.
        self.bound_scale = float(self.stats.get("wand_bound_scale", 1.0))
        # dual correction for the θ achievable floor: min_g(avgdl_now /
        # avgdl_build_g, 1).  1.0 on batch indexes (mtn is exactly what the
        # block-max doc scores today) and on incremental indexes whose
        # avgdl only grew; < 1 when a generation baked at a LARGER avgdl
        # than the current corpus — its mtn is then attained by NO doc and
        # an uncorrected floor could exceed the true θ and prune a top-k
        # range.  The attained correction is the linear shrink bound
        # tf_norm(a1) >= tf_norm(a0)·a1/a0 for a1 < a0.  An incremental
        # index whose stats predate the key gives no per-generation data to
        # rule shrink out, so the floor is disabled outright (0.0 — θ then
        # comes from folded scores only, always sound).
        if "wand_floor_scale" in self.stats:
            self.floor_scale = float(self.stats["wand_floor_scale"])
        elif self.stats.get("corpus_path") == "incremental":
            self.floor_scale = 0.0
        else:
            self.floor_scale = 1.0
        # multi-field index (builder.BuildConfig.field_cols): posting keys are
        # "<field><sep><term>" and each field carries its own doc_count/avgdl
        # (Lucene per-field norms; reference clauses address named paths,
        # search_utils.py:79-97,181-203).  Empty dict = single-field index.
        self.fields: dict[str, dict] = dict(self.stats.get("fields") or {})
        self.field_sep: str = str(self.stats.get("field_sep", "\x1f"))
        # True when block bounds were baked at each posting's OWN field
        # avgdl (builder per-field bake): bounds are then attained — the
        # exact quantity query-time scoring computes — so the per-range
        # achievable θ floor is sound on multi-field compound queries too.
        # Pre-r5 multi-field indexes baked at max field avgdl (sound upper
        # bound only) and carry no flag → floor stays disabled for them.
        self.per_field_mtn = bool(self.stats.get("per_field_mtn", False))
        # doc-values sidecar columns (builder.BuildConfig.docvalues_cols):
        # per-doc attributes stored on doc_stats for Atlas range/equals
        # filter clauses.  Empty = no doc values baked.
        self.docvalues_cols: tuple = tuple(self.stats.get("docvalues_cols") or ())
        # every table read is pinned here, restricted to the generations
        # corpus_stats.json commits (IndexCatalog.read_committed), so the
        # engine serves exactly the snapshot its stats describe
        # with their known schemas: segments and term_stats open without a
        # schema-inference job (doc_stats infers: dv column types are not
        # recorded)
        self._segments_df = self.cat.read_committed(
            spark, self.cat.segments, self.stats, from_arrow_schema(
                _segment_schema(False, bool(self.stats.get("with_positions")))))
        # doc_stats pinned at construction like the segments frame: dv
        # filters / field sorts / facets / url hydration all read it, and
        # re-planning spark.read.parquet per query pays a footer/file-listing
        # round trip that a serving tier multiplexing queries cannot afford.
        # (An index grown by ingest is served by a NEW engine instance —
        # the existing contract for every cached structure here.)
        self._doc_stats_df = self.cat.read_committed(spark, self.cat.doc_stats, self.stats)
        # term stats likewise: the df lookups and term expansions above the
        # dictionary cache all read it
        self._term_stats_df = self.cat.read_committed(
            spark, self.cat.term_stats, self.stats, T.StructType([
                T.StructField("term", T.StringType()), T.StructField("df", T.LongType()),
                T.StructField("cf", T.LongType())]))
        # small term dicts: one-time sorted load, then O(log V) lookups with
        # zero Spark jobs per query (the reference's Atlas term dictionary is
        # equally memory-resident inside Lucene).  Incremental indexes store
        # term stats as per-generation df DELTAS — every read aggregates by
        # term (identity for a batch index, whose terms are unique).
        self._terms_arr: np.ndarray | None = None
        self._dfs_arr: np.ndarray | None = None
        self._term_lens: np.ndarray | None = None
        # per-(term, fuzzy, cap) expansion memo — repeated misspellings are
        # the common case in real query logs; bounded, cleared wholesale
        self._fuzzy_cache: dict[tuple, list[str]] = {}
        # lazy per-dictionary-term Soundex keys (expand_phonetic)
        self._phonetic_keys: np.ndarray | None = None
        # one collect both loads the dictionary and decides whether it fits:
        # a limit one past the cache bound counts distinct terms
        pdf = (
            self._term_stats_df.groupBy("term").agg(F.sum("df").alias("df"))
            .limit(_TERM_DICT_CACHE_MAX + 1).toPandas()
        )
        if len(pdf) <= _TERM_DICT_CACHE_MAX:
            pdf = pdf.sort_values("term")
            self._terms_arr = pdf["term"].to_numpy(dtype=object)
            self._dfs_arr = pdf["df"].to_numpy(dtype=np.int64)
        # resident iff the dictionary is cached and the index's total
        # postings (its Σ df) fit the driver placement's own bound
        self._resident: _Resident | None = None
        if self._dfs_arr is not None and int(self._dfs_arr.sum()) <= self.SMALL_QUERY_POSTINGS:
            cols = ["term", "sseg", "first_doc", "last_doc", "postings"] + (
                ["positions"] if "positions" in self._segments_df.columns else [])
            self._resident = _Resident(self._segments_df.select(*cols),
                                       self._doc_stats_df.select("doc_id", "url"))

    # ------------------------------------------------------------------ dims
    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        if not terms:
            return {}
        if self._terms_arr is not None:
            idx = np.searchsorted(self._terms_arr, np.array(terms, dtype=object))
            out = {}
            for t, i in zip(terms, idx):
                if i < len(self._terms_arr) and self._terms_arr[i] == t:
                    out[t] = int(self._dfs_arr[i])
            return out
        rows = (
            self._term_stats_df
            .filter(F.col("term").isin(list(terms)))
            .groupBy("term").agg(F.sum("df").alias("df"))
            .collect()
        )
        return {r["term"]: r["df"] for r in rows}

    def expand_prefix(self, prefix: str, max_expansions: int | None = None) -> list[str]:
        """Term-dictionary prefix range scan (reference $search.autocomplete,
        search_utils.py:182-186; pinned to a range scan in FIXTURES.md)."""
        if self._terms_arr is not None:
            lo = np.searchsorted(self._terms_arr, prefix)
            hi = np.searchsorted(self._terms_arr, prefix + "\U0010ffff")
            out = [str(t) for t in self._terms_arr[lo:hi] if str(t).startswith(prefix)]
            return out[:max_expansions] if max_expansions else out
        q = (
            self._term_stats_df
            .filter(F.col("term").startswith(prefix))
            .select("term")
            .distinct()
            .orderBy("term")
        )
        if max_expansions:
            q = q.limit(max_expansions)
        return [r["term"] for r in q.collect()]

    def _require_single_field(self, surface: str) -> None:
        """Bare-term dictionary surfaces silently match NOTHING against a
        multi-field index's prefixed keys (and the length prefilter would
        reject every key anyway) — same fail-loud rule as plain search()."""
        if self.fields:
            raise ValueError(
                f"{surface} addresses the bare term dictionary; this is a "
                f"multi-field index (fields: {sorted(self.fields)}) — use "
                "the field-scoped clause forms (search_fields / "
                "search_field_phrase)"
            )

    def expand_fuzzy(
        self, term: str, fuzzy: int, max_expansions: int | None = None,
        transpositions: bool = False,
    ) -> list[str]:
        """Dictionary terms within edit distance ``fuzzy`` of ``term``
        (Atlas/Lucene fuzzy matching: the query term expands to its
        edit-distance neighborhood, then scores as a disjunction).

        ``transpositions=True`` counts an adjacent swap as ONE edit —
        Lucene's ``fuzzy.transpositions``, the Atlas default the reference's
        ``$search`` fuzzy option inherits ('teh' now reaches 'the').

        Cached-dictionary path: numpy length prefilter (|len diff| <= fuzzy)
        + banded DP over the survivors.  Above the cache budget the
        expansion is one JVM-side filter over the distributed term stats —
        plain ``F.levenshtein``, plus (transpositions at fuzzy=1) the exact
        closed form ``levenshtein(t, q) <= 1 OR t IN swap_variants(q)``; for
        the one shape with no JVM closed form (transpositions at fuzzy >= 2,
        beyond Lucene's own max of 2) an Arrow-batched pandas_udf runs the
        same banded DP over the term dictionary — dictionary-scale, never
        corpus-scale.  ``max_expansions`` keeps the first N in ascending
        term order (the deterministic cap every oracle can reproduce).
        Results memoize per engine instance (bounded) — repeat misspellings
        skip the scan.
        """
        self._require_single_field("expand_fuzzy")
        key = (term, int(fuzzy), max_expansions, bool(transpositions))
        hit = self._fuzzy_cache.get(key)
        if hit is not None:
            return list(hit)
        if self._terms_arr is not None:
            if self._term_lens is None:
                self._term_lens = np.fromiter(
                    (len(t) for t in self._terms_arr), dtype=np.int64,
                    count=len(self._terms_arr),
                )
            cand = self._terms_arr[np.abs(self._term_lens - len(term)) <= fuzzy]
            out = [
                str(t) for t in cand
                if edit_distance_leq(str(t), term, fuzzy, transpositions)
            ]
        else:
            rows = (
                self._term_stats_df
                .select("term").distinct()
                .filter(_fuzzy_term_cond(F.col("term"), term, fuzzy, transpositions))
                .collect()
            )
            out = sorted(r["term"] for r in rows)
        out = out[:max_expansions] if max_expansions else out
        if len(self._fuzzy_cache) > 10_000:
            self._fuzzy_cache.clear()
        self._fuzzy_cache[key] = out
        return list(out)

    def expand_wildcard(
        self, pattern: str, max_expansions: int | None = None
    ) -> list[str]:
        """Dictionary terms matching a Lucene/Atlas ``wildcard`` pattern
        (``*`` = any run, ``?`` = one char); the expansion scores as a
        disjunction like every other term-expansion surface
        (:meth:`_expand_pattern`)."""
        self._require_single_field("expand_wildcard")
        return self._expand_pattern("", *wildcard_pattern_parts(pattern), max_expansions)

    def expand_regex(
        self, pattern: str, max_expansions: int | None = None
    ) -> list[str]:
        """Dictionary terms fully matching an Atlas/Lucene ``regex``-operator
        pattern (the dialect-safe subset ``regex_pattern_parts`` pins: the
        same pattern text means the same language to python ``re``, Java
        ``rlike``, and DuckDB's RE2), by :meth:`_expand_pattern`."""
        self._require_single_field("expand_regex")
        return self._expand_pattern("", *regex_pattern_parts(pattern), max_expansions)

    def _expand_pattern(
        self, field: str, fixed: str, rx_src: str, max_expansions: int | None
    ) -> list[str]:
        """Dictionary keys whose term — the key suffix after ``field``'s
        prefix on a multi-field index (the Atlas wildcard/regex operator's
        ``path``), the whole key with ``field=""`` — fully matches
        ``rx_src``, ascending, the first ``max_expansions`` kept (the
        deterministic cap every oracle twin reproduces).

        The pattern's fixed prefix bounds a range scan (the same bound
        Lucene's term enumeration seeks to); the cached dictionary then
        filters the slice with python ``re``, and above the cache budget
        the SAME pattern runs JVM-side (anchored ``rlike``) over the
        distributed term stats, prefix-pruned by ``startswith``."""
        plen = len(field) + len(self.field_sep) if field else 0
        kpfx = (f"{field}{self.field_sep}" if field else "") + fixed
        if self._terms_arr is not None:
            lo = np.searchsorted(self._terms_arr, kpfx)
            hi = np.searchsorted(self._terms_arr, kpfx + "\U0010ffff")
            rx = re.compile(rx_src)
            out = [str(t) for t in self._terms_arr[lo:hi] if rx.fullmatch(str(t)[plen:])]
            return out[: max_expansions or None]
        suffix = F.substring(F.col("term"), plen + 1, 1_000_000)
        q = (
            self._term_stats_df
            .select("term").distinct()
            .filter(F.col("term").startswith(kpfx) & suffix.rlike(f"^(?:{rx_src})$"))
            .orderBy("term")
        )
        if max_expansions:
            q = q.limit(max_expansions)
        return [r["term"] for r in q.collect()]

    def expand_prefix_fuzzy(
        self, term: str, fuzzy: int, max_expansions: int | None = None
    ) -> list[str]:
        """Fuzzy autocomplete expansion (Atlas ``autocomplete`` with the
        ``fuzzy`` option): dictionary terms having a PREFIX within
        Levenshtein distance ``fuzzy`` of the query term.

        Closed form shared by every twin: ``min over L in
        [len(q)-fuzzy, len(q)+fuzzy] of levenshtein(t[:L], q) <= fuzzy``
        (a matching prefix's length is within ``fuzzy`` of len(q)).  The
        cached-dictionary path computes it with a banded DP
        (``prefix_edit_distance_leq``); above the cache budget it is one
        JVM-side ``least(levenshtein(substring(term, 1, L), q))`` filter
        over the distributed term stats — same definition, cluster-scale.
        """
        from ..analysis.text import prefix_edit_distance_leq

        self._require_single_field("expand_prefix_fuzzy")
        key = ("pf", term, int(fuzzy), max_expansions)
        hit = self._fuzzy_cache.get(key)
        if hit is not None:
            return list(hit)
        lq = len(term)
        if self._terms_arr is not None:
            if self._term_lens is None:
                self._term_lens = np.fromiter(
                    (len(t) for t in self._terms_arr), dtype=np.int64,
                    count=len(self._terms_arr),
                )
            cand = self._terms_arr[self._term_lens >= lq - fuzzy]
            out = [str(t) for t in cand if prefix_edit_distance_leq(term, str(t), fuzzy)]
        else:
            exprs = [
                F.levenshtein(F.substring("term", 1, L), F.lit(term))
                for L in range(max(1, lq - fuzzy), lq + fuzzy + 1)
            ]
            cond = (F.least(*exprs) if len(exprs) > 1 else exprs[0]) <= fuzzy
            rows = (
                self._term_stats_df
                .select("term").distinct().filter(cond).collect()
            )
            out = sorted(r["term"] for r in rows)
        out = out[:max_expansions] if max_expansions else out
        if len(self._fuzzy_cache) > 10_000:
            self._fuzzy_cache.clear()
        self._fuzzy_cache[key] = out
        return list(out)

    def expand_phonetic(self, term: str) -> list[str]:
        """Dictionary terms sharing ``term``'s pinned Soundex key (ascending)
        — SURVEY §2 A11, the reference's commented-out "sounds_like" phonetic
        pipeline (reference metaphone.py:37-47) re-expressed as key-equal
        dictionary expansion scored as the standard disjunction.

        Cached-dictionary path: the per-term key array is computed once,
        lazily, then every expansion is a numpy mask.  Above the cache budget
        the expansion is one JVM-side filter over the distributed term stats
        using the same translate/regexp chain (``soundex_key_col``) — the
        identical definition, cluster-scale, no Python in the filter.
        """
        from ..analysis.text import soundex_key

        self._require_single_field("expand_phonetic")
        key = ("ph", term)
        hit = self._fuzzy_cache.get(key)
        if hit is not None:
            return list(hit)
        want = soundex_key(term)
        if self._terms_arr is not None:
            if self._phonetic_keys is None:
                self._phonetic_keys = np.array(
                    [soundex_key(str(t)) for t in self._terms_arr], dtype=object
                )
            out = [str(t) for t in self._terms_arr[self._phonetic_keys == want]]
        else:
            rows = (
                self._term_stats_df
                .select("term").distinct()
                .filter(soundex_key_col(F.col("term")) == F.lit(want))
                .collect()
            )
            out = sorted(r["term"] for r in rows)
        if len(self._fuzzy_cache) > 10_000:
            self._fuzzy_cache.clear()
        self._fuzzy_cache[key] = out
        return list(out)

    def suggest(
        self, term: str, fuzzy: int = 1, transpositions: bool = False
    ) -> str | None:
        """"Did you mean": the most frequent dictionary term within edit
        distance ``fuzzy`` (df desc, term asc tiebreak) — None when nothing
        is in range.  A term already in the dictionary suggests itself
        (distance 0 dominates nothing; df decides).  ``transpositions``
        counts an adjacent swap as one edit, so 'teh' suggests 'the'."""
        cands = self.expand_fuzzy(term, fuzzy, transpositions=transpositions)
        if not cands:
            return None
        dfs = self.term_dfs(cands)
        return min(cands, key=lambda t: (-dfs.get(t, 0), t))

    def _pids_for_terms(self, terms: list[str]) -> list[int]:
        cuts = np.array(self.cuts, dtype=object)
        return sorted({int(np.searchsorted(cuts, t, side="left")) for t in terms})

    def _candidate_segments(self, terms: list[str], ssegs: list[int] | None = None) -> DataFrame:
        seg = self._segments_df
        cond = F.col("term").isin(terms) & F.col("pid").isin(self._pids_for_terms(terms))
        if ssegs is not None:
            cond = cond & F.col("sseg").isin([int(s) for s in ssegs])
        return seg.filter(cond)

    # ------------------------------------------------- driver-side fast path
    # A query whose candidate posting count is tiny relative to the cluster
    # does not earn a shuffle: decode + score at the driver in one collect
    # (the same call pattern Lucene serves from a single searcher).  The
    # distributed kernel takes over when Σ df of the matched terms exceeds
    # this; at web scale every head-term query does.
    SMALL_QUERY_POSTINGS = 2_000_000
    # set by every mode="auto" query: {"mode", "total_dc" = Σdf} — the
    # placement it took; bench/test introspection
    last_dispatch: dict | None = None
    # set by every WAND kernel call, over its tasks' count rows: the largest
    # "theta_floor" and "theta" (None when no task set one) and the summed
    # "blocks_read" / "blocks_pruned"
    last_wand: dict | None = None

    # --------------------------------------------------- planner and kernels
    def _query(
        self, must=(), should=(), must_not=(), msm: int = 0,
        weight: dict | None = None, **extras,
    ) -> _Query:
        """Expanded clause key lists -> the one query form.

        Applies Lucene's minimum_should_match rule (no shoulds -> 0;
        shoulds with no required clause -> at least 1), drops absent keys
        and clauses left with none, and derives per-key idf (the field's
        doc_count on a multi-field index) times the clause ``weight`` —
        default 1 for every positive key; a key only filter/must_not names
        weighs 0: decoded for membership, contributing exactly nothing to
        the fold.  ``keys`` stays empty when no document can match: every
        key absent, a must clause with no present key, or more required
        shoulds than should clauses with a present key.  Every surface's
        ``mode`` and ``total_mode`` are checked here.
        """
        q = _Query(**extras)
        if q.mode not in ("sort", "wand", "auto"):
            raise ValueError(f"mode must be 'sort', 'wand', or 'auto'; got {q.mode!r}")
        if q.total_mode not in ("exact", "approx"):
            raise ValueError(f"total_mode must be 'exact' or 'approx'; got {q.total_mode!r}")
        msm = int(msm)
        if not should:
            msm = 0
        elif not must:
            msm = max(msm, 1)
        keys = sorted({t for c in (*must, *should, *must_not) for t in c})
        dfs = self.term_dfs(keys) if keys and msm <= len(should) else {}
        q.must = [[t for t in c if t in dfs] for c in must]
        q.should = [p for p in ([t for t in c if t in dfs] for c in should) if p]
        q.must_not = [p for p in ([t for t in c if t in dfs] for c in must_not) if p]
        if not dfs or not all(q.must) or msm > len(q.should):
            return q
        if weight is None:
            weight = dict.fromkeys((t for c in (*must, *should) for t in c), 1.0)
        q.keys, q.dfs, q.msm = sorted(dfs), dfs, msm
        if self.fields:
            fs = {t: self.fields[t.split(self.field_sep, 1)[0]] for t in q.keys}
            q.n_docs = {t: int(f["doc_count"]) for t, f in fs.items()}
            q.avgdl = {t: float(f["avgdl"]) for t, f in fs.items()}
        else:
            q.n_docs = dict.fromkeys(q.keys, self.n_docs)
        q.idf = {
            t: weight.get(t, 0.0) * _math_idf(q.n_docs[t], dfs[t]) for t in q.keys
        }
        return q

    def _run(self, q: _Query) -> SearchResult:
        """The one planner: place a compiled query, then finish its page.

        - a WAND-shaped query runs the pruned distributed kernel under an
          explicit ``mode="wand"``, and under ``mode="auto"`` whenever the
          driver would not take it; ``mode="auto"`` records its placement
          in ``last_dispatch`` on every call, driver-placed ones included;
        - any other query that is not ``force_distributed`` and has Σdf <=
          SMALL_QUERY_POSTINGS runs on the driver;
        - everything else runs the distributed kernel.
        """
        sigma = sum((q.dfs or {}).values())
        small = not q.force_distributed and sigma <= self.SMALL_QUERY_POSTINGS
        wand = bool(q.keys) and q.wand_shaped and (
            q.mode == "wand" or (q.mode == "auto" and not small)
        )
        if q.mode == "auto":
            self.last_dispatch = {"mode": "wand" if wand else "sort", "total_dc": int(sigma)}
        if not q.keys:
            return self._finish(q, pd.DataFrame())
        if wand:
            total = self._wand_total(q)
            rows, n = self._dist_kernel(q, wand=True, count=total is None)
            return self._finish(q, rows, total=n if total is None else total)
        if small:
            return self._finish(q, self._driver_kernel(q))
        return self._finish(q, *self._dist_kernel(q))

    def _blocks(self, q: _Query) -> DataFrame:
        """The distributed kernel's candidate block rows: a phrase's
        postings + positions in its eligible ranges, else the postings and
        block bounds."""
        if q.phrase:
            return self._candidate_segments(q.keys, self._phrase_segs(q.keys)).select(
                "term", "sseg", "postings", "positions")
        return self._candidate_segments(q.keys).select("term", "sseg", "postings", "max_tf_norm")

    def _block_rows(self, terms: list[str], cols: list[str], ssegs=None, span=None) -> dict:
        """Driver-side block reads: ``terms``' block rows (only doc ranges
        ``ssegs`` and blocks overlapping the doc ids ``span`` = (lo, hi)
        when given), column -> list — a slice of the resident segment
        table, else one collect."""
        if self._resident is not None:
            return self._resident.blocks(terms, cols, ssegs, span)
        frame = self._candidate_segments(terms, ssegs)
        if span is not None:
            frame = frame.filter((F.col("first_doc") <= span[1]) & (F.col("last_doc") >= span[0]))
        rows = frame.select(*cols).collect()
        return {c: [r[c] for r in rows] for c in cols}

    def _phrase_segs(self, keys: list[str]) -> list[int]:
        """The doc ranges holding a block of every distinct phrase term
        ``keys``: a phrase can match only there, so no other range's
        postings or positions are read, shuffled or decoded.  Read from the
        terms' (term, sseg) block metadata — resident: no Spark job; else
        one column-pruned collect."""
        b = self._block_rows(keys, ["term", "sseg"])
        n = Counter(s for _, s in set(zip(b["term"], b["sseg"])))
        return sorted(s for s, c in n.items() if c == len(keys))

    def _driver_kernel(self, q: _Query) -> pd.DataFrame:
        """The driver placement: the candidate blocks (resident: no Spark
        job; else one collect, after a phrase's :meth:`_phrase_segs`), the
        shared matcher (:func:`_fold`, or :func:`_phrase_rows` then scored),
        one doc-values probe, the group rollup.  Returns every matched
        candidate; the finisher ranks and pages."""
        cols = ["term", "postings"] + (["positions"] if q.phrase else [])
        ssegs = self._phrase_segs(q.keys) if q.phrase else None
        blocks = self._block_rows(q.keys, cols, ssegs).values()
        cands = _phrase_rows(q, *blocks) if q.phrase else _fold(q, *blocks, self.avgdl)
        n_all = len(cands)
        if (q.dv_pred is not None or q.sort_path is not None) and len(cands):
            attrs = self._dv_rows(
                cands["doc_id"].to_numpy(), q.dv_pred, [q.sort_path] if q.sort_path else []
            )
            cands = cands.merge(attrs, on="doc_id", how="inner")
        if q.phrase:
            return _phrase_scored(q, cands, n_all, self.avgdl)
        return _partial(q, cands) if q.group_by else cands

    def _dist_kernel(
        self, q: _Query, labels: list = (), wand: bool = False, count: bool = True,
    ) -> tuple[pd.DataFrame, int | None]:
        """The one distributed plan: the distributed placement of term and
        phrase queries, WAND (``wand``: each task runs :func:`_wand_task`,
        whose pruned blocks are decoded docs-only when ``count`` asks for
        the exact total, else skipped), and facet counts (``labels``: one
        label column per facet).

        Candidate block rows shuffle by doc range still compressed; the
        doc-values slice (:meth:`_dv_probe`, keyed by the builder's
        ``doc_id DIV range_docs``) rides the same shuffle, so each range's
        attributes land beside its blocks.  Each task matches one range at
        a time with the driver's matcher (its memory is one range's decoded
        blocks), joins the slice (inner with a predicate; left without, so
        null attributes sort last) and emits:

        - a term query: its :func:`_partial`;
        - a phrase: its :func:`_phrase_keep` rows, unscored;
        - facets: every label's count over its matched docs, nulls
          excluded — the full map, since partial top-N lists do not merge
          exactly;

        and one count row (first column -1): its match count ``n``, the
        count before the dv join, ``n_all`` (a phrase's idf reads the
        UNfiltered phrase df), and under WAND its θs and block counters,
        which become ``last_wand``.  Returns the merged rows — a phrase's
        scored, facets' summed per (facet, bucket) — and the total (None
        under ``group_by``: the finisher counts the groups)."""
        cols = [q.sort_path] if q.sort_path else []
        lcols = [f"_facet{i}" for i in range(len(labels))]
        frame = self._blocks(q)
        dv = q.dv_pred is not None or bool(cols) or bool(labels)
        if dv:
            rd = int(self.stats["range_docs"])
            probe = self._dv_probe(q.dv_pred, cols + [c.alias(n) for c, n in zip(labels, lcols)])
            frame = frame.unionByName(
                probe.withColumn("sseg", F.expr(f"CAST(doc_id DIV {rd} AS INT)")),
                allowMissingColumns=True,
            )
        kq, how = replace(q, dv_pred=None), "left" if q.dv_pred is None else "inner"
        avgdl, bscale = self.avgdl, self.bound_scale
        # the floor is attained only where bounds were baked at the avgdl
        # scoring uses: single-field, or a per-field bake
        fscale = self.floor_scale if q.avgdl is None or self.per_field_mtn else 0.0
        if labels:
            fields = [("facet", "long"), ("bucket", "string"), ("count", "long")]
            per_range, per_task = (lambda c: c[lcols]), _label_counts
        elif q.phrase:
            fields = [(c, "long") for c in ("doc_id", "tf", "dl", "first_pos")]
            per_range = per_task = lambda c: _phrase_keep(kq, c, avgdl)
        else:
            fields = [("doc_id", "long"), ("score", "double")] + (
                [("g_id", "long"), ("n_docs", "long")] if q.group_by else []
            ) + [(c, self._doc_stats_df.schema[c].dataType.simpleString()) for c in cols]
            per_range = per_task = lambda c: _partial(kq, c)
        tail = [("n", "long"), ("n_all", "long")] + ([
            ("theta_floor", "double"), ("theta", "double"),
            ("blocks_read", "long"), ("blocks_pruned", "long"),
        ] if wand else [])
        fields += tail
        arrow = {"long": pa.int64(), "double": pa.float64(), "string": pa.string()}

        def kernel(batches):
            batches = [b for b in batches if b.num_rows]
            if not batches:
                return
            tbl = pa.Table.from_batches(batches)
            terms, bufs = tbl["term"].to_pylist(), tbl["postings"].to_pylist()
            sseg = tbl["sseg"].to_numpy()
            schema = pa.schema([
                tbl.schema.field(c) if c in cols else (c, arrow[t]) for c, t in fields
            ])
            counts = {f.name: [-1 if pa.types.is_integer(f.type) else None] for f in schema}
            if wand:
                mtn = tbl["max_tf_norm"].to_numpy(zero_copy_only=False)
                out, n, stats = _wand_task(kq, terms, sseg, mtn, bufs, avgdl, bscale,
                                           fscale, count)
                n_all = n
                counts.update({c: [v] for c, v in stats.items()})
            else:
                poss = tbl["positions"].to_pylist() if kq.phrase else None
                is_blk = np.array([t is not None for t in terms])  # else a dv row
                order = np.argsort(sseg, kind="stable")
                parts, n, n_all = [], 0, 0
                for rows in np.split(order, np.flatnonzero(np.diff(sseg[order])) + 1):
                    b = rows[is_blk[rows]]
                    if not b.size:
                        continue
                    blocks = [terms[i] for i in b], [bufs[i] for i in b]
                    if kq.phrase:
                        cands = _phrase_rows(kq, *blocks, [poss[i] for i in b])
                    else:
                        cands = _fold(kq, *blocks, avgdl)
                    n_all += len(cands)
                    if dv:
                        attrs = tbl.take(rows[~is_blk[rows]]).select(["doc_id", *cols, *lcols])
                        cands = cands.merge(attrs.to_pandas(), on="doc_id", how=how)
                    n += len(cands)
                    parts.append(per_range(cands))
                out = per_task(pd.concat(parts, ignore_index=True)) if n_all else None
            if out is not None:
                yield pa.RecordBatch.from_pandas(
                    out.assign(**{c: 0 for c, _ in tail}),
                    schema=schema, preserve_index=False,
                )
            yield pa.RecordBatch.from_pydict({**counts, "n": [n], "n_all": [n_all]},
                                             schema=schema)

        ddl = ", ".join(f"`{c}` {t}" for c, t in fields)
        out = self._by_range(frame).mapInArrow(kernel, ddl).toPandas()
        is_cnt = out.iloc[:, 0] < 0
        cnt = out[is_cnt]
        out = out[~is_cnt].drop(columns=[c for c, _ in tail]).reset_index(drop=True)
        n, n_all = int(cnt["n"].sum()), int(cnt["n_all"].sum())
        if wand:
            self.last_wand = {
                **{c: (None if cnt[c].isna().all() else float(cnt[c].max()))
                   for c in ("theta_floor", "theta")},
                **{c: int(cnt[c].sum()) for c in ("blocks_read", "blocks_pruned")},
            }
        if labels:
            return out.groupby(["facet", "bucket"], as_index=False)["count"].sum(), n
        if q.phrase:
            return _phrase_scored(q, out, n_all, avgdl), n
        if q.group_by:
            return _partial(q, out), None
        return out, n

    @staticmethod
    def _by_range(frame: DataFrame) -> DataFrame:
        """Every row of one doc range (``sseg``) into one task: a hash
        shuffle with no partition count, so AQE may coalesce small ranges
        into one task (``rebalance`` could split a range across tasks)."""
        return frame.repartition("sseg")

    def _dv_probe(self, pred, cols) -> DataFrame:
        """The one doc-values scan: doc_stats with ``pred`` pushed into the
        parquet scan and only doc_id + ``cols`` (names, or label
        expressions computed in the scan) read.  doc_id is unique on
        doc_stats, so one join with it serves the dv filter (membership)
        and the sort/facet attributes in a single pass."""
        probe = self._doc_stats_df if pred is None else self._doc_stats_df.filter(pred)
        return probe.select("doc_id", *cols)

    def _dv_rows(self, ids: np.ndarray, pred, cols) -> pd.DataFrame:
        """Driver placements: the eligible rows (doc_id + ``cols``) among
        the candidate ids, which broadcast into the probe — never a collect
        of the eligible universe."""
        cand = self.spark.createDataFrame(pd.DataFrame({"doc_id": ids.astype(np.int64)}))
        return (
            self._dv_probe(pred, cols)
            .join(F.broadcast(cand), "doc_id", "inner").toPandas()
        )

    def _finish(self, q: _Query, cands: pd.DataFrame, total: int | None = None) -> SearchResult:
        """The one page finisher every placement returns through.

        Ranks (score desc; the 6-decimal rounded score for groups — real
        ties exist between group winners; or the sort attribute, nulls
        last; doc_id asc breaks every tie), pages [skip, skip+k), gives
        empty and populated pages one schema (doc_id int64, score float64,
        [g_id, n_docs int64], [sort attribute], [first_pos | highlights],
        [url]), then highlights and hydrates urls for the page docs only —
        a ``searchsorted`` lookup in the resident url table when the index
        is resident, else one Spark job.
        ``cands`` holds every matched candidate (``total`` defaults to its
        length), or the distributed kernel's merged partials with its
        ``total`` — the reference's $facet {total, data} (pipelines.py:
        27-42) either way.
        """
        cols = (
            ["doc_id", "score"]
            + (["g_id", "n_docs"] if q.group_by else [])
            + ([q.sort_path] if q.sort_path else [])
            + (["first_pos"] if q.first_pos else [])
        )
        total = len(cands) if total is None else total
        window = _rank(q, cands)[q.skip : q.skip + q.k] if len(cands) else []
        page = cands.iloc[window].reindex(columns=cols).reset_index(drop=True)
        cast = {c: t for c, t in _PAGE_DTYPES.items() if c in page and page[c].dtype != t}
        if cast:  # empty pages; astype is costly enough to skip when a no-op
            page = page.astype(cast)
        if q.highlight:
            page = self._attach(page, "highlights",
                                lambda ids: self._highlight_page(q.keys, ids))
        if q.with_url:
            page = self._attach(page, "url", self._urls)
        return SearchResult(total=int(total), page=page)

    def _urls(self, ids: list[int]) -> pd.DataFrame:
        """(doc_id, url) of page docs: a resident lookup, else one job."""
        if self._resident is not None:
            return self._resident.urls_of(ids)
        return (self._doc_stats_df.filter(F.col("doc_id").isin(ids))
                .select("doc_id", "url").toPandas())

    @staticmethod
    def _attach(page: pd.DataFrame, col: str, fetch) -> pd.DataFrame:
        """Left-merge ``fetch(page doc ids)``'s ``col`` onto the page; an
        empty page gains the column without a fetch."""
        if not len(page):
            return page.assign(**{col: pd.Series(dtype=object)})
        return page.merge(fetch([int(d) for d in page["doc_id"]]), on="doc_id", how="left")

    # ----------------------------------------------------- multi-field search
    def _clause_terms(self, clause, max_expansions: int | None = None) -> list[str]:
        """One compound clause -> its prefixed posting keys.

        A clause addresses a named field path (reference ``{"text": {"query":
        kw, "path": "name"}}``, search_utils.py:79-97).  ``(field, query)``
        tuples are text clauses; dicts may set ``kind``:

        - ``text``: the analyzed terms of ``query``, each prefixed — the
          clause matches a doc when ANY of them is present (Lucene text
          query = disjunction within the clause);
        - ``prefix``: Atlas ``autocomplete`` (search_utils.py:182-186) — the
          single analyzed term expands by dictionary prefix scan WITHIN the
          field (prefixed keys sort contiguously per field, so the existing
          range scan is already field-scoped);
        - ``fuzzy``: the Atlas text clause's ``fuzzy`` option over a named
          path — every analyzed term expands to its edit-distance
          neighborhood WITHIN the field's vocabulary (options ``fuzzy``
          (default 1) and ``transpositions`` (default False) on the clause
          dict).  The clause matches when ANY variant is present, exactly
          like a plain text clause over the expanded term set;
        - ``wildcard``: the Atlas ``wildcard`` operator over a named path —
          the raw query is a ``*``/``?`` pattern expanded against the
          field's vocabulary (``_expand_pattern``), then scored
          as the usual disjunction.
        """
        if isinstance(clause, (tuple, list)):
            field, query, kind = clause[0], clause[1], "text"
        else:
            field, query = clause["field"], clause["query"]
            kind = clause.get("kind", "text")
        if not self.fields:
            raise ValueError(
                "search_fields requires a multi-field index "
                "(build with BuildConfig(field_cols=...))"
            )
        if field not in self.fields:
            raise ValueError(
                f"unknown field {field!r}; index fields: {sorted(self.fields)}"
            )
        toks = preprocess_query(query)
        sep = self.field_sep
        if kind == "text":
            return [f"{field}{sep}{t}" for t in toks]
        if kind == "prefix":
            if len(toks) != 1:
                raise ValueError(
                    f"prefix clause needs a single analyzed term, got {toks!r}"
                )
            return self.expand_prefix(f"{field}{sep}{toks[0]}", max_expansions)
        if kind == "fuzzy":
            n = int(clause.get("fuzzy", 1))
            transpositions = bool(clause.get("transpositions", False))
            out: set[str] = set()
            for tk in toks:
                out.update(self._expand_fuzzy_in_field(
                    field, tk, n, transpositions, max_expansions
                ))
            return sorted(out)
        if kind == "wildcard":
            # the raw query IS the pattern (never analyzed — metacharacters
            # would be stripped); expansion is field-scoped like every
            # other clause kind
            return self._expand_pattern(
                field, *wildcard_pattern_parts(clause["query"]), max_expansions
            )
        if kind == "regex":
            # same contract as wildcard: raw pattern, field-scoped expansion
            return self._expand_pattern(
                field, *regex_pattern_parts(clause["query"]), max_expansions
            )
        raise ValueError(f"unknown clause kind {kind!r}")

    def _expand_fuzzy_in_field(
        self, field: str, term: str, fuzzy: int, transpositions: bool,
        max_expansions: int | None,
    ) -> list[str]:
        """Edit-distance expansion scoped to one field's vocabulary.

        Prefixed keys sort contiguously per field ([field+sep, field+" ")
        bounds: the \\x1f separator sorts below every token codepoint), so
        the cached path slices the dictionary to the field's range, strips
        the prefix, and runs the same banded DP as the single-field
        expansion; the distributed path applies the same k=1 closed form /
        pandas_udf to the key SUFFIX over a prefix-pruned term-stats scan.
        Returns prefixed keys, ascending.
        """
        sep = self.field_sep
        prefix = f"{field}{sep}"
        key = ("ff", field, term, int(fuzzy), max_expansions, bool(transpositions))
        hit = self._fuzzy_cache.get(key)
        if hit is not None:
            return list(hit)
        if self._terms_arr is not None:
            lo = int(np.searchsorted(self._terms_arr, prefix))
            # chr(0x20) sorts just above the \x1f separator and below every
            # token codepoint, so field+" " is an exclusive field upper bound
            hi = int(np.searchsorted(self._terms_arr, field + " "))
            plen = len(prefix)
            out = [
                str(t) for t in self._terms_arr[lo:hi]
                if abs((len(t) - plen) - len(term)) <= fuzzy
                and edit_distance_leq(str(t)[plen:], term, fuzzy, transpositions)
            ]
        else:
            suffix = F.substring(F.col("term"), len(prefix) + 1, 1_000_000)
            rows = (
                self._term_stats_df
                .select("term").distinct()
                .filter(
                    F.col("term").startswith(prefix)
                    & _fuzzy_term_cond(suffix, term, fuzzy, transpositions)
                )
                .collect()
            )
            out = sorted(r["term"] for r in rows)
        out = out[:max_expansions] if max_expansions else out
        if len(self._fuzzy_cache) > 10_000:
            self._fuzzy_cache.clear()
        self._fuzzy_cache[key] = out
        return list(out)

    def _sort_spec(self, sort) -> tuple:
        """Validate an Atlas ``sort`` option against the baked doc-values
        columns -> (path, descending)."""
        bad = set(sort) - {"path", "order"}
        if bad:
            raise ValueError(f"sort takes path+order; unknown keys {sorted(bad)}")
        path = sort.get("path")
        if path not in self.docvalues_cols:
            raise ValueError(
                f"sort path {path!r} is not a doc-values column of "
                f"this index (baked: {sorted(self.docvalues_cols)}); "
                "build with BuildConfig(docvalues_cols=(...,))"
            )
        order = sort.get("order", "desc")
        if order not in ("asc", "desc"):
            raise ValueError(f"sort order must be 'asc' or 'desc'; got {order!r}")
        return path, order == "desc"

    @staticmethod
    def _split_dv_clauses(filter_list):
        """Partition a filter list into (text clauses, doc-values operator
        objects) — dv operators are dicts keyed range/equals/exists."""
        ops = ("range", "equals", "exists")
        dv = [c for c in filter_list
              if isinstance(c, dict) and any(o in c for o in ops)]
        text = [c for c in filter_list
                if not (isinstance(c, dict) and any(o in c for o in ops))]
        return text, dv

    def _dv_predicate(self, clauses):
        """Atlas ``range`` / ``equals`` filter clauses -> one Spark predicate
        over the doc-values sidecar (doc_stats columns baked by
        ``BuildConfig(docvalues_cols=...)``).

        Clause shapes (Atlas ``compound.filter`` operator objects beyond
        text):

        - ``{"range":  {"path": col, "gte"/"gt"/"lte"/"lt": value, ...}}``
        - ``{"equals": {"path": col, "value": v}}``
        - ``{"exists": {"path": col}}`` — the attribute is non-null

        SQL three-valued logic gives range/equals Atlas semantics for free:
        a null attribute compares to null, which the filter drops — exists
        is the explicit form.

        Doc values are per-doc attributes, not postings: the predicate is
        evaluated as a column-pruned, predicate-pushed parquet scan of
        doc_stats intersected with the term-driven candidate set — Lucene
        FILTER semantics (required, scores nothing), Lucene DocValues
        storage (column-stride, never inverted).
        """
        cond = F.lit(True)
        for c in clauses:
            op = next(o for o in ("range", "equals", "exists") if o in c)
            spec = dict(c[op])
            path = spec.pop("path", None)
            if path not in self.docvalues_cols:
                raise ValueError(
                    f"{op} clause path {path!r} is not a doc-values column of "
                    f"this index (baked: {sorted(self.docvalues_cols)}); "
                    "build with BuildConfig(docvalues_cols=(...,))"
                )
            col = F.col(path)
            if op == "exists":
                if spec:
                    raise ValueError(
                        f"exists clause takes only path; got {sorted(c[op])}"
                    )
                cond = cond & col.isNotNull()
                continue
            if op == "equals":
                if set(spec) != {"value"}:
                    raise ValueError(
                        f"equals clause takes exactly path+value; got {sorted(c[op])}"
                    )
                cond = cond & (col == F.lit(spec["value"]))
                continue
            if not spec:
                raise ValueError("range clause needs at least one of gt/gte/lt/lte")
            ops = {"gt": col.__gt__, "gte": col.__ge__,
                   "lt": col.__lt__, "lte": col.__le__}
            for bop, v in sorted(spec.items()):
                if bop not in ops:
                    raise ValueError(f"unknown range bound {bop!r} (gt/gte/lt/lte)")
                cond = cond & ops[bop](F.lit(v))
        return cond

    def search_fields(
        self,
        must: list = (),
        should: list = (),
        k: int = 10,
        skip: int = 0,
        minimum_should_match: int = 1,
        max_expansions: int | None = None,
        with_url: bool = False,
        force_distributed: bool = False,
        mode: str = "sort",
        must_not: list = (),
        filter: list = (),
        sort: dict | None = None,
    ) -> SearchResult:
        """Compound multi-field search (reference ``$search.compound`` over
        named paths: should over name+barcode for single-term queries,
        must over store_id/wh_id + name otherwise, minimumShouldMatch=1 —
        search_utils.py:79-97,181-203, app.py:472-486).

        Semantics (Lucene BooleanQuery): a doc matches when EVERY must
        clause matches, at least ``minimum_should_match`` should clauses
        match (with no must/filter clauses, at least 1 should clause must
        match regardless), EVERY ``filter`` clause matches (Lucene FILTER /
        Atlas ``compound.filter`` — required like must, scoring nothing:
        a must clause whose keys carry weight 0; together with
        must/should/must_not that is all four BooleanQuery occur types),
        and NO ``must_not`` clause matches (Lucene MUST_NOT /
        Atlas ``compound.mustNot`` — a pure filter that scores nothing).
        Every present positive query term contributes ``boost *
        idf_field(term) * tf_norm(tf, dl_field, avgdl_field)`` — idf from
        the FIELD's doc_count/df, the norm from the FIELD's length stats,
        boost the clause's optional multiplier (Atlas ``score: {boost:
        {value}}``; a key named by several clauses scores once with the
        largest boost) — summed per doc in ascending posting-key order
        (field, then term): the same deterministic fold as the single-field
        engine.  Boosts fold into the per-key idf, so every physical path
        (driver, sort, WAND — whose block bounds scale by the same idf) is
        bit-identical without special cases.

        The ``filter`` list additionally accepts Atlas ``range`` / ``equals``
        operator objects (``{"range": {"path": col, "gte"/"gt"/"lte"/"lt":
        v}}``, ``{"equals": {"path": col, "value": v}}``) over doc-values
        columns baked by ``BuildConfig(docvalues_cols=...)`` — required,
        scoring nothing, evaluated as a predicate-pushed doc_stats scan
        joined with the term-driven candidates (see :meth:`_dv_predicate`).
        They require at least one term-bearing clause: a match set defined
        by doc values alone is a relational scan, which the relational
        operators already express.

        ``sort`` (the Atlas ``$search.sort`` option / Lucene SortField)
        orders the matched docs by a doc-values column instead of score:
        ``{"path": col, "order": "asc"|"desc"}`` (default desc).  Nulls
        sort LAST under either order (the attribute is missing, not
        small), ties break doc_id asc, the page gains the sort column,
        and the BM25 score is still computed and returned (Atlas does the
        same).  Score-bound pruning is meaningless under a field sort, so
        WAND mode rejects it like every non-pure-should shape.

        The clauses compile to the same internal query as :meth:`search`
        and share its placement rule: ``mode="wand"`` (pure-should,
        minimum_should_match <= 1, skip 0 — anything else raises here)
        runs the pruned distributed kernel; ``mode="auto"`` runs it when
        the driver would not take the query and records ``last_dispatch``
        either way; otherwise a query that is not ``force_distributed``
        with Σdf <= SMALL_QUERY_POSTINGS runs on the driver (dv filters
        and sort included), the rest on the distributed kernel.
        """
        # doc-values operators (range/equals/exists) ride the filter list as
        # Atlas operator objects; term clauses (tuples / kind-dicts) stay text
        filter, dv_clauses = self._split_dv_clauses(filter)
        dv_pred = self._dv_predicate(dv_clauses) if dv_clauses else None
        if dv_pred is not None and not (must or should or filter):
            # candidate generation is postings-driven: a match set defined by
            # doc values alone is a relational scan, not a search (use the
            # relational operators for that)
            raise ValueError(
                "range/equals filter clauses require at least one term-bearing "
                "must/should/filter clause"
            )
        if must_not and not (must or should or filter):
            raise ValueError(
                "must_not requires at least one must/should/filter clause"
            )
        sort_path, sort_desc = None, True
        if sort is not None:
            sort_path, sort_desc = self._sort_spec(sort)
        if mode != "sort" and (must or must_not or filter or dv_clauses
                               or sort is not None
                               or int(minimum_should_match) > 1 or skip):
            # WAND's θ-pruning scope on the compound path: pure-should
            # msm<=1 key disjunctions from page 1 (must/must_not/filter/
            # msm>=2 clause filtering and deep pagination stay on the
            # full-scoring sort kernel — same restrictions as the
            # single-field dispatch)
            raise ValueError(
                "mode='wand'/'auto' on search_fields applies to pure-should "
                "minimum_should_match<=1 queries with skip=0"
            )
        return self._run(self._compile_clauses(
            must, should, must_not, filter, minimum_should_match,
            max_expansions, k=k, skip=skip, mode=mode,
            force_distributed=force_distributed, dv_pred=dv_pred,
            sort_path=sort_path, sort_desc=sort_desc, with_url=with_url,
        ))

    def facet_fields(
        self,
        must: list = (),
        should: list = (),
        minimum_should_match: int = 1,
        must_not: list = (),
        filter: list = (),
        facets: dict | None = None,
        max_expansions: int | None = None,
        keyword: str | None = None,
    ) -> dict:
        """Atlas ``$searchMeta`` facet collection over doc values.

        Evaluates the same compound clause set as :meth:`search_fields`
        (all four occur types, dv filter operators) but returns bucket
        counts over the MATCHED set instead of a ranked page: the clauses
        compile to the same internal query and run on the distributed
        kernel (facets are an analytic aggregation, served distributed).
        Each facet's bucket label is computed in the doc-values scan — the
        string cast of the value, or the boundary chain — and joins each
        doc range's matched docs in the kernel task, which returns every
        label's count; the driver sums them and orders the buckets.

        ``facets`` maps facet names to Atlas facet specs over doc-values
        columns:

        - ``{"type": "string", "path": col, "num_buckets": N}`` — one
          bucket per distinct non-null value, count desc then bucket asc,
          top ``num_buckets`` (default 10, Atlas's default);
        - ``{"type": "number", "path": col, "boundaries": [b0, b1, ...],
          "default": name}`` — half-open buckets ``[b_i, b_{i+1})`` labeled
          by their LOWER boundary (Atlas's rule); out-of-range docs land in
          the optional ``default`` bucket (ordered last) or, absent one, in
          no bucket; null attributes land in no bucket either way; empty
          buckets are omitted.

        Returns ``{"count": <matched total>, "facet": {name: pandas
        (bucket, count)}}`` — bucket is always a string, deterministic
        order as above.

        ``keyword=`` serves the single-field surface (the incremental
        crawl): the keyword compiles exactly as ``search(keyword,
        max_expansions=...)`` does (a single term prefix-expands), and its
        match set composes with dv filter operators on the filter list —
        clauses and keyword are mutually exclusive.
        """
        if not facets:
            raise ValueError("facet_fields requires at least one facet spec")
        filter, dv_clauses = self._split_dv_clauses(filter)
        dv_pred = self._dv_predicate(dv_clauses) if dv_clauses else None
        if keyword is not None:
            # single-field surface: search()'s own compile is the match set
            if self.fields:
                raise ValueError(
                    "keyword= facets apply to single-field indexes; use "
                    "must/should clauses on a multi-field index"
                )
            if must or should or must_not or filter:
                raise ValueError("keyword= replaces the clause lists")
        elif not (must or should or filter):
            raise ValueError(
                "facet_fields requires at least one term-bearing "
                "must/should/filter clause (or keyword= on a single-field index)"
            )
        specs: dict = {}
        for name, spec in facets.items():
            kind = spec.get("type")
            if kind not in ("string", "number"):
                raise ValueError(
                    f"facet {name!r}: type must be 'string' or 'number'; got {kind!r}"
                )
            path = spec.get("path")
            if path not in self.docvalues_cols:
                raise ValueError(
                    f"facet {name!r}: path {path!r} is not a doc-values column "
                    f"of this index (baked: {sorted(self.docvalues_cols)})"
                )
            col = F.col(path)
            if kind == "number":
                bounds = list(spec.get("boundaries") or ())
                if len(bounds) < 2 or sorted(bounds) != bounds:
                    raise ValueError(
                        f"facet {name!r}: boundaries must be >= 2 ascending values"
                    )
                default = spec.get("default")
                if default is not None and not isinstance(default, str):
                    raise ValueError(
                        f"facet {name!r}: default must be a bucket-name string"
                    )
                if default is not None and default in {str(b) for b in bounds}:
                    raise ValueError(
                        f"facet {name!r}: default {default!r} collides with a "
                        "boundary label"
                    )
                # Atlas's optional default bucket collects out-of-range
                # docs (null attributes still land in no bucket)
                label = (
                    F.when(col.isNotNull(), F.lit(default))
                    if default is not None
                    else F.lit(None).cast("string")
                )
                for lo, hi in zip(bounds, bounds[1:]):
                    label = F.when(
                        (col >= F.lit(lo)) & (col < F.lit(hi)), F.lit(str(lo))
                    ).otherwise(label)
                order = {str(b): i for i, b in enumerate(bounds)}
                if default is not None:
                    order[default] = len(bounds)
                specs[name] = (label, order)
            else:
                nb = int(spec.get("num_buckets", 10))
                if nb < 1:
                    raise ValueError(f"facet {name!r}: num_buckets must be >= 1")
                specs[name] = (col.cast("string"), nb)

        if keyword is not None:
            q = self._search_query(keyword, max_expansions=max_expansions)
        else:
            q = self._compile_clauses(
                must, should, must_not, filter, minimum_should_match,
                max_expansions,
            )
        if not q.keys:
            return {
                "count": 0,
                "facet": {n: pd.DataFrame({"bucket": pd.Series(dtype=object),
                                           "count": pd.Series(dtype=np.int64)})
                          for n in specs},
            }
        q.dv_pred = dv_pred
        counts, total = self._dist_kernel(q, labels=[lab for lab, _ in specs.values()])
        out: dict = {"count": total, "facet": {}}
        for i, (name, (_, arg)) in enumerate(specs.items()):
            got = counts[counts["facet"] == i]
            if isinstance(arg, dict):
                # number: lower-bound labels ascending, the default bucket last
                got = got.sort_values("bucket", key=lambda s: s.map(arg))
            else:  # string: count desc, bucket asc, the top num_buckets
                got = got.sort_values(["count", "bucket"], ascending=[False, True]).head(arg)
            out["facet"][name] = got[["bucket", "count"]].reset_index(drop=True)
        return out

    def _compile_clauses(
        self, must, should, must_not, filter, minimum_should_match,
        max_expansions, **extras,
    ) -> _Query:
        """Clause lists of :meth:`search_fields` / :meth:`facet_fields` ->
        the one query form: every clause analyzed to its prefixed posting
        keys, filter clauses joining must with weight 0 (they ARE must
        clauses that score nothing), and each positive key weighted by the
        largest boost among the clauses naming it."""
        must_terms = [self._clause_terms(c, max_expansions) for c in must]
        should_terms = [self._clause_terms(c, max_expansions) for c in should]
        must_not_terms = [self._clause_terms(c, max_expansions) for c in must_not]
        filter_terms = [self._clause_terms(c, max_expansions) for c in filter]
        weight: dict[str, float] = {}
        for c, ts in zip([*must, *should], must_terms + should_terms):
            b = float(c.get("boost", 1.0)) if isinstance(c, dict) else 1.0
            if b < 0.0:
                raise ValueError(f"clause boost must be >= 0, got {b}")
            for t in ts:
                weight[t] = max(weight.get(t, 0.0), b)
        return self._query(
            must=must_terms + filter_terms, should=should_terms,
            must_not=must_not_terms, msm=minimum_should_match, weight=weight,
            **extras,
        )

    # ------------------------------------------------------------ highlight
    def _highlight_page(self, terms: list[str], doc_ids: list[int]) -> pd.DataFrame:
        """First-occurrence offsets of the matched terms for PAGE docs only.

        The Atlas ``$search`` highlight option re-derived for the positional
        index: highlighting runs AFTER ranking, on the k returned docs — so
        the cost is k docs' blocks, never the candidate set.  Block pruning
        is metadata-only: the page docs' ssegs plus a [first_doc, last_doc]
        range check; at web scale that is a handful of blocks per query.

        Returns a frame (doc_id, highlights) where ``highlights`` is the
        deterministic string ``"term@pos ..."`` over the doc's matched terms
        in ascending term order (absent terms omitted) — a shape every
        engine and SQL oracle can reproduce byte-for-byte.
        """
        if "positions" not in self._segments_df.columns:
            raise ValueError(
                "highlight requires a positional index "
                "(build with BuildConfig(positions=True))"
            )
        ids = np.array(sorted(set(int(d) for d in doc_ids)), dtype=np.int64)
        range_docs = int(self.stats["range_docs"])
        ssegs = sorted({int(d) // range_docs for d in ids})
        b = self._block_rows(sorted(terms), ["term", "postings", "positions"], ssegs=ssegs,
                             span=(int(ids[0]), int(ids[-1])))
        firsts: dict[int, list[str]] = {int(d): [] for d in ids}
        for term, buf, pbuf in zip(*b.values()):  # ≤ m terms × page ssegs blocks
            d_arr, tfs, _ = decode_postings(buf)
            hit_ix = np.flatnonzero(np.isin(d_arr, ids))
            if hit_ix.size == 0:
                continue
            pos = decode_position_lists(pbuf, tfs)
            off = np.zeros(len(d_arr) + 1, dtype=np.int64)
            np.cumsum(tfs, out=off[1:])
            for i in hit_ix:
                # positions are sorted per doc -> first occurrence = run head
                firsts[int(d_arr[i])].append(f"{term}@{int(pos[off[i]])}")
        return pd.DataFrame(
            {
                "doc_id": ids,
                "highlights": [" ".join(sorted(firsts[int(d)])) for d in ids],
            }
        )

    # --------------------------------------------------------- phrase search
    def search_field_phrase(
        self,
        field: str,
        keyword: str,
        k: int = 10,
        skip: int = 0,
        force_distributed: bool = False,
        highlight: bool = False,
        max_gap: int = 0,
        with_url: bool = False,
        dv_filter: list = (),
    ) -> SearchResult:
        """Field-scoped exact-phrase search (Atlas phrase clause with a
        ``path``): the analyzed token sequence of ``keyword`` must appear
        consecutively within ``field``; matches score as one pseudo-term with
        the FIELD's docCount/avgdl.  Requires a positional multi-field index
        (``BuildConfig(field_cols=..., positions=True)``).  ``highlight``
        adds the first phrase start as a FIELD-LOCAL token offset.
        ``dv_filter`` takes doc-values operator objects (range/equals/exists)
        — FILTER semantics: matching constrained, the phrase idf unchanged."""
        dv_pred = None
        if dv_filter:
            text_f, dv_clauses = self._split_dv_clauses(dv_filter)
            if text_f:
                raise ValueError(
                    "dv_filter takes doc-values operator objects only "
                    "(range/equals/exists dicts)"
                )
            dv_pred = self._dv_predicate(dv_clauses)
        return self._run(self._phrase_query(
            keyword, k, skip, False, False, with_url, force_distributed,
            highlight=highlight, max_gap=max_gap, field=field,
            dv_pred=dv_pred,
        ))

    def _phrase_query(
        self,
        keyword: str,
        k: int,
        skip: int,
        constant_boost: bool,
        avail_boost: bool,
        with_url: bool,
        force_distributed: bool,
        highlight: bool = False,
        max_gap: int = 0,
        field: str | None = None,
        dv_pred=None,
        **modes,
    ) -> _Query:
        """Exact-phrase BM25 top-k (Atlas ``$search.phrase``, the operator the
        reference's platform exposes next to its text/autocomplete clauses),
        compiled to the one query form.

        The phrase is the INDEX analyzer's token sequence of ``keyword`` —
        order kept, stopwords kept — because positions refer to the analyzed
        stream and query-side stopword removal would silently change
        adjacency.  A doc matches when the terms appear consecutively in
        order (within ``max_gap`` extra tokens per step); the phrase then
        scores as ONE pseudo-term: ``idf(df_phrase) * tf_norm(tf_phrase,
        dl)`` with the engine's BM25 constants (:func:`_phrase_scored`).
        ``total`` is the exact phrase df at zero extra cost (the match IS
        the count); a dv filter constrains the match and the total but
        never the idf (Lucene FILTER).

        The distinct phrase terms are the query's must keys, so the
        planner places it by the small-query rule like any term query:
        the driver kernel, or the distributed kernel, whose tasks match one
        doc range each and return the rows that can still reach the page
        (:func:`_phrase_keep`); the driver then scores them with the
        global phrase df.  WAND never runs it (a phrase is not WAND-shaped).

        ``field`` (Atlas phrase clause's ``path``, multi-field indexes only):
        the phrase must appear within THAT field — terms become prefixed
        posting keys (whose stored positions are offsets in the field's own
        token stream, so adjacency is field-local by construction) and the
        pseudo-term scores with the FIELD's docCount/avgdl (Lucene per-field
        norms).  Doc-level dl%-boosts are doc-global semantics and are
        rejected with a field (field dl is the wrong operand for them).
        """
        if field is not None:
            # field addressing errors first: they are more specific than the
            # index-layout complaint a non-positional index would raise
            if not self.fields:
                raise ValueError(
                    "field-scoped phrase requires a multi-field index "
                    "(build with BuildConfig(field_cols=...))"
                )
            if field not in self.fields:
                raise ValueError(
                    f"unknown field {field!r}; index fields: {sorted(self.fields)}"
                )
        if "positions" not in self._segments_df.columns:
            raise ValueError(
                "phrase search requires a positional index "
                "(build with BuildConfig(positions=True))"
            )
        if max_gap and highlight:
            raise ValueError(
                "highlight is not supported with max_gap > 0 (variable gaps "
                "make the phrase start unrecoverable from the match key)"
            )
        terms_seq = tokenize(keyword)
        if field is not None:
            if constant_boost or avail_boost:
                raise ValueError(
                    "doc-level boosts are not supported with a field-scoped "
                    "phrase (the field dl is the wrong boost operand)"
                )
            terms_seq = [f"{field}{self.field_sep}{t}" for t in terms_seq]
        return self._query(
            must=[[t] for t in sorted(set(terms_seq))], phrase=tuple(terms_seq),
            max_gap=int(max_gap), k=k, skip=skip, with_url=with_url,
            first_pos=highlight, force_distributed=force_distributed,
            constant_boost=constant_boost, avail_boost=avail_boost, dv_pred=dv_pred,
            **modes,
        )

    # ---------------------------------------------------------------- search
    def search(self, keyword: str, **kwargs) -> SearchResult:
        """Single-field search (options and placement: :meth:`_search_query`),
        appending one query-log row per call when ``log_queries`` is on."""
        res = self._run(self._search_query(keyword, **kwargs))
        if self.log_queries:
            self._qid += 1
            top = None
            if len(res.page):
                # logged scores are rounded to 6; pick the top on the rounded
                # value with the doc_id tiebreak so the logged row is
                # reproducible across float-noise (same rule as the oracles)
                pg = res.page.assign(_rs=round_half_away(res.page["score"], 6))
                pg = pg.sort_values(["_rs", "doc_id"], ascending=[False, True])
                top = pg.iloc[0]
            self.cat.append_query_log([
                {
                    "qid": self._qid,
                    "keyword": keyword,
                    "mode": kwargs.get(
                        "mode", "phrase" if kwargs.get("phrase") else "sort"
                    ),
                    "n_terms": len(preprocess_query(keyword)),
                    "total": int(res.total),
                    "top_doc_id": int(top["doc_id"]) if top is not None else None,
                    "top_score": float(top["_rs"]) if top is not None else None,
                }
            ])
        return res

    def more_like_this(
        self,
        text: str,
        k: int = 10,
        skip: int = 0,
        max_query_terms: int = 25,
        min_term_freq: int = 1,
        min_doc_freq: int = 1,
        **kwargs,
    ) -> SearchResult:
        """Lucene MoreLikeThis (Atlas ``moreLikeThis``), Spark-first: pick
        the caller-supplied text's most characteristic terms and search them
        as the standard disjunction.

        Selection is Lucene MLT's tf·idf rule made deterministic across
        stacks: analyze ``text``, drop terms below ``min_term_freq`` (in
        the text) or ``min_doc_freq`` (in the corpus), score each candidate
        ``tf_text * idf`` (this engine's BM25 idf — one idf definition
        everywhere, a documented divergence from classic MLT's ln(N/df)),
        round to 6 decimals (the shared tie policy), and keep the top
        ``max_query_terms`` by (score desc, term asc).  The selected terms
        then ride the ordinary disjunction path (sort/driver dispatch,
        pagination, boosts via ``**kwargs``), so results stay
        rank-identical to the oracle on every physical path.  No forward
        index is needed: the caller supplies the text, term stats come
        from the dictionary — O(distinct terms) lookups, corpus-scale
        nothing.
        """
        self._require_single_field("more_like_this")
        tf: dict[str, int] = {}
        for t in tokenize(text):
            tf[t] = tf.get(t, 0) + 1
        cand0 = sorted(t for t, c in tf.items() if c >= int(min_term_freq))
        dfs = self.term_dfs(cand0)
        cand = [t for t in cand0 if dfs.get(t, 0) >= max(int(min_doc_freq), 1)]
        sel = {
            t: float(round_half_away(tf[t] * _math_idf(self.n_docs, dfs[t]), 6))
            for t in cand
        }
        selected = sorted(cand, key=lambda t: (-sel[t], t))[: int(max_query_terms)]
        return self.search(
            " ".join(selected), k=k, skip=skip, exact_terms=selected, **kwargs
        )

    def _search_query(
        self,
        keyword: str,
        k: int = 10,
        skip: int = 0,
        conjunctive: bool = False,
        constant_boost: bool = False,
        avail_boost: bool = False,
        mode: str = "sort",
        max_expansions: int | None = None,
        with_url: bool = False,
        force_distributed: bool = False,
        total_mode: str = "exact",
        group_by: bool = False,
        phrase: bool = False,
        highlight: bool = False,
        max_gap: int = 0,
        fuzzy: int = 0,
        fuzzy_transpositions: bool = False,
        min_should_match: int = 0,
        prefix_fuzzy: int = 0,
        phonetic: bool = False,
        wildcard: bool = False,
        regex: bool = False,
        exact_terms: list | None = None,
        dv_filter: list = (),
        sort: dict | None = None,
    ) -> _Query:
        """Single-field search, compiled to the one clause form.

        The keyword becomes clauses over bare terms (``conjunctive``: every
        term a must clause; ``min_should_match``: every term its own should
        clause; otherwise one should clause over the — possibly expanded —
        term set), or a phrase (:meth:`_phrase_query`), and :meth:`search`
        runs it through the same planner, kernels and finisher as
        :meth:`search_fields`; the validation ladder below is this
        surface's own contract.  Placement: a WAND-shaped query (page 1,
        no group_by, dv_filter, sort or phrase) runs the pruned distributed
        kernel under an explicit ``mode="wand"``, and under ``mode="auto"``
        when the driver would not take it; any other query runs on the
        driver when it is not ``force_distributed`` and Σdf <=
        SMALL_QUERY_POSTINGS (dv_filter and sort included), else on the
        distributed kernel.

        ``total_mode`` governs the total under WAND pruning (see
        :meth:`_wand_total`): ``"exact"`` (the default, and always exact
        off WAND) or ``"approx"`` (Σdf / min(df) upper bounds, no decode).
        """
        if self.fields:
            # posting keys on a multi-field index are "<field><sep><term>";
            # a bare-term lookup would silently match NOTHING — fail loud and
            # point at the clause API instead of returning an empty page
            raise ValueError(
                "this is a multi-field index (fields: "
                f"{sorted(self.fields)}); use search_fields(must=..., "
                "should=...) — plain search() has no field to address"
            )
        if fuzzy_transpositions and not fuzzy:
            raise ValueError("fuzzy_transpositions requires fuzzy >= 1")
        if phonetic and (fuzzy or prefix_fuzzy or conjunctive or phrase
                         or min_should_match or wildcard or regex):
            raise ValueError(
                "phonetic is its own expansion surface (not combinable with "
                "fuzzy/prefix_fuzzy/conjunctive/phrase/min_should_match/"
                "wildcard/regex)"
            )
        if wildcard and (fuzzy or prefix_fuzzy or conjunctive or phrase
                         or min_should_match or regex):
            raise ValueError(
                "wildcard is its own expansion surface (not combinable with "
                "fuzzy/prefix_fuzzy/conjunctive/phrase/min_should_match/regex)"
            )
        if regex and (fuzzy or prefix_fuzzy or conjunctive or phrase
                      or min_should_match):
            raise ValueError(
                "regex is its own expansion surface (not combinable with "
                "fuzzy/prefix_fuzzy/conjunctive/phrase/min_should_match)"
            )
        msm = int(min_should_match)
        if msm:
            # Lucene m-of-n over the query's term clauses; m=len(terms) is
            # exactly `conjunctive`, so requesting both is a caller bug
            if conjunctive:
                raise ValueError("min_should_match and conjunctive are exclusive")
            if fuzzy or phrase:
                raise ValueError(
                    "min_should_match applies to plain term disjunctions "
                    "(not fuzzy expansions or phrases)"
                )
        if highlight and group_by:
            raise ValueError("group_by is not supported with highlight")
        if highlight and "positions" not in self._segments_df.columns:
            raise ValueError(
                "highlight requires a positional index "
                "(build with BuildConfig(positions=True))"
            )
        dv_pred = None
        if dv_filter:
            # doc-values filter on the single-field surface (the incremental
            # crawl case: filter a plain keyword query by lang/warc_ts): one
            # predicate-pushed doc_stats probe joined with the scored
            # candidates on whichever placement the planner picks; WAND's
            # score bounds cannot see the filter.
            text_f, dv_clauses = self._split_dv_clauses(dv_filter)
            if text_f:
                raise ValueError(
                    "dv_filter takes doc-values operator objects only "
                    "(range/equals/exists dicts); terms belong in the keyword"
                )
            dv_pred = self._dv_predicate(dv_clauses)
            if mode == "wand":
                raise ValueError(
                    "dv_filter is not supported with mode='wand' (score-bound "
                    "pruning cannot see the filter); use sort or auto"
                )
            if group_by:
                raise ValueError("dv_filter is not supported with group_by")
        sort_path, sort_desc = None, True
        if sort is not None:
            # field sort on the single-field surface (freshest-first keyword
            # queries over an incremental crawl): same plumbing as dv_filter
            # — a doc_stats attribute join in place of the score rank
            sort_path, sort_desc = self._sort_spec(sort)
            if mode == "wand":
                raise ValueError(
                    "sort is not supported with mode='wand' (score-bound "
                    "pruning is meaningless under a field sort); use sort or auto"
                )
            if group_by or phrase:
                raise ValueError("sort is not supported with group_by or phrase")
        if phrase:
            if mode == "wand":
                raise ValueError(
                    "phrase is not supported with mode='wand' (block score "
                    "bounds do not bound a phrase's score); use sort or auto"
                )
            if group_by:
                raise ValueError("group_by is not supported with phrase search")
            if fuzzy:
                raise ValueError(
                    "fuzzy is not supported with phrase search (expansion of a "
                    "positional phrase is not implemented; drop one of the two)"
                )
            return self._phrase_query(
                keyword, k, skip, constant_boost, avail_boost, with_url,
                force_distributed, highlight=highlight, max_gap=max_gap,
                dv_pred=dv_pred, mode=mode, total_mode=total_mode,
            )
        if exact_terms is not None and (
            wildcard or regex or fuzzy or prefix_fuzzy or phonetic or phrase
        ):
            raise ValueError(
                "exact_terms is a pre-analyzed term list (no expansion "
                "surface applies)"
            )
        # wildcard keywords ARE the pattern: the analyzer would strip the
        # metacharacters, so the pattern bypasses preprocess_query (Lucene
        # wildcard queries are not analyzed either); exact_terms callers
        # (more_like_this) did their own analysis
        raw = wildcard or regex or exact_terms is not None
        terms = preprocess_query(keyword) if not raw else []
        single = len(terms) == 1
        conj = False
        if not raw and not terms:
            match_terms = []
        elif exact_terms is not None:
            # a plain disjunction (or conjunction) over a caller-analyzed
            # term list — no length dispatch, no prefix expansion
            match_terms = sorted(set(exact_terms))
            conj = conjunctive
        elif wildcard:
            match_terms = self.expand_wildcard(keyword, max_expansions)
        elif regex:
            match_terms = self.expand_regex(keyword, max_expansions)
        elif prefix_fuzzy:
            # Atlas autocomplete + fuzzy: a single-term surface (the
            # reference only ever autocompletes 1-term keywords,
            # search_utils.py:182-186); the expansion scores as the usual
            # disjunction, each variant with its own idf
            if fuzzy or conjunctive or not single:
                raise ValueError(
                    "prefix_fuzzy applies to single-term autocomplete "
                    "(not combinable with fuzzy/conjunctive/multi-term)"
                )
            match_terms = self.expand_prefix_fuzzy(
                terms[0], prefix_fuzzy, max_expansions
            )
        elif phonetic:
            # phonetic expansion (A11): every analyzed term expands to the
            # dictionary terms sharing its Soundex key; the union scores as
            # one disjunction — the same blending rule as fuzzy/prefix.
            expanded_ph: set[str] = set()
            for qt in terms:
                expanded_ph.update(self.expand_phonetic(qt))
            match_terms = sorted(expanded_ph)
        elif fuzzy:
            # fuzzy expansion replaces the length dispatch: every analyzed
            # term expands to its edit-distance neighborhood and the union
            # scores as one disjunction (each variant with its own idf) —
            # the same blending rule as the prefix-expansion path.
            if conjunctive:
                raise ValueError("conjunctive is not supported with fuzzy")
            expanded: set[str] = set()
            for qt in terms:
                expanded.update(self.expand_fuzzy(
                    qt, fuzzy, max_expansions,
                    transpositions=fuzzy_transpositions,
                ))
            match_terms = sorted(expanded)
        elif single:
            match_terms = self.expand_prefix(terms[0], max_expansions)
        else:
            match_terms = sorted(set(terms))
            conj = conjunctive
        # the one clause form: conjunctive = every term a must clause;
        # Lucene m-of-n = every term its own should clause; otherwise the
        # (expanded) term set is ONE should clause — a plain disjunction
        if conj:
            clauses = {"must": [[t] for t in match_terms]}
        elif msm:
            clauses = {"should": [[t] for t in match_terms], "msm": msm}
        else:
            clauses = {"should": [match_terms]}
        return self._query(
            **clauses, k=k, skip=skip, mode=mode,
            force_distributed=force_distributed, dv_pred=dv_pred,
            sort_path=sort_path, sort_desc=sort_desc,
            constant_boost=constant_boost, avail_boost=avail_boost,
            group_by=group_by, highlight=highlight, with_url=with_url,
            total_mode=total_mode,
        )

    def _wand_total(self, q: _Query) -> int | None:
        """The total under WAND when it needs no count — None when it does.

        The exact count (the reference's $facet count) is the match count
        ``n`` of the pruned kernel call itself, whose tasks decode a pruned
        block's doc ids only.  Shortcuts, under which pruned blocks are
        skipped outright: a single key's total IS its precomputed df
        (always exact, zero decode); ``total_mode="approx"`` serves
        conjunctive queries min(df) — the tight upper bound for an
        intersection (Σdf can overstate it by orders of magnitude) — and
        the rest the Σdf upper bound capped at N.
        """
        if len(q.keys) == 1:
            return int(q.dfs[q.keys[0]])
        if q.total_mode == "approx":
            if q.occur() is not None and q.occur()[0] == "==":
                return int(min(q.dfs.values()))
            return min(int(sum(q.dfs.values())), self.n_docs)
        return None
