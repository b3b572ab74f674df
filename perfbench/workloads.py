"""The two workloads: phases, timing, output checks and per-layer probes.

Both are single-client closed loops: the next call starts when the previous
one has returned.  Op counts are fixed by ``--seconds`` (never by the
clock), so a slower program does the same work and takes longer.

serve-selective
    set-up builds a small warm-up index, which pays the JVM's first-use cost;
    then a single-field index without doc values is built over generated
    pages, opened and probed, and the timed loop runs the interactive query
    shapes on the engine's default (driver) placement.
ingest-fresh
    starts from an empty index with a small warm-up generation; then one
    url-ordered generation is ingested, the engine reopened and probed for a
    page of that batch, and the timed loop runs forced-distributed head-term
    shapes on the two-generation index.

Traced runs also compact the workload's index and check the answers of the
compacted index.
"""

from __future__ import annotations

import collections
import contextlib
import os
import resource
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.dataset as ds

from search_engine_spark.analysis.text import preprocess_query
from search_engine_spark.catalog import IndexCatalog
from search_engine_spark.index.builder import BuildConfig, build_index
from search_engine_spark.index.codec import decode_postings
from search_engine_spark.index.compact import compact_index
from search_engine_spark.oracle import OracleIndex
from search_engine_spark.query.engine import SearchEngine
from search_engine_spark.streaming.ingest import ingest_batch

from . import queries as Q
from .tracing import Tracer


@dataclass(frozen=True)
class Size:
    serve_docs: int   # serve-selective corpus
    warm_docs: int    # warm-up index (serve-selective) or generation (ingest-fresh)
    batch_docs: int   # ingest-fresh measured generation
    sel_rate: float   # serve-selective passes over its shape cycle per --seconds
    heavy_rate: float  # ingest-fresh passes over its shape cycle per --seconds
    decode_probes: int  # traced runs: distinct queries whose blocks are decoded


SIZES = {
    "full": Size(serve_docs=1000, warm_docs=50, batch_docs=300,
                 sel_rate=0.5, heavy_rate=0.1, decode_probes=12),
    "tiny": Size(serve_docs=300, warm_docs=50, batch_docs=100,
                 sel_rate=0.1, heavy_rate=0.1, decode_probes=2),
}

DV_COLS = ("lang", "warc_ts")
# per-layer metrics of a layer the workload never calls read 0 there
BUILDER_LAYERS = ("builder.tokenize_s", "builder.doc_stats_s", "builder.term_stats_s",
                  "builder.term_dim_s", "builder.segments_s", "builder.manifest_s",
                  "builder.tasks", "builder.gc_ms", "builder.shuffle_bytes_per_posting")
INGEST_LAYERS = ("ingest.tokenize_s", "ingest.encode_s", "ingest.vocab_s", "ingest.commit_s",
                 "ingest.stats_refresh_s", "ingest.tasks_per_batch", "ingest.bytes_per_posting")
TOP_K = 10


def index_config(cpus: int, docvalues: bool) -> BuildConfig:
    """Index geometry sized for a few thousand pages on ``cpus`` cores."""
    return BuildConfig(block_docs=128, target_ranges=8, min_range_docs=128,
                       n_partitions=4, waves=1, shuffle_partitions=cpus,
                       docvalues_cols=DV_COLS if docvalues else ())


class Run:
    """State of one benchmark run: timings, counts, failures, spans."""

    def __init__(self, spark, work: str, seed: int, seconds: int, size: Size,
                 trace: bool, cpus: int, t_start: float):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.t_start = t_start  # process start: set-up time counts from here
        self.seconds, self.cpus, self.traced = seconds, cpus, trace
        self.tracer = Tracer(spark, trace)
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.notes: dict = {}
        self.open_ms: list[float] = []
        self.query_spans: list[dict] = []

    # -- bookkeeping ---------------------------------------------------------
    def mark(self, phase: str) -> None:
        """Note when ``phase`` ended, in seconds since the process started."""
        self.notes.setdefault("timeline_s", {})[phase] = round(time.perf_counter() - self.t_start, 2)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)

    def op(self, name: str, fn):
        """Run one attempted operation; returns (result, wall s, span)."""
        self.attempted += 1
        with self.tracer.span(name, spark=True) as rec:
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as e:  # counted, reported, and the run goes on
                self.failures.append(f"{name}: {type(e).__name__}: {e}")
                out = None
            wall = time.perf_counter() - t0
        return out, wall, rec

    def open_engine(self, index_dir: str) -> SearchEngine:
        eng, wall, _ = self.op("engine.open", lambda: SearchEngine(self.spark, index_dir))
        if eng is None:
            raise RuntimeError(f"engine failed to open {index_dir}: {self.failures[-1]}")
        self.open_ms.append(wall * 1000.0)
        return eng

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- shared phases -------------------------------------------------------
    def probe_visible(self, eng: SearchEngine, tbl, row: int, handed_at: float) -> float:
        """ms from ``handed_at`` until ``eng`` returns page ``row`` of ``tbl``."""
        url, kw = Q.probe_keyword(tbl, row)
        res, _, _ = self.op("visible.probe", lambda: eng.search(
            kw, k=50, conjunctive=True, with_url=True))
        visible_ms = (time.perf_counter() - handed_at) * 1000.0
        self.check(res is not None and url in set(res.page.get("url", [])),
                   f"visibility probe missed {url}")
        return visible_ms

    def compact(self, index_dir: str, label: str) -> str:
        out = self.path(f"{label}_compacted")
        res, wall, rec = self.op("compact", lambda: compact_index(self.spark, index_dir, out))
        if res is None:
            raise RuntimeError(f"compact_index failed: {self.failures[-1]}")
        b_in, b_out = segment_bytes(index_dir), segment_bytes(out)
        self.layer.update({
            "compact.wall_s": wall,
            "compact.bytes_in": b_in, "compact.bytes_out": b_out,
            "compact.rewrite_ratio": b_out / b_in if b_in else 0.0,
            "compact.tasks": rec.get("tasks", 0),
        })
        return out

    def query_loop(self, eng: SearchEngine, stream: list, run_one, normalize) -> list:
        """Time every query of ``stream``; returns one normalized result per
        query (None where the call raised).  A traced run calls each query
        twice, traced and untraced in alternating order, so the difference
        of the two medians is the tracing overhead."""
        lat: list[float] = []
        lat_traced: list[float] = []
        spans: list[dict] = []
        results = []
        for i, q in enumerate(stream):
            order = (False, True) if i % 2 else (True, False)
            for traced in order if self.traced else (False,):
                self.attempted += 1
                ctx = (self.tracer.span(q.shape, qid=i, spark=True) if traced
                       else contextlib.nullcontext({}))
                with ctx as rec:
                    t0 = time.perf_counter()
                    try:
                        out = run_one(eng, q)
                        err = None
                    except Exception as e:  # counted as a failed query
                        out, err = None, f"{q}: {type(e).__name__}: {e}"
                    wall = (time.perf_counter() - t0) * 1000.0
                if err:
                    self.failures.append(err)
                if traced:
                    lat_traced.append(wall)
                    rec["postings"] = 0
                    spans.append(rec)
                else:
                    lat.append(wall)
                    results.append(None if out is None else normalize(q, out))
        self.record_latency(stream, lat)
        if self.traced:
            self.layer["trace.overhead_ms"] = (
                statistics.median(lat_traced) - statistics.median(lat))
            self.notes["traced_query_p50_ms"] = statistics.median(lat_traced)
        self.query_spans = spans
        return results

    def record_latency(self, stream: list, lat: list[float]) -> None:
        n = len(lat)
        total_s = sum(lat) / 1000.0
        srt = sorted(lat)
        # the highest percentile with at least ten samples beyond it; below
        # 21 samples that is no higher than the median, so take the slowest
        tail_i = n - 11 if n >= 21 else n - 1
        self.e2e["query_p50_ms"] = statistics.median(lat)
        self.e2e["query_tail_ms"] = srt[tail_i]
        self.e2e["qps"] = n / total_s
        self.notes["queries"] = n
        self.notes["query_tail"] = {
            "percentile": round(100.0 * (tail_i + 1) / n, 1), "n": n,
            "beyond": n - tail_i - 1,
        }
        by_shape = collections.defaultdict(list)
        for q, ms in zip(stream, lat):
            by_shape[q.shape].append(ms)
        for shape in Q.SELECTIVE_SHAPES + Q.HEAVY_SHAPES:
            vals = by_shape.get(shape)
            self.layer[f"shape.{shape}_p50_ms"] = statistics.median(vals) if vals else 0.0

    def spark_layers(self) -> None:
        """Per-query Spark counters and driver self time from the spans."""
        spans = self.query_spans
        if not spans:
            return
        self.tracer.self_times()
        n = len(spans)
        postings = sum(s.get("postings", 0) for s in spans)
        shuffle = sum(s["shuffle_bytes"] for s in spans)
        self.layer.update({
            "spark.jobs_per_query": sum(s["jobs"] for s in spans) / n,
            "spark.tasks_per_query": sum(s["tasks"] for s in spans) / n,
            "spark.exec_run_ms_per_query": sum(s["run_ms"] for s in spans) / n,
            "spark.exec_cpu_ms_per_query": sum(s["cpu_ms"] for s in spans) / n,
            "spark.gc_ms_per_query": sum(s["gc_ms"] for s in spans) / n,
            "spark.shuffle_bytes_per_query": shuffle / n,
            "spark.shuffle_bytes_per_posting": shuffle / postings if postings else 0.0,
            "engine.driver_self_ms": statistics.median(s["self_ms"] for s in spans),
        })

    def layer_probes(self, eng: SearchEngine, stream: list, totals: list, terms_of) -> None:
        """Traced runs: time the analysis, expansion, dictionary and codec
        layers on each query's own inputs, through a second engine instance
        so the measured engine's memo state is untouched."""
        pre_us, exp_ms, exp_n, dfs_ms = [], [], [], []
        post_q, post_total, res_total = 0, 0, 0
        decode_ns, decoded, probed = 0, 0, set()
        seg = ds.dataset(eng.cat.segments, format="parquet", partitioning="hive")
        for i, q in enumerate(stream):
            t0 = time.perf_counter()
            preprocess_query(q.text)
            pre_us.append((time.perf_counter() - t0) * 1e6)
            t0 = time.perf_counter()
            terms, expanded = terms_of(eng, q)
            if expanded:
                exp_ms.append((time.perf_counter() - t0) * 1000.0)
                exp_n.append(len(terms))
            if not terms:
                continue
            t0 = time.perf_counter()
            dfs = eng.term_dfs(terms)
            dfs_ms.append((time.perf_counter() - t0) * 1000.0)
            n_post = sum(dfs.values())
            self.query_spans[i]["postings"] = n_post
            post_q += 1
            post_total += n_post
            res_total += totals[i] or 0
            key = (q.shape, q.text)
            if key in probed or len(probed) >= self.size.decode_probes:
                continue
            probed.add(key)
            blobs = seg.to_table(columns=["postings"],
                                 filter=ds.field("term").isin(sorted(dfs))).column("postings")
            blobs = [b.as_py() for b in blobs]
            t0 = time.perf_counter_ns()
            n = sum(len(decode_postings(b)[0]) for b in blobs)
            decode_ns += time.perf_counter_ns() - t0
            decoded += n
        self.layer.update({
            "analysis.preprocess_us": statistics.median(pre_us),
            "engine.expand_ms": statistics.median(exp_ms) if exp_ms else 0.0,
            "engine.expansion_terms": statistics.mean(exp_n) if exp_n else 0.0,
            "engine.term_dfs_ms": statistics.median(dfs_ms) if dfs_ms else 0.0,
            "engine.postings_per_query": post_total / post_q if post_q else 0.0,
            "engine.postings_per_result": post_total / res_total if res_total else 0.0,
            "codec.decode_ns_per_posting": decode_ns / decoded if decoded else 0.0,
        })

    def measure_rss(self) -> None:
        """Peak resident memory of this driver process and of its JVM."""
        self.e2e["py_rss_peak_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{jvm_pid}/status") as f:
            hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        self.e2e["jvm_rss_peak_mb"] = hwm_kb / 1024.0

    def finish_layers(self) -> None:
        self.layer["engine.open_ms"] = statistics.median(self.open_ms)
        self.layer["spark.failed_tasks"] = sum(
            s.get("failed_tasks", 0) for s in self.tracer.spans)


# ---------------------------------------------------------------------------
# index measurements (read with pyarrow, outside the engine)
# ---------------------------------------------------------------------------

def segment_bytes(index_dir: str) -> int:
    root = IndexCatalog(index_dir).segments
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    )


def total_postings(index_dir: str) -> int:
    tbl = ds.dataset(IndexCatalog(index_dir).term_stats, format="parquet",
                     partitioning="hive").to_table(columns=["df"])
    return int(np.asarray(tbl.column("df")).sum())


def page_key(res) -> tuple:
    """(total, doc_ids, scores) of a SearchResult, as plain Python values."""
    page = res.page
    return (int(res.total), tuple(int(d) for d in page["doc_id"]),
            tuple(float(s) for s in page["score"]))


def oracle_key(res) -> tuple:
    return (int(res.total), tuple(d for d, _ in res.hits), tuple(s for _, s in res.hits))


def same_scores(a: tuple, b: tuple) -> bool:
    """Equal totals and doc ids, scores within the oracle tolerance."""
    return a[:2] == b[:2] and bool(np.allclose(a[2], b[2], rtol=0, atol=1e-9))


# ---------------------------------------------------------------------------
# serve-selective
# ---------------------------------------------------------------------------

def _run_selective(eng: SearchEngine, q: Q.Query):
    if q.shape == "search":
        return eng.search(q.text, k=TOP_K, skip=q.skip)
    if q.shape in ("prefix", "group"):
        return eng.search(q.text, k=TOP_K, group_by=q.shape == "group")
    if q.shape == "fuzzy":
        return eng.search(q.text, k=TOP_K, fuzzy=1)
    if q.shape == "suggest":
        return eng.suggest(q.text, fuzzy=1)
    if q.shape == "conj":
        return eng.search(q.text, k=TOP_K, conjunctive=True)
    if q.shape == "mlt":
        return eng.more_like_this(q.text, k=TOP_K)
    if q.shape == "url":
        return eng.search(q.text, k=TOP_K, with_url=True)
    raise ValueError(q.shape)


def _norm_selective(q: Q.Query, out):
    if q.shape == "suggest":
        return out
    if q.shape == "group":
        rows = tuple(
            (int(r.g_id), int(r.doc_id), round(float(r.score), 6), int(r.n_docs))
            for r in out.page.itertuples())
        return (int(out.total), rows)
    key = page_key(out)
    if q.shape == "url":
        return key + (tuple(out.page["url"]),)
    return key


def _selective_terms(eng: SearchEngine, q: Q.Query) -> tuple[list[str], bool]:
    """(match terms, whether an expansion ran) as the query layer sees them."""
    if q.shape == "mlt":
        return [], False
    terms = preprocess_query(q.text)
    if q.shape in ("fuzzy", "suggest"):
        out = sorted({t for w in terms for t in eng.expand_fuzzy(w, 1)})
        return (out if q.shape == "fuzzy" else []), True
    if len(terms) == 1:
        return eng.expand_prefix(terms[0]), True
    return sorted(set(terms)), False


def _check_selective(run: Run, oracle: OracleIndex, urls: list[str], stream, results) -> None:
    want_cache: dict = {}
    for q, got in zip(stream, results):
        if got is None:
            continue
        key = (q.shape, q.text, q.skip)
        if key not in want_cache:
            if q.shape == "suggest":
                want = oracle.suggest(q.text, fuzzy=1)
            elif q.shape == "group":
                total, rows = oracle.search_grouped(q.text, k=TOP_K)
                want = (total, tuple((g, d, round(s, 6), n) for g, d, s, n in rows))
            elif q.shape == "fuzzy":
                want = oracle_key(oracle.search_fuzzy(q.text, k=TOP_K, fuzzy=1))
            elif q.shape == "mlt":
                want = oracle_key(oracle.more_like_this(q.text, k=TOP_K))
            else:
                want = oracle_key(oracle.search(
                    q.text, k=TOP_K, skip=q.skip, conjunctive=q.shape == "conj"))
                if q.shape == "url":
                    want = want + (tuple(urls[d] for d in want[1]),)
            want_cache[key] = want
        want = want_cache[key]
        if q.shape in ("suggest", "group"):
            ok = got == want
        else:
            ok = same_scores(got[:3], want[:3]) and got[3:] == want[3:]
        run.check(ok, f"{q.shape} {q.text!r}: engine {got} != oracle {want}")


def serve_selective(run: Run) -> None:
    size = run.size
    with run.tracer.span("fixtures.corpus"):
        t0 = time.perf_counter()
        warm = Q.corpus(run.seed, size.warm_docs, Q.SALT_WARMUP)
        docs = Q.corpus(run.seed, size.serve_docs, Q.SALT_SERVE)
        warm_dir = Q.write_parquet(warm.table, run.path("corpus", "warm"))
        corpus_dir = Q.write_parquet(docs.table, run.path("corpus", "served"))
        run.layer["fixtures.corpus_s"] = time.perf_counter() - t0
    cfg = index_config(run.cpus, docvalues=False)

    def build(label: str, batch: Q.Corpus, path: str):
        """Build, open, probe; (build result, wall s, span, visible ms, engine)."""
        index_dir = run.path(label)
        handed_at = time.perf_counter()
        built, wall, rec = run.op("build_index", lambda: build_index(
            run.spark, path, index_dir, cfg=cfg))
        if built is None:
            raise RuntimeError(f"build_index failed: {run.failures[-1]}")
        eng = run.open_engine(index_dir)
        visible = run.probe_visible(eng, batch.table, batch.n // 2, handed_at)
        run.mark(label)
        return built, wall, rec, visible, eng

    # the warm-up index is built from a disjoint corpus slice: it pays the
    # JVM's first-use cost and counts as set-up, not as indexing
    _, warm_wall, _, _, _ = build("warm_index", warm, warm_dir)
    run.e2e["setup_s"] = time.perf_counter() - run.t_start
    run.notes["warmup_build_ms"] = warm_wall * 1000.0
    index_dir = run.path("index")
    built, wall, rec, visible, eng = build("index", docs, corpus_dir)
    run.e2e["index_docs_per_s"] = docs.n / wall
    run.e2e["visible_p50_ms"] = visible
    run.notes["visible_samples"] = 1
    _builder_layers(run, built, rec, index_dir)
    run.layer.update(dict.fromkeys(INGEST_LAYERS, 0.0))
    run.layer["engine.auto_wand_share"] = 0.0
    run.e2e["index_bytes_per_posting"] = segment_bytes(index_dir) / total_postings(index_dir)

    reps = max(1, round(size.sel_rate * run.seconds))
    warmup = Q.selective_queries(run.seed + Q.WARMUP_SEED_OFFSET, 1, docs)
    for q in {q.shape: q for q in warmup}.values():
        _run_selective(eng, q)  # untimed warm-up, one query per shape, disjoint seed
    run.mark("warmup")
    stream = Q.selective_queries(run.seed, reps, docs)
    results = run.query_loop(eng, stream, _run_selective, _norm_selective)
    run.mark("queries")

    if run.traced:
        # compaction of a batch index is a lossless rewrite
        eng_c = run.open_engine(run.compact(index_dir, "selective"))
        for q, got in list(zip(stream, results))[: len(Q.SELECTIVE_CYCLE)]:
            run.check(_norm_selective(q, _run_selective(eng_c, q)) == got,
                      f"compacted index disagrees on {q}")
        probe = SearchEngine(run.spark, index_dir)
        # group totals count groups, not pages
        totals = [None if r is None or q.shape in ("suggest", "group") else r[0]
                  for q, r in zip(stream, results)]
        run.layer_probes(probe, stream, totals, _selective_terms)
        run.spark_layers()
    run.measure_rss()
    # the oracle runs after the RSS peak is read, so it stays out of it
    texts = docs.table.column("text").to_pylist()
    urls = docs.table.column("url").to_pylist()
    oracle = OracleIndex(list(zip(urls, texts)))
    _check_selective(run, oracle, urls, stream, results)
    run.mark("checks")
    run.notes["oracle_checked"] = len({(q.shape, q.text, q.skip) for q in stream})


def _builder_layers(run: Run, built: dict, rec: dict, index_dir: str) -> None:
    ph = built["phase_sec"]
    postings = total_postings(index_dir)
    run.layer.update({
        "builder.tokenize_s": ph.get("plan_phase1", 0.0),
        "builder.doc_stats_s": ph.get("doc_stats", 0.0),
        "builder.term_stats_s": ph.get("term_stats", 0.0),
        "builder.term_dim_s": ph.get("term_dim", 0.0),
        "builder.segments_s": sum(v for k, v in ph.items() if k.endswith("_segments")),
        "builder.manifest_s": ph.get("manifest", 0.0),
        "builder.tasks": rec.get("tasks", 0),
        "builder.gc_ms": rec.get("gc_ms", 0.0),
        "builder.shuffle_bytes_per_posting": rec.get("shuffle_bytes", 0) / postings,
    })
    _phase_spans(run, rec, ph)


def _phase_spans(run: Run, rec: dict, phase_sec: dict) -> None:
    """Lay the program's own phase walls out as child spans of ``rec``."""
    if not run.traced:
        return
    t = rec["start"]
    for name, sec in phase_sec.items():
        run.tracer.add_child(rec, f"{rec['name']}.{name}", t, t + sec)
        t += sec


# ---------------------------------------------------------------------------
# ingest-fresh
# ---------------------------------------------------------------------------

def _run_heavy(eng: SearchEngine, q: Q.Query):
    if q.shape in ("sort", "wand", "auto"):
        out = eng.search(q.text, k=TOP_K, mode=q.shape, force_distributed=True)
        if q.shape == "auto":
            out.picked = (eng.last_dispatch or {}).get("mode")
        return out
    if q.shape == "dv_filter":
        return eng.search(q.text, k=TOP_K, force_distributed=True,
                          dv_filter=[{"equals": {"path": "lang", "value": q.value}}])
    if q.shape == "dv_sort":
        return eng.search(q.text, k=TOP_K, force_distributed=True,
                          sort={"path": "warc_ts", "order": q.value})
    if q.shape == "facet":
        return eng.facet_fields(keyword=q.text,
                                facets={"lang": {"type": "string", "path": "lang"}})
    raise ValueError(q.shape)


def _norm_heavy(q: Q.Query, out):
    if q.shape == "facet":
        f = out["facet"]["lang"]
        return (int(out["count"]),
                tuple((str(b), int(c)) for b, c in zip(f["bucket"], f["count"])))
    key = page_key(out)
    if q.shape == "auto":
        return key + (out.picked,)
    return key


def _heavy_terms(eng: SearchEngine, q: Q.Query) -> tuple[list[str], bool]:
    return sorted(set(preprocess_query(q.text))), False


def _expected_heavy(eng: SearchEngine, q: Q.Query, attrs: dict[int, tuple]):
    """The same answer from the driver placement plus a brute filter, sort
    or count over the doc values read from the index's doc_stats."""
    full = eng.search(q.text, k=eng.n_docs)  # every match, ranked
    hits = list(zip((int(d) for d in full.page["doc_id"]),
                    (float(s) for s in full.page["score"])))
    if q.shape in ("sort", "wand", "auto"):
        return (int(full.total), tuple(d for d, _ in hits[:TOP_K]),
                tuple(s for _, s in hits[:TOP_K]))
    if q.shape == "dv_filter":
        kept = [(d, s) for d, s in hits if attrs[d][0] == q.value]
        return (len(kept), tuple(d for d, _ in kept[:TOP_K]),
                tuple(s for _, s in kept[:TOP_K]))
    if q.shape == "dv_sort":
        sign = -1 if q.value == "desc" else 1
        ordered = sorted(hits, key=lambda h: (sign * attrs[h[0]][1], h[0]))[:TOP_K]
        return (int(full.total), tuple(d for d, _ in ordered), tuple(s for _, s in ordered))
    counts = collections.Counter(attrs[d][0] for d, _ in hits)
    buckets = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    return (int(full.total), tuple(buckets))


def _doc_attrs(run: Run, index_dir: str, url_attrs: dict) -> dict[int, tuple]:
    """doc_id -> (lang, warc_ts) from the index, checked against the corpus."""
    tbl = ds.dataset(IndexCatalog(index_dir).doc_stats, format="parquet",
                     partitioning="hive").to_table(columns=["doc_id", "url", "lang", "warc_ts"])
    ts = tbl.column("warc_ts").cast("int64").to_pylist()
    out = {}
    for d, u, lang, t in zip(tbl.column("doc_id").to_pylist(), tbl.column("url").to_pylist(),
                             tbl.column("lang").to_pylist(), ts):
        out[d] = (lang, t)
        run.check(url_attrs.get(u) == (lang, t), f"doc values of {u} differ from the corpus")
    run.check(len(out) == len(url_attrs), "doc_stats row count differs from pages ingested")
    return out


def ingest_fresh(run: Run) -> None:
    size = run.size
    with run.tracer.span("fixtures.corpus"):
        t0 = time.perf_counter()
        warm = Q.corpus(run.seed, size.warm_docs, Q.SALT_WARMUP)
        docs = Q.corpus(run.seed, size.batch_docs, Q.SALT_INGEST)
        warm_dir = Q.write_parquet(warm.table, run.path("batches", "warm"))
        docs_dir = Q.write_parquet(docs.table, run.path("batches", "measured"))
        run.layer["fixtures.corpus_s"] = time.perf_counter() - t0

    run.layer.update(dict.fromkeys(BUILDER_LAYERS, 0.0))
    index_dir = run.path("index")
    cfg = index_config(run.cpus, docvalues=True)

    def generation(g: int, batch: Q.Corpus, path: str):
        """Ingest, reopen, probe; (result, wall s, span, visible ms, engine)."""
        handed_at = time.perf_counter()
        res, wall, rec = run.op("ingest_batch", lambda: ingest_batch(
            run.spark, run.spark.read.parquet(path), index_dir, g, cfg=cfg))
        if res is None:
            raise RuntimeError(f"ingest_batch failed: {run.failures[-1]}")
        run.check(not res.skipped and res.n_docs == batch.n,
                  f"generation {g} ingested {res.n_docs} of {batch.n} pages")
        _phase_spans(run, rec, res.phase_sec)
        eng = run.open_engine(index_dir)
        visible = run.probe_visible(eng, batch.table, batch.n // 2, handed_at)
        run.mark(f"generation{g}")
        return res, wall, rec, visible, eng

    # generation 0 is a small warm-up batch from a disjoint corpus slice: it
    # pays the JVM's first-use cost and counts as set-up, not as ingest
    _, warm_wall, _, _, _ = generation(0, warm, warm_dir)
    run.e2e["setup_s"] = time.perf_counter() - run.t_start
    run.notes["warmup_ingest_ms"] = warm_wall * 1000.0
    before = segment_bytes(index_dir)
    res, wall, rec, visible, eng = generation(1, docs, docs_dir)
    run.e2e["index_docs_per_s"] = docs.n / wall
    run.e2e["visible_p50_ms"] = visible
    run.notes["visible_samples"] = 1
    run.e2e["index_bytes_per_posting"] = segment_bytes(index_dir) / total_postings(index_dir)
    ph = res.phase_sec
    run.layer.update({
        "ingest.tokenize_s": ph.get("tokenize", 0.0),
        "ingest.encode_s": ph.get("encode", 0.0),
        "ingest.vocab_s": ph.get("vocab", 0.0),
        "ingest.commit_s": ph.get("commit", 0.0),
        "ingest.stats_refresh_s": ph.get("stats_refresh", 0.0),
        "ingest.tasks_per_batch": rec.get("tasks", 0),
        "ingest.bytes_per_posting": (segment_bytes(index_dir) - before) / max(res.postings, 1),
    })

    reps = max(1, round(size.heavy_rate * run.seconds))
    stream = Q.heavy_queries(run.seed, reps)
    results = run.query_loop(eng, stream, _run_heavy, _norm_heavy)
    run.mark("queries")
    picks = [r[3] for q, r in zip(stream, results) if q.shape == "auto" and r is not None]
    run.layer["engine.auto_wand_share"] = (
        sum(p == "wand" for p in picks) / len(picks) if picks else 0.0)

    engines = {"generations": eng}
    if run.traced:
        engines["compacted"] = run.open_engine(run.compact(index_dir, "fresh"))
        probe = SearchEngine(run.spark, index_dir)
        totals = [None if r is None else r[0] for r in results]
        run.layer_probes(probe, stream, totals, _heavy_terms)
        run.spark_layers()
    run.measure_rss()

    # every distributed placement agrees with the driver placement, on the
    # generations and on the index compacted from them
    url_attrs = {**warm.url_attrs, **docs.url_attrs}
    for layout, e in engines.items():
        attrs = _doc_attrs(run, e.cat.root, url_attrs)
        expected: dict = {}
        for q, got in zip(stream, results):
            if got is None:
                continue
            key = (q.shape, q.text, q.value)
            if key not in expected:
                expected[key] = _expected_heavy(e, q, attrs)
            want = expected[key]
            run.check(got == want if q.shape == "facet" else got[:3] == want,
                      f"{q.shape} {q.text!r}: {got} != driver placement on the {layout} {want}")
    run.notes["distinct_checked"] = len(expected)
    run.mark("checks")


WORKLOADS = {"serve-selective": serve_selective, "ingest-fresh": ingest_fresh}
