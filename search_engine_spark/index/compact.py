"""Segment compaction — merge an incremental index's generations into one.

Lucene's background merge, as one Spark job: an index grown by
``streaming/ingest.py`` accumulates per-generation segment files and an
``avgdl``-drift correction (``wand_bound_scale``) that progressively loosens
block-max pruning.  Compaction rewrites the index WITHOUT the corpus text —
decode every generation's posting blocks back to (term, doc_id, tf, dl)
rows, re-encode them through the builder's one segment writer
(``builder._SegmentWriter``) on the same frozen doc-id grid with the CURRENT
cumulative avgdl, and emit a single-generation batch-layout index whose
bound scale is exactly 1 again.  Only the generations corpus_stats.json
commits are read (``IndexCatalog.read_committed``).

Cost shape at scale: one pass over segment bytes (decode, distributed) +
the standard (term, sseg) shuffle of fixed-width posting rows + one encode
pass — the same shuffle the original build paid, but with tokenization
(the dominant build phase) entirely absent.  At 10^12 docs this runs as a
background Iceberg rewrite of the segments table.

Query results are untouched by construction: the decoded (term, doc_id,
tf, dl) multiset is the index's full information content, and the engine
re-derives scores from it plus the (also recomputed) cumulative stats —
pinned by rank-identity tests and the ``ft_compacted_topk`` gate against
the same batch BM25 SQL oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..catalog import IndexCatalog
from .builder import TOKENS_SCHEMA, TOKENS_SCHEMA_POS, _SegmentWriter


def _decode_blocks(it):
    """Segment blocks (term, postings[, positions]) back to posting rows
    (term, doc_id, tf, dl[, positions]); a block's position blob splits
    into per-(term, doc) ``array<int>`` lists so the encoder can re-slice
    them for the merged blocks."""
    from .codec import decode_position_lists, decode_postings

    for pdf in it:
        if len(pdf) == 0:
            continue
        pcol = pdf["positions"] if "positions" in pdf.columns else None
        terms, ids, tfs, dls, poss = [], [], [], [], []
        for i, (term, buf) in enumerate(zip(pdf["term"], pdf["postings"])):
            d, tf, dl = decode_postings(buf)
            terms.append(np.full(len(d), term, dtype=object))
            ids.append(d)
            tfs.append(tf)
            dls.append(dl)
            if pcol is not None:
                flat = decode_position_lists(pcol.iat[i], tf)
                poss.extend(np.split(flat.astype(np.int32), np.cumsum(tf)[:-1]))
        out = pd.DataFrame({
            "term": np.concatenate(terms),
            "doc_id": np.concatenate(ids),
            "tf": np.concatenate(tfs).astype(np.int32),
            "dl": np.concatenate(dls).astype(np.int32),
        })
        if pcol is not None:
            out["positions"] = poss
        yield out


def compact_index(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    dict_budget: int = 2_000_000,
) -> dict:
    """Rewrite ``index_dir`` (any generation count) as a one-generation
    batch-layout index at ``out_dir``; returns compaction metrics."""
    cat = IndexCatalog(index_dir)
    out = IndexCatalog(out_dir)
    stats = cat.read_corpus_stats()
    if stats.get("fields"):
        # a multi-field index carries per-field df/avgdl stats and per-field
        # baked block bounds that this rewrite would silently drop (the
        # output stats below have no "fields" key and re-bake at one scalar
        # avgdl) — refuse rather than emit an index whose prefixed posting
        # keys no plain query can ever match.  Multi-field indexes are
        # batch-built (builder.field_cols), never generational, so they
        # have nothing to compact anyway.
        raise ValueError(
            "compact_index does not support multi-field indexes "
            f"(fields={sorted(stats['fields'])}); rebuild with "
            "build_index(field_cols=...) instead"
        )
    cuts = list(stats["term_cuts"])
    range_docs, block_docs = int(stats["range_docs"]), int(stats["block_docs"])
    n_partitions = int(stats["n_partitions"])

    # doc stats: the union of generations IS the batch table; the doc-values
    # sidecar columns ride along unchanged
    dv_cols = tuple(stats.get("docvalues_cols") or ())
    doc_stats = cat.read_committed(spark, cat.doc_stats, stats).select(
        "doc_id", "url", "dl", *dv_cols
    )
    doc_stats.write.mode("overwrite").parquet(out.doc_stats)
    agg = spark.read.parquet(out.doc_stats).agg(
        F.count("*").alias("n"), F.sum("dl").alias("s"), F.max("dl").alias("m"),
        F.max("doc_id").alias("mx"),
    ).collect()[0]
    n_docs, total_dl, max_dl = int(agg["n"]), int(agg["s"] or 0), int(agg["m"] or 0)
    max_doc_id = int(agg["mx"] or 0)
    avgdl = total_dl / max(1, n_docs)

    # term stats: per-generation df/cf deltas collapse to the batch form
    ts = (
        cat.read_committed(spark, cat.term_stats, stats)
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )
    ts.repartitionByRange(max(4, n_partitions // 4), "term").sortWithinPartitions(
        "term"
    ).write.mode("overwrite").parquet(out.term_stats)
    n_terms = spark.read.parquet(out.term_stats).count()

    # postings: decode every generation's blocks, re-encode them through
    # the one segment writer on the SAME frozen cuts and grid with the
    # CURRENT avgdl (scale returns to exactly 1)
    seg_in = cat.read_committed(spark, cat.segments, stats)
    use_pos = "positions" in seg_in.columns
    rows = seg_in.select("term", "postings", *(["positions"] if use_pos else [])).mapInPandas(
        _decode_blocks, schema=TOKENS_SCHEMA_POS if use_pos else TOKENS_SCHEMA
    )
    writer = _SegmentWriter(
        spark, out.term_stats, n_terms, cuts, n_partitions=n_partitions,
        range_docs=range_docs, block_docs=block_docs, avgdl=avgdl, max_dl=max_dl,
        max_doc_id=max_doc_id, positions=use_pos, dict_budget=dict_budget,
    )
    writer.write(rows, out.segments, file_per_pid=True)
    writer.close()
    landed = writer.lineage(out.segments, "compact-0", "compact", f"compacted:{index_dir}")
    out.write_corpus_stats(
        {
            "n_docs": n_docs,
            "avgdl": avgdl,
            "range_docs": range_docs,
            "block_docs": block_docs,
            "term_cuts": cuts,
            "n_partitions": n_partitions,
            "n_terms": int(n_terms),
            "max_dl": max_dl,
            "corpus_path": f"compacted:{index_dir}",
            "wand_bound_scale": 1.0,
            "with_positions": bool(use_pos),
            **({"docvalues_cols": list(dv_cols)} if dv_cols else {}),
        }
    )
    out.append_manifest(landed)
    return {
        "n_docs": n_docs,
        "postings": sum(r["postings_count"] for r in landed),
        "bytes": sum(r["bytes"] for r in landed),
        "generations_in": len(stats.get("generations", [0])),
    }
