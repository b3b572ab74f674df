"""Checkpoint/resume: a killed build restarts from completed segments.

North-star requirement (BASELINE.json): per-partition lineage rows in the
manifest; a restart skips status='done' partitions and the final index is
identical to an uninterrupted run.
"""

import os

import pytest


def _segment_fingerprint(spark, index_dir):
    """Deterministic digest of the whole segment table: every column but
    the ``gen`` partition key, ``max_tf_norm`` by its exact bits (``%a``)
    and the blobs by their sha2."""
    from pyspark.sql import functions as F

    from search_engine_spark.catalog import IndexCatalog

    cat = IndexCatalog(index_dir)
    df = spark.read.parquet(cat.segments)
    blobs = ["postings"] + (["positions"] if "positions" in df.columns else [])
    return (
        df.select(
            F.sha2(
                F.concat_ws(
                    "|",
                    "pid",
                    "term",
                    "sseg",
                    "block_id",
                    "first_doc",
                    "last_doc",
                    "doc_count",
                    F.format_string("%a", "max_tf_norm"),
                    "nbytes",
                    *[F.sha2(F.col(c), 256) for c in blobs],
                ),
                256,
            ).alias("h")
        )
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("decimal(38,0)")).alias("fp"),
             F.count("*").alias("n"))
        .collect()[0]
    )


@pytest.mark.slow
def test_kill_and_resume_produces_identical_index(spark, webtext_tiny, tmp_path):
    from search_engine_spark.catalog import IndexCatalog
    from search_engine_spark.index.builder import BuildConfig, build_index

    cfg = BuildConfig(block_docs=64, target_ranges=16, min_range_docs=64, n_partitions=8, waves=4)

    # uninterrupted run
    clean = str(tmp_path / "clean")
    build_index(spark, webtext_tiny, clean, cfg=cfg, run_id="clean")
    fp_clean = _segment_fingerprint(spark, clean)

    # killed after wave 1, then resumed
    broken = str(tmp_path / "broken")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, webtext_tiny, broken, cfg=cfg, run_id="try1", fail_after_wave=1)

    cat = IndexCatalog(broken)
    done_before = cat.completed_partitions()
    assert -1 in done_before, "phase1 must be committed before wave 1"
    done_pids_before = sorted(p for p in done_before if p >= 0)
    assert 0 < len(done_pids_before) < 8, "some but not all partitions done"

    metrics = build_index(spark, webtext_tiny, broken, cfg=cfg, run_id="try2")
    # resume skipped every completed partition
    assert metrics["partitions_skipped"] == len(done_pids_before)
    assert metrics["partitions_built"] == 8 - len(done_pids_before)

    # completed segments were NOT rebuilt: manifest keeps the original run_id
    m = cat.read_manifest().to_pydict()
    for pid, run in zip(m["partition_id"], m["run_id"]):
        if pid in done_pids_before:
            assert run == "try1"

    # final index is identical to the uninterrupted run
    fp_broken = _segment_fingerprint(spark, broken)
    assert fp_broken["n"] == fp_clean["n"]
    assert fp_broken["fp"] == fp_clean["fp"]

    # and it answers queries identically
    from search_engine_spark.query import SearchEngine

    a = SearchEngine(spark, clean).search("milk", k=10).page
    b = SearchEngine(spark, broken).search("milk", k=10).page
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert a["score"].tolist() == b["score"].tolist()


def test_manifest_append_is_atomic(tmp_path):
    from search_engine_spark.catalog import IndexCatalog

    cat = IndexCatalog(str(tmp_path / "idx"))
    rows = [
        {
            "run_id": "r",
            "partition_id": 1,
            "segment_id": "s",
            "input_split": "x",
            "term_lo": "a",
            "term_hi": "z",
            "postings_count": 10,
            "bytes": 100,
            "status": "done",
        }
    ]
    cat.append_manifest(rows)
    cat.append_manifest(rows * 2)
    m = cat.read_manifest()
    assert m.num_rows == 3
    # no temp files left behind
    assert not [f for f in os.listdir(cat.manifest_dir) if f.endswith(".tmp")]
    assert cat.completed_partitions() == {1}


def test_distributed_vocab_build_identical_to_broadcast(
    spark, webtext_tiny, index_tiny, sf_dv_index, tmp_path, monkeypatch
):
    """The three segment writers agree byte for byte, without and with
    positions.  dict_budget=0 forces the distributed vocabulary path
    (shuffle-join term ids, id-emitting encoder, post-encode string join);
    a single-generation ``ingest_batch`` of the same corpus, on each
    placement (driver-staged within ``SMALL_BATCH_DOCS``, the distributed
    plan above it), and ``compact_index`` of the build write through the
    same encoder.  All five segment tables must equal the
    broadcast-dictionary build's (``index_tiny``, or ``sf_dv_index`` with
    positions: the same layout; doc values never reach the segments).
    """
    from search_engine_spark.index.builder import BuildConfig, build_index
    from search_engine_spark.index.compact import compact_index
    from search_engine_spark.query.engine import SearchEngine
    from search_engine_spark.streaming import ingest as ingest_mod

    for positions, d_bcast in ((False, index_tiny), (True, sf_dv_index)):
        kw = dict(block_docs=64, target_ranges=16, min_range_docs=64, n_partitions=8,
                  positions=positions)
        d_dist = str(tmp_path / f"idx_dist_{positions}")
        d_compact = str(tmp_path / f"idx_compact_{positions}")
        build_index(spark, webtext_tiny, d_dist, cfg=BuildConfig(**kw, waves=2, dict_budget=0))
        d_ingest = {}
        for placement, bound in (("driver", 1000), ("distributed", 999)):
            monkeypatch.setattr(ingest_mod, "SMALL_BATCH_DOCS", bound)
            d_ingest[placement] = str(tmp_path / f"idx_ingest_{placement}_{positions}")
            r = ingest_mod.ingest_batch(spark, spark.read.parquet(webtext_tiny),
                                        d_ingest[placement], 0, cfg=BuildConfig(**kw))
            assert not r.skipped and r.n_docs == 1000 and r.placement == placement
        monkeypatch.undo()
        compact_index(spark, d_bcast, d_compact)
        want = _segment_fingerprint(spark, d_bcast)
        assert want["n"] > 0
        for d in (d_dist, *d_ingest.values(), d_compact):
            assert _segment_fingerprint(spark, d) == want, d

        # the distributed index serves queries identically
        a = SearchEngine(spark, d_bcast).search("oil", k=10, mode="wand")
        b = SearchEngine(spark, d_dist).search("oil", k=10, mode="wand")
        assert list(a.page["doc_id"]) == list(b.page["doc_id"])
        assert a.total == b.total
