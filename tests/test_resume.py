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
    """The segment writers agree byte for byte, without and with positions.
    The fixture index (``index_tiny``, or ``sf_dv_index`` with positions and
    doc values) is built on the driver: its 1,000 pages fit
    ``SMALL_BATCH_DOCS``.  Forced-distributed builds of the same corpus and
    config, with the broadcast dictionary and with ``dict_budget=0`` (the
    distributed vocabulary path: shuffle-join term ids, id-emitting encoder,
    post-encode string join), must write the same tables: segments,
    doc_stats (column types included), term_stats, ``corpus_stats.json``
    and the manifest.  A single-generation ``ingest_batch`` of the corpus,
    on each placement, and ``compact_index`` of the build write the same
    segment table.
    """
    from conftest import assert_same_rows, landed_rows

    from search_engine_spark.index import builder
    from search_engine_spark.index.builder import BuildConfig, build_index
    from search_engine_spark.index.compact import compact_index
    from search_engine_spark.query.engine import SearchEngine
    from search_engine_spark.streaming import ingest as ingest_mod

    for positions, d_driver in ((False, index_tiny), (True, sf_dv_index)):
        kw = dict(block_docs=64, target_ranges=16, min_range_docs=64, n_partitions=8,
                  positions=positions)
        dv = dict(docvalues_cols=("lang", "warc_ts")) if positions else {}
        want_rows = landed_rows(spark, d_driver)
        monkeypatch.setattr(builder, "SMALL_BATCH_DOCS", 999)
        d_dist = {}
        for mode, budget in (("dict", 2_000_000), ("id", 0)):
            d_dist[mode] = str(tmp_path / f"idx_dist_{mode}_{positions}")
            r = build_index(spark, webtext_tiny, d_dist[mode],
                            cfg=BuildConfig(**kw, **dv, waves=2, dict_budget=budget))
            assert r["placement"] == "distributed"
            assert_same_rows(landed_rows(spark, d_dist[mode]), want_rows)
        d_compact = str(tmp_path / f"idx_compact_{positions}")
        d_ingest = {}
        for placement, bound in (("driver", 1000), ("distributed", 999)):
            monkeypatch.setattr(builder, "SMALL_BATCH_DOCS", bound)
            d_ingest[placement] = str(tmp_path / f"idx_ingest_{placement}_{positions}")
            r = ingest_mod.ingest_batch(spark, spark.read.parquet(webtext_tiny),
                                        d_ingest[placement], 0, cfg=BuildConfig(**kw))
            assert not r.skipped and r.n_docs == 1000 and r.placement == placement
        monkeypatch.undo()
        compact_index(spark, d_driver, d_compact)
        want = _segment_fingerprint(spark, d_driver)
        assert want["n"] > 0
        for d in (*d_ingest.values(), d_compact):
            assert _segment_fingerprint(spark, d) == want, d

        # the distributed index serves queries identically
        a = SearchEngine(spark, d_driver).search("oil", k=10, mode="wand")
        b = SearchEngine(spark, d_dist["id"]).search("oil", k=10, mode="wand")
        assert list(a.page["doc_id"]) == list(b.page["doc_id"])
        assert a.total == b.total


@pytest.mark.parametrize("case", ["multifield", "corpus_ids"])
def test_build_placements_write_identical_tables(spark, webtext_tiny, tmp_path, monkeypatch,
                                                  case):
    """A driver-placed build and a forced-distributed one write the same
    tables (``landed_rows``: every row, the Spark schemas,
    ``corpus_stats.json`` and the manifest) for a multi-field positional
    corpus, with per-field stats and per-field bound bakes, and for a
    corpus bringing its own ids >= 2^31 with doc values (a TIMESTAMP_NTZ
    among them)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from conftest import assert_same_rows, landed_rows

    from search_engine_spark.index import builder
    from search_engine_spark.index.builder import BuildConfig, build_index

    tbl = pq.read_table(webtext_tiny).slice(0, 400)
    kw = dict(block_docs=16, target_ranges=8, min_range_docs=16, n_partitions=8, waves=2)
    if case == "multifield":
        # title = the text's first 40 characters, body = the rest
        tbl = pa.table({"url": tbl.column("url"),
                        "title": pc.utf8_slice_codeunits(tbl.column("text"), 0, 40),
                        "body": pc.utf8_slice_codeunits(tbl.column("text"), 40)})
        cfg, id_col = BuildConfig(**kw, positions=True, field_cols=("title", "body")), None
    else:
        tbl = tbl.append_column("my_id", pa.array((1 << 31) + 7 * np.arange(400)[::-1]))
        tbl = tbl.append_column("ntz", tbl.column("warc_ts").cast(pa.timestamp("us")))
        cfg, id_col = BuildConfig(**kw, docvalues_cols=("lang", "ntz")), "my_id"
    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    pq.write_table(tbl, os.path.join(corpus, "part-0.parquet"))
    rows = {}
    for placement, bound in (("driver", 400), ("distributed", 399)):
        monkeypatch.setattr(builder, "SMALL_BATCH_DOCS", bound)
        idx = str(tmp_path / placement)
        assert build_index(spark, corpus, idx, cfg=cfg, id_col=id_col)["placement"] == placement
        rows[placement] = landed_rows(spark, idx)
    assert_same_rows(rows["driver"], rows["distributed"])
    stats = rows["driver"]["corpus_stats"]
    if case == "multifield":
        assert stats["per_field_mtn"] and set(stats["fields"]) == {"title", "body"}
    else:
        assert stats["max_doc_id"] == (1 << 31) + 7 * 399
        assert "lang:string,ntz:timestamp_ntz" in rows["driver"]["doc_stats.schema"]


def test_small_build_jobs_and_placement_bound(spark, webtext_tiny, tmp_path, monkeypatch):
    """A 1,000-page build on the driver runs at most 10 Spark jobs (the
    key collect, the NFC sample, the token collect, one write per table and
    wave); one page more than ``SMALL_BATCH_DOCS`` takes the distributed
    plan."""
    from conftest import spark_jobs

    from search_engine_spark.index import builder
    from search_engine_spark.index.builder import BuildConfig, build_index

    cfg = BuildConfig(block_docs=128, target_ranges=8, min_range_docs=128, n_partitions=4,
                      waves=1)
    for placement, bound in (("driver", 1000), ("distributed", 999)):
        monkeypatch.setattr(builder, "SMALL_BATCH_DOCS", bound)
        r, jobs = spark_jobs(spark, lambda: build_index(
            spark, webtext_tiny, str(tmp_path / placement), cfg=cfg))
        assert r["placement"] == placement and r["n_docs"] == 1000
        assert {"plan_phase1", "doc_stats", "term_stats", "term_dim", "wave0_segments",
                "manifest"} <= r["phase_sec"].keys()
        if placement == "driver":
            assert len(jobs) <= 10, len(jobs)
        else:
            assert len(jobs) > 10, len(jobs)
