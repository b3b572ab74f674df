import os
import shutil

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test sessions light


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from search_engine_spark.session import get_spark

    # warehouse + metastore under tmp so bucketed saveAsTable tests never
    # write into the repo cwd
    wh = tmp_path_factory.mktemp("warehouse")
    s = get_spark(
        "tests",
        cpus=int(os.environ["SPARK_GRAFT_CPUS"]),
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": str(wh / "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={wh}",
        },
    )
    yield s


@pytest.fixture(scope="session")
def webtext_tiny(tmp_path_factory):
    """1,000-row corpus parquet (FIXTURES.md 'tiny')."""
    from search_engine_spark.fixtures import write_webtext_parquet

    path = str(tmp_path_factory.mktemp("corpus") / "webtext_tiny")
    write_webtext_parquet(path, 1000)
    return path


@pytest.fixture(scope="session")
def oracle_tiny(webtext_tiny):
    import pyarrow.parquet as pq

    from search_engine_spark.oracle import OracleIndex

    tbl = pq.read_table(os.path.join(webtext_tiny, "part-00000.parquet"))
    return OracleIndex(list(zip(tbl.column("url").to_pylist(), tbl.column("text").to_pylist())))


@pytest.fixture(scope="session")
def index_tiny(spark, webtext_tiny, tmp_path_factory):
    """Built index over the tiny corpus, small grid so WAND has real ranges."""
    from search_engine_spark.index.builder import BuildConfig, build_index

    index_dir = str(tmp_path_factory.mktemp("index") / "tiny")
    cfg = BuildConfig(
        block_docs=64, target_ranges=16, min_range_docs=64, n_partitions=8, waves=2
    )
    metrics = build_index(spark, webtext_tiny, index_dir, cfg=cfg)
    assert metrics["n_docs"] == 1000
    return index_dir


@pytest.fixture(scope="session")
def sf_dv_index(spark, webtext_tiny, tmp_path_factory):
    """Single-field build over the RAW fixture corpus (url, warc_ts, html,
    text, lang), baking (lang, warc_ts) — the incremental-crawl shape."""
    from search_engine_spark.index.builder import BuildConfig, build_index

    idx = str(tmp_path_factory.mktemp("sfdv") / "index")
    cfg = BuildConfig(
        block_docs=64, target_ranges=16, min_range_docs=64, n_partitions=8,
        waves=2, positions=True, docvalues_cols=("lang", "warc_ts"),
    )
    build_index(spark, webtext_tiny, idx, cfg=cfg)
    return idx


# the incremental-ingest layout: small blocks and ranges, 8 partitions
INGEST_CFG = dict(
    block_docs=64, target_ranges=16, min_range_docs=64, n_partitions=8,
    shuffle_partitions=8,
)


def spark_jobs(spark, fn):
    """Run ``fn`` under a job group of its own -> (result, Spark job ids)."""
    import uuid

    sc, group = spark.sparkContext, uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def landed_rows(spark, index_dir):
    """Every row an index's tables hold, as sorted pandas frames (segments,
    doc_stats, term_stats and, on a generational index, gen_stats, the
    ``gen`` key included), each table's Spark schema, ``corpus_stats.json``
    and the manifest less ``committed_at``."""
    from search_engine_spark.catalog import IndexCatalog

    cat = IndexCatalog(index_dir)
    out = {}
    for name, path, keys in (
        ("segments", cat.segments, ["pid", "term", "sseg", "block_id"]),
        ("doc_stats", cat.doc_stats, ["doc_id"]),
        ("term_stats", cat.term_stats, ["term"]),
        ("gen_stats", os.path.join(index_dir, "gen_stats"), []),
    ):
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        keys = (["gen"] if "gen" in df.columns else []) + keys
        out[name] = df.toPandas().sort_values(keys).reset_index(drop=True)
        out[name + ".schema"] = df.schema.simpleString()
    out["corpus_stats"] = cat.read_corpus_stats()
    out["manifest"] = (
        cat.read_manifest().drop(["committed_at"]).to_pandas()
        .sort_values(["run_id", "partition_id"]).reset_index(drop=True)
    )
    return out


def assert_same_rows(a, b):
    """``landed_rows`` of two indexes are equal, table by table."""
    assert a.keys() == b.keys()
    for name in a:
        if name.endswith(".schema") or name == "corpus_stats":
            assert a[name] == b[name], name
        else:
            assert a[name].equals(b[name]), name


def write_waves(tbl, base, slices):
    """Write each (offset, n) slice of ``tbl`` as one parquet wave dir."""
    import pyarrow.parquet as pq

    paths = []
    for i, (off, n) in enumerate(slices):
        d = os.path.join(base, f"wave{i}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(tbl.slice(off, n), os.path.join(d, "part-0.parquet"))
        paths.append(d)
    return paths


@pytest.fixture(scope="session")
def inc_index(spark, webtext_tiny, tmp_path_factory):
    """The tiny corpus ingested as 3 url-lex-ordered generations."""
    import pyarrow.parquet as pq

    from search_engine_spark.index.builder import BuildConfig
    from search_engine_spark.streaming.ingest import ingest_batch

    base = str(tmp_path_factory.mktemp("inc3"))
    idx = os.path.join(base, "inc_idx")
    tbl = pq.read_table(webtext_tiny).sort_by("url")
    waves = write_waves(tbl, base, [(0, 400), (400, 350), (750, 250)])
    for e, w in enumerate(waves):
        r = ingest_batch(spark, spark.read.parquet(w), idx, e, cfg=BuildConfig(**INGEST_CFG))
        assert not r.skipped and r.n_docs > 0
    return idx


@pytest.fixture()
def clean_dir(tmp_path):
    d = tmp_path / "work"
    d.mkdir()
    yield str(d)
    shutil.rmtree(str(d), ignore_errors=True)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
