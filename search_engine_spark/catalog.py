"""Table storage layer for the index.

At cluster scale these tables are Iceberg (the manifest commit becomes an
Iceberg ``MERGE INTO``, mirroring the reference's upsert-sink pattern,
reference lamda/inventory_sync.py:87-109).  The Iceberg runtime jar is not in
this image, so the backend is parquet directories with a driver-side atomic
manifest: manifest rows are written to a temp file and ``os.rename``d into
place (rename is atomic on POSIX), which gives the same crash-safety the
resume protocol needs.  The Iceberg mapping is a deploy-time swap, not a
flag implemented here: ``append_parquet_atomic`` on the manifest becomes
``MERGE INTO manifest USING staged ON segment_id WHEN NOT MATCHED THEN
INSERT``, the query-log append becomes a plain Iceberg append, and readers
(``read_manifest``/``read_query_log``) become ``spark.table(...)`` scans —
the schemas below are the table DDL either way.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST_SCHEMA = pa.schema(
    [
        pa.field("run_id", pa.string()),
        pa.field("partition_id", pa.int32()),
        pa.field("segment_id", pa.string()),
        pa.field("input_split", pa.string()),
        pa.field("term_lo", pa.string()),
        pa.field("term_hi", pa.string()),
        pa.field("postings_count", pa.int64()),
        pa.field("bytes", pa.int64()),
        pa.field("status", pa.string()),
        pa.field("committed_at", pa.timestamp("us")),
    ]
)

# Append-only query log (the reference writes a request/response log row on
# every search endpoint hit — reference app.py:62-64,436-438,525-526; here
# it is a parquet append table sharing the manifest's atomic-commit writer,
# an Iceberg append at cluster scale).
QUERY_LOG_SCHEMA = pa.schema(
    [
        pa.field("qid", pa.int32()),
        pa.field("keyword", pa.string()),
        pa.field("mode", pa.string()),
        pa.field("n_terms", pa.int32()),
        pa.field("total", pa.int64()),
        pa.field("top_doc_id", pa.int64()),
        pa.field("top_score", pa.float64()),
        pa.field("logged_at", pa.timestamp("us")),
    ]
)


def append_parquet_atomic(
    dir_path: str, schema: pa.Schema, rows: list[dict], prefix: str = "log"
) -> None:
    """Append rows to a parquet directory atomically (write temp + rename).

    The single commit protocol for every append-only table (manifest,
    query log): fields named ``*_at`` are stamped with the current time,
    and readers never observe a partial file — rename is atomic on POSIX.
    """
    if not rows:
        return
    os.makedirs(dir_path, exist_ok=True)
    now = time.time_ns() // 1000
    arrays = []
    for field in schema:
        if field.name.endswith("_at"):
            arrays.append(pa.array([now] * len(rows), field.type))
        else:
            arrays.append(pa.array([r[field.name] for r in rows], field.type))
    table = pa.table(arrays, schema=schema)
    final = os.path.join(dir_path, f"{prefix}-{uuid.uuid4().hex}.parquet")
    tmp = final + ".tmp"
    pq.write_table(table, tmp)
    os.rename(tmp, final)


def read_parquet_dir(dir_path: str, schema: pa.Schema) -> pa.Table:
    """Read every committed file of an append-only table (empty if none)."""
    files = (
        [
            os.path.join(dir_path, f)
            for f in sorted(os.listdir(dir_path))
            if f.endswith(".parquet")
        ]
        if os.path.isdir(dir_path)
        else []
    )
    if not files:
        return schema.empty_table()
    return pa.concat_tables([pq.read_table(f) for f in files])


class IndexCatalog:
    """Paths + small-table IO for one index build."""

    def __init__(self, index_dir: str):
        self.root = index_dir
        self.doc_stats = os.path.join(index_dir, "doc_stats")
        self.segments = os.path.join(index_dir, "segments")
        self.term_stats = os.path.join(index_dir, "term_stats")
        self.term_dim = os.path.join(index_dir, "term_dim")
        self.manifest_dir = os.path.join(index_dir, "manifest")
        self.query_log_dir = os.path.join(index_dir, "query_log")
        self.tokens_tmp = os.path.join(index_dir, "tokens_tmp")
        self.stats_file = os.path.join(index_dir, "corpus_stats.json")
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- corpus-level scalars (N, avgdl, grid size) --------------------------
    def write_corpus_stats(self, stats: dict) -> None:
        tmp = self.stats_file + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(stats, f)
        os.rename(tmp, self.stats_file)

    def read_corpus_stats(self) -> dict:
        with open(self.stats_file) as f:
            return json.load(f)

    def has_corpus_stats(self) -> bool:
        return os.path.exists(self.stats_file)

    def read_committed(self, spark, path: str, stats: dict, schema=None):
        """``path`` (segments, doc_stats or term_stats) as a DataFrame: on a
        generational index only the generations ``stats["generations"]``
        commits, so one encoded but never committed (a crash before its
        gen_stats marker) stays invisible to every reader; a batch index
        reads whole.  ``schema`` (a ``StructType``: the table's known
        columns, partition keys but ``gen`` included) replaces the
        schema-inference job a multi-file read costs."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        gens = stats.get("generations")
        reader = spark.read
        if schema is not None:
            if gens is not None:
                schema = T.StructType(schema.fields + [T.StructField("gen", T.IntegerType())])
            reader = reader.schema(schema)
        df = reader.parquet(path)
        return df if gens is None else df.filter(F.col("gen").isin(gens))

    # -- manifest: atomic append of lineage rows -----------------------------
    def append_manifest(self, rows: list[dict]) -> None:
        """Atomically commit a batch of lineage rows (write temp + rename)."""
        append_parquet_atomic(self.manifest_dir, MANIFEST_SCHEMA, rows, prefix="manifest")

    def read_manifest(self) -> pa.Table:
        return read_parquet_dir(self.manifest_dir, MANIFEST_SCHEMA)

    # -- query log: append-only request/response log -------------------------
    def append_query_log(self, rows: list[dict]) -> None:
        append_parquet_atomic(self.query_log_dir, QUERY_LOG_SCHEMA, rows)

    def read_query_log(self) -> pa.Table:
        return read_parquet_dir(self.query_log_dir, QUERY_LOG_SCHEMA)

    def completed_partitions(self) -> set[int]:
        m = self.read_manifest()
        if m.num_rows == 0:
            return set()
        pids = m.column("partition_id").to_pylist()
        status = m.column("status").to_pylist()
        return {p for p, s in zip(pids, status) if s == "done"}
