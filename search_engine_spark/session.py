"""SparkSession factory tuned for this engine.

Local mode stands in for a multi-executor cluster; all scale-sensitive choices
(shuffle partition counts, AQE, Arrow batching) are made explicitly so the same
code runs unchanged under ``spark-submit --py-files`` on a real cluster.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# the master URL forms spark-submit accepts (local, local[N]/local[*]/
# local[N,F], spark://, yarn, k8s://, mesos://)
_MASTER_URL = re.compile(r"(local(\[[^\]]+\])?|yarn|(spark|k8s|mesos)://\S+)")


def _external_master(env=None) -> bool:
    """True when a master was supplied from outside this process.

    spark-submit's PythonRunner exports ``PYSPARK_GATEWAY_PORT`` (the JVM
    already holds the submit-time master) and ``bin/spark-submit`` exports
    ``MASTER``.  Before the gateway attaches, ``SparkConf()`` is an empty
    pure-Python conf and sees nothing of ``--master``, so these two are the
    only signals.  ``MASTER`` counts only when it parses as a Spark master
    URL: unrelated tooling also sets a ``MASTER`` variable, and skipping
    ``.master()`` on its account leaves the session with no master at all.
    """
    env = os.environ if env is None else env
    if env.get("PYSPARK_GATEWAY_PORT"):
        return True
    return bool(_MASTER_URL.fullmatch(env.get("MASTER", "").strip()))


def get_spark(
    app_name: str = "search_engine_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` controls local parallelism (``local[cpus]``) when no master was
    supplied externally.  Under ``spark-submit --master yarn/k8s`` the submit
    flag populates ``spark.master`` in the JVM system properties *before* this
    code runs, and we must NOT call ``.master()`` then: properties set in
    application code take precedence over spark-submit flags, so hard-coding
    ``local[N]`` here would silently collapse a cluster job onto the driver.
    """
    # numpy's BLAS must not self-parallelize inside python workers: N
    # concurrent workers x M BLAS threads oversubscribes the box (measured:
    # the 1M-vector IVF Lloyd pass burned 3,365 s of executor time on a
    # ~128-GFlop matmul).  The workers ARE the parallelism; one BLAS thread
    # each.  setdefault so an explicit user setting wins, and set before the
    # JVM launches so workers inherit it (numpy reads these at load time).
    for var in (
        "OPENBLAS_NUM_THREADS",
        "OMP_NUM_THREADS",
        "MKL_NUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        os.environ.setdefault(var, "1")
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # 3 tasks per core: stragglers amortize across waves instead of
        # setting the stage time (1 task/core makes the slowest task the
        # stage); AQE coalesces the excess when partitions run small.
        shuffle_partitions = max(3 * cpus, 24)

    # Respect a master provided by spark-submit; fall back to local[N] only
    # for plain `python x.py` runs.  Calling .master() under an external
    # master would override it (code-level conf outranks submit flags) and
    # collapse a cluster job onto the driver.
    external = _external_master()
    builder = SparkSession.builder
    if not external:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # GB-scale local corpora need more than filesize/128MB scan splits to
        # feed every core; harmless on small inputs, overridden on clusters.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
