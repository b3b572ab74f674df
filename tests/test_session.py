"""The master decision in ``session.get_spark``, checked without a JVM."""

from search_engine_spark.session import _external_master


def test_master_is_external_only_for_spark_urls():
    for url in ("local", "local[4]", "local[*]", "local[2,3]", "spark://h:7077",
                "yarn", "k8s://https://h:6443", "mesos://h:5050", " yarn "):
        assert _external_master({"MASTER": url}), url
    # a stray MASTER from unrelated tooling must not suppress .master()
    for stray in ("", "1", "true", "main", "branch-master", "http://h",
                  "local[", "localhost", "yarn-client-x", "spark://"):
        assert not _external_master({"MASTER": stray}), stray
    assert not _external_master({})


def test_gateway_port_means_external_master():
    assert _external_master({"PYSPARK_GATEWAY_PORT": "40123"})
    assert _external_master({"PYSPARK_GATEWAY_PORT": "40123", "MASTER": "main"})
    assert not _external_master({"PYSPARK_GATEWAY_PORT": "", "MASTER": "main"})
