import pytest

from mysteryann_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
SF_TINY = "/root/testdata/sf0.001"
CALLER_JVM_FLAG = "-Dmysteryann.tests=true"


@pytest.fixture(scope="session")
def spark():
    # a caller's own JVM flag: tests/test_session_conf.py checks that the
    # engine's driver flags reach the JVM alongside it
    s = get_spark(
        app_name="mysteryann-tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.extraJavaOptions": CALLER_JVM_FLAG},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def emb(spark):
    from mysteryann_spark.sources.tables import load_table

    return load_table(spark, "embeddings", SF_DIR).cache()
