"""Session-wide settings of ``get_spark``, read back from the shared test
session's JVM: the generated-class cache holds a repeat pass's plans, and
the engine's driver flags survive a caller's ``extraJavaOptions``."""

from bench import HEADLINE_QUERIES
from mysteryann_spark.queries.registry import all_queries
from tests.conftest import CALLER_JVM_FLAG, SF_DIR


def test_repeat_pipeline_pass_compiles_nothing(spark):
    # The 13 queries bench.py and perfbench's pipeline_sf0.1 time, run
    # twice. The counter counts Janino compiles of generated classes; a
    # cache hit adds nothing. At Spark's default cache of 100 entries the
    # second pass recompiled ~176 of the ~180 classes the first generated.
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    registry = all_queries()

    def one_pass():
        added = {}
        for q in HEADLINE_QUERIES:
            n0 = compiles.getCount()
            registry[q].fn(spark, SF_DIR).collect()
            added[q] = compiles.getCount() - n0
        return added

    one_pass()
    assert compiles.getCount() > 0
    recompiled = {q: n for q, n in one_pass().items() if n}
    assert not recompiled, f"second pass recompiled generated classes: {recompiled}"


def test_engine_jvm_flags_survive_caller_extra_java_options(spark):
    runtime = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(runtime.getInputArguments())
    assert CALLER_JVM_FLAG in args
    assert "-Djava.net.preferIPv4Stack=true" in args
