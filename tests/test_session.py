"""Session-level settings of ``get_spark`` that no plan test can see:
warm rebuilds reuse their generated classes, and with per-call origin
capture off an unguarded ANSI error still fails loudly."""

from __future__ import annotations

import time

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from glonassdatamining_spark import registry
from tests.conftest import SF_DIR

# The iterative kernels: each builder runs many small jobs, so each
# compiles tens of whole-stage classes per build.
ITERATIVE = (
    "n1_connected_components",
    "i48c_unbounded_knn",
    "k55_bpe_merge_learning",
    "k2b_minhash_lsh_dedup",
)
# Classes a warm rebuild of ITERATIVE may still compile: the 2 that k55
# compiles again on every build. With a codegen cache smaller than the
# builders' working set (Spark's default of 100 entries) nearly every
# class of the second build recompiles, 130 to 150 of them.
WARM_COMPILE_BUDGET = 2


def _compiles(spark) -> int:
    """Generated classes compiled so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _build_all(spark) -> int:
    """Build and materialize every ITERATIVE query once; return the
    number of classes compiled meanwhile."""
    before = _compiles(spark)
    for name in ITERATIVE:
        df = registry.get(name).builder(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
    return _compiles(spark) - before


def test_warm_rebuild_reuses_generated_classes(spark):
    # the counter counts: a literal never seen before is inlined into a
    # class never compiled before
    before = _compiles(spark)
    spark.range(1).select(F.col("id") + time.time_ns()).write.format(
        "noop"
    ).mode("overwrite").save()
    assert _compiles(spark) > before

    _build_all(spark)  # cold, or warm if this JVM already built them
    warm = _build_all(spark)
    assert warm <= WARM_COMPILE_BUDGET, f"warm rebuild compiled {warm} classes"


def test_ansi_error_raises_without_origin_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    df = spark.createDataFrame([(2**63 - 1,)], "v bigint").select(
        (F.col("v") + 1).alias("w")
    )
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        df.collect()
