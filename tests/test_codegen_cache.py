"""The session's codegen cache holds a whole pass of the heavy lines.

Spark's default cache keeps 100 generated classes. One pass of the five
curation lines generates more than that (142 at sf0.001), so an LRU of
100 evicts them in order and every repeat pass recompiles them (132 at
sf0.001). ``get_spark`` sizes the cache so a repeat pass in the same
session compiles nothing.
"""

from __future__ import annotations

import __spark_entry__ as entry_mod
from raquet_spark.queries import register_views

CURATE_LINES = (
    "quality_classifier_filter", "semantic_dedup_keep", "dedup_components",
    "dedup_minhash", "ann_lsh",
)


def test_repeat_curate_pass_compiles_nothing(spark, sf_dir):
    qs = entry_mod.queries()
    register_views(spark, sf_dir)
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def run_pass() -> int:
        before = compiles()
        for name in CURATE_LINES:
            qs[name](spark, sf_dir).toArrow()
        return compiles() - before

    first = run_pass()
    second = run_pass()
    assert second == 0, f"repeat pass recompiled {second} classes (first: {first})"
