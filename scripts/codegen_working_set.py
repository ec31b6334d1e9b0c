#!/usr/bin/env python
"""Count the distinct generated-code sources each engine plan adds to
Spark's codegen cache, to check the headroom of the cache size that
``session.get_spark`` sets (``spark.sql.codegen.cache.maxEntries``).

  python scripts/codegen_working_set.py

One ``get_spark`` session runs ``extract_pages``, ``evaluate`` and
``run_curation_inline`` on small seeded inputs, then all three again.  Per
plan it prints the Janino compilations (``CodegenMetrics``), the new cache
entries among them, and the running total of entries.  A compilation that
adds no new entry re-compiles a source the cache evicted: that only
happens once the working set outgrows the cache, so raise the size well
before the total comes near it.  A warm round can still add a few entries:
adaptive execution picks join build sides at run time, and each new plan
variant is a new source.

The inputs are the ones tests/test_codegen_cache.py uses.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from deepseek_ocr_omnidocbench_spark.operators.html_extract import extract_pages  # noqa: E402
from deepseek_ocr_omnidocbench_spark.plans.curate import run_curation_inline  # noqa: E402
from deepseek_ocr_omnidocbench_spark.plans.evaluate import evaluate, fixture_frames  # noqa: E402
from deepseek_ocr_omnidocbench_spark.session import get_spark  # noqa: E402
from deepseek_ocr_omnidocbench_spark.sources.pages import (  # noqa: E402
    PAGES_ARROW_SCHEMA,
    generate_pages,
)

_GOOD_A = ("The quick brown fox jumps over the lazy dog and then walks "
           "through the quiet town with a friend at noon. ") * 5
_GOOD_B = ("Many ships sailed across the wide ocean while sailors watched "
           "the bright stars and told long stories all night. ") * 5


def compilations(spark) -> int:
    """Janino compilations so far in this JVM (every codegen cache miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _codegen_cache(spark):
    """The JVM-wide generated-code cache (private in Spark 4.1, read by
    reflection); keyed by (class loader, source)."""
    jvm, gateway = spark._jvm, spark.sparkContext._gateway
    cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    getter = cls.getDeclaredMethod("cache", gateway.new_array(jvm.java.lang.Class, 0))
    getter.setAccessible(True)
    module = cls.getField("MODULE$").get(None)
    return getter.invoke(module, gateway.new_array(jvm.java.lang.Object, 0)).cache()


def codegen_delta(spark, run) -> tuple[int, int]:
    """Run ``run(spark)`` -> (Janino compilations, new cache entries).
    Compilations beyond the new entries re-compiled evicted sources."""
    cache = _codegen_cache(spark)
    before = spark._jvm.java.util.HashSet(cache.asMap().keySet())
    start = compilations(spark)
    run(spark)
    compiled = compilations(spark) - start
    added = spark._jvm.java.util.HashSet(cache.asMap().keySet())
    added.removeAll(before)
    return compiled, added.size()


def run_extract(spark) -> None:
    table = pa.Table.from_pylist(generate_pages(20, seed=3), schema=PAGES_ARROW_SCHEMA)
    pages = spark.createDataFrame(table.to_pandas())
    extract_pages(pages, salt_buckets=4).agg(F.sum("n_chars")).collect()


def run_evaluate(spark) -> dict:
    gt, pages, preds = fixture_frames(spark, 4, seed=7)
    return evaluate(gt, preds, pages)


def curation_docs(spark):
    rows = [
        (1, "https://ex.org/a", _GOOD_A, "en"),
        (2, "https://ex.org/b", _GOOD_A, "en"),
        (3, "https://ex.org/a?utm_source=x", _GOOD_A, "en"),
        (4, "https://ex.org/c", "too short.", "en"),
        (5, "https://ex.org/d", _GOOD_B, "en"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, url string, markdown string, lang_pred string")


def run_curation(spark) -> list:
    return run_curation_inline(curation_docs(spark), budget=64).collect()


PLANS = [("extract_pages", run_extract), ("evaluate", run_evaluate),
         ("run_curation_inline", run_curation)]


def main() -> None:
    spark = get_spark(app_name="codegen_working_set")
    size = spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries", "100")
    print("codegen cache size: %s" % size)
    print("%-6s %-20s %9s %6s %6s" % ("round", "plan", "compiled", "new", "total"))
    total = 0
    for rnd in (1, 2):
        for name, run in PLANS:
            compiled, new = codegen_delta(spark, run)
            total += new
            print("%-6d %-20s %9d %6d %6d" % (rnd, name, compiled, new, total))
    spark.stop()


if __name__ == "__main__":
    main()
