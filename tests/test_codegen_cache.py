"""Spark's generated-code cache holds the engine's working set: a warm
evaluate / curation job re-compiles no generated class."""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))

import codegen_working_set as ws  # noqa: E402

from deepseek_ocr_omnidocbench_spark.session import get_spark  # noqa: E402


def test_get_spark_sizes_codegen_cache(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    assert list(inspect.signature(get_spark).parameters) == [
        "app_name", "cores", "shuffle_partitions", "extra_conf"]


def _assert_warm_run_recompiles_nothing(spark, run):
    run(spark)  # cold: compiles the plan's sources
    compiled, new = ws.codegen_delta(spark, run)
    # every compilation of the warm run must be a source the cache has never
    # held; with the default 100 entries 90-111 evicted sources come back here
    assert compiled == new, "%d re-compilations" % (compiled - new)


def test_warm_evaluate_recompiles_nothing(spark):
    _assert_warm_run_recompiles_nothing(spark, ws.run_evaluate)


def test_warm_curation_recompiles_nothing(spark):
    _assert_warm_run_recompiles_nothing(spark, ws.run_curation)
