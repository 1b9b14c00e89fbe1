"""Generated code stays compiled across passes.

A text pass touches more whole-stage and expression codegen classes than
Spark's default codegen cache holds (100), and its LRU then evicts every
class before the next pass reuses it: each pass re-runs Janino and the
JVM re-JITs the new bytecode. ``session.get_spark`` sizes the cache to
``session.CODEGEN_CACHE_ENTRIES`` and keeps stage ids out of generated
class names; this pins that a repeated pass compiles nothing.
"""

from __future__ import annotations

import pytest

from language_diversity_common_crawler_spark import session
from language_diversity_common_crawler_spark.functions import dedup, sketches
from language_diversity_common_crawler_spark.operators.histogram import (
    language_histogram,
)
from language_diversity_common_crawler_spark.plans.corpus import (
    pretrain_corpus_build,
)
from language_diversity_common_crawler_spark.plans.pipeline import (
    extract_pipeline,
)
from language_diversity_common_crawler_spark.sources import pages

SF_DIR = "/root/testdata/sf0.001"


def _compiles(spark) -> int:
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _text_pass(spark) -> None:
    """The text workload's op sequence over small fixtures: extract +
    histogram, corpus build, the verified MinHash chain, KMV and
    containment."""
    # identical plans on both passes: no op may read the previous pass's
    # cached relations
    spark.catalog.clearCache()
    preds = extract_pipeline(pages.pages_df(spark, 40, seed=5))
    language_histogram(preds).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pretrain_corpus_build(docs).collect()
    pairs = dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs))
    dedup.jaccard_verified_pairs(docs, pairs, min_jaccard_bp=2000).collect()
    sketches.kmv_shingle_cardinality(docs).collect()
    dedup.containment_decontaminate(docs).collect()
    spark.catalog.clearCache()


@pytest.fixture()
def fixed_plans(spark):
    """AQE picks some joins by which shuffle finishes first, so two runs of
    one query may execute different plans; without it both passes run the
    same plans and any compile in the second is a cache miss."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", old)


def test_second_text_pass_compiles_nothing(spark, fixed_plans):
    """The sequence touches well over 100 generated classes (the default
    cache size), so with an undersized cache the second pass recompiles
    most of them."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    _text_pass(spark)
    before = _compiles(spark)
    _text_pass(spark)
    assert _compiles(spark) - before == 0
