"""L6/A4 — in-engine perf accumulators: timings stream back with task
completion, predictions stay identical to the untimed UDFs, and the A4
text format matches the reference's shape."""

from __future__ import annotations

import re

from language_diversity_common_crawler_spark.functions.langid_models import (
    with_model_predictions,
)
from language_diversity_common_crawler_spark.functions.perf import ModelPerf
from language_diversity_common_crawler_spark.sources import pages


def test_perf_accumulators_and_parity(spark):
    df = pages.pages_df(spark, 60, seed=9, n_partitions=4).select(
        "url", "text"
    ).filter("text IS NOT NULL")

    perf = ModelPerf(spark)
    cols = ["url", "df_lang", "df_prec", "li_lang", "li_prec", "cld_lang",
            "cld_prec"]
    timed = perf.with_predictions(df, "text").select(*cols)
    got = sorted(tuple(r) for r in timed.collect())

    # accumulators populated by the action above
    means = perf.mean_seconds_per_record()
    assert set(means) == {"detect_fast", "langid", "cld2"}
    assert all(v >= 0.0 for v in means.values())
    assert all(perf.rows[m].value == len(got) for m in perf.rows)
    assert sum(a.value for a in perf.seconds.values()) > 0.0

    # timing must not change predictions
    want = sorted(
        tuple(r)
        for r in with_model_predictions(df, "text").select(*cols).collect()
    )
    assert got == want

    # A4 format: three floats + trailing space + newline
    assert re.fullmatch(r"\S+ \S+ \S+ \n", perf.performance_text())
