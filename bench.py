#!/usr/bin/env python3
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line::

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": <sf>, ...}

The headline set covers every layer of the engine:
  - the reference's primary analytical query (A1 language histogram via the
    three pandas-UDF lang-ID models),
  - the full extract pipeline on synthetic pages (decode -> boilerplate ->
    lang-ID, SURVEY.md §3.1),
  - training-data ops (MinHash-LSH dedup, span removal, decontamination),
  - the frontier (north rule): canonicalize -> seen anti-join -> robots
    broadcast join -> per-host politeness schedule, plus a full crawl round
    with bloom-filter URL-seen probe.

Extra fields beyond the contract: ``frontier_urls_per_sec`` (frontier URLs
scheduled/sec in the crawl-round benchmark) and ``extract_rows_per_sec``
(extracted-text rows/sec), the two throughput numbers BASELINE.json's metric
names. Scaling efficiency across parallelism levels is measured separately by
``tools/scaling_bench.py`` and recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark import StorageLevel

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# The sandbox box has bursty noisy neighbors (observed 2-10x wall-time swings
# on identical plans). Per-query times are the min over REPS runs — the same
# additive-noise capability estimate BASELINE.md's scaling protocol uses.
# Extra reps are skipped once total bench wall time exceeds BUDGET_SEC, so
# the one JSON line the driver records is guaranteed to appear even when
# every rep runs into a neighbor burst (rep 1 of each query always runs).
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
BUDGET_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "360"))
_T_START = time.monotonic()


def _timed_best(thunk, spark=None, repin=None):
    """Min wall time of ``thunk()`` over REPS runs (capability estimate).
    With ``spark`` given, the SQL cache is cleared before each rep so
    internally-persisted relations don't hand later reps a warm hit;
    ``repin`` (one persisted input DataFrame or a dependency-ordered list
    of them) is re-materialized after the clear, OUTSIDE the timing —
    inputs stay table-resident, intermediates never leak across reps. Reps after the first are skipped once the
    whole-bench BUDGET_SEC is exhausted. Returns (last_result,
    best_seconds)."""
    best = float("inf")
    result = None
    for i in range(REPS):
        if i > 0 and time.monotonic() - _T_START > BUDGET_SEC:
            break
        if spark is not None:
            spark.catalog.clearCache()
            for df in ([repin] if repin is not None and not isinstance(repin, (list, tuple)) else (repin or [])):
                # clearCache() drops the persist MARKER too, not just the
                # cached blocks — without re-persisting, count() scans
                # without caching and the timed round recomputes the whole
                # input-synthesis chain (measured 70-110s vs ~3s per round)
                df.persist(StorageLevel.MEMORY_AND_DISK)
                df.count()
        t0 = time.perf_counter()
        result = thunk()
        best = min(best, time.perf_counter() - t0)
    return result, best


def _sf_of(path: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1).rstrip(".")) if m else 0.0


HEADLINE = [
    "lang_histogram",
    "token_quality_stats",
    "source_balanced_sample",
    "lang_stratified_sample",
    "minhash_lsh_pairs",
    "minhash_jaccard_verified",
    "frontier_politeness_schedule",
    "frontier_robots_filter",
    "warc_ingest",
    "pii_redaction",
    "cdx_fetch_plan",
    "duplicated_span_removal",
    "kmv_shingle_cardinality",
    "line_dedup",
    "lang_deficit_budget",
    "snapshot_url_diff",
    "domain_politeness_schedule",
    "containment_decontamination",
    "url_spam_filter",
    "url_template_traps",
    "sampled_length_quantiles",
    "filter_funnel_report",
    "mixing_epoch_plan",
    "source_overlap_matrix",
    "quality_length_moments",
    "source_novelty_report",
]


def _extract_over_parquet(spark, n_pages: int) -> tuple[int, float]:
    """Time the extract pipeline over a parquet pages table (pre-written
    once, cached in /tmp) — measures the pipeline, not driver-side row
    generation."""
    from pyspark.sql import functions as F

    from language_diversity_common_crawler_spark.plans.pipeline import (
        extract_pipeline,
    )
    from language_diversity_common_crawler_spark.sources import pages as pg

    path = f"/tmp/bench_pages_{n_pages}"
    if not os.path.isdir(path):
        pg.pages_df(spark, n_pages, seed=42, n_partitions=32).write.mode(
            "overwrite"
        ).parquet(path)
    df = spark.read.parquet(path)
    out = extract_pipeline(df)
    # the aggregate must reference ALL THREE models' outputs — an agg that
    # touches only df_lang lets Catalyst prune the li/cld model UDFs out of
    # the plan, and the "extract" time silently becomes a 1-model number
    aggs = [
        F.count("df_lang").alias("n"),
        F.sum(F.length("content")).alias("chars"),
        F.count("li_lang").alias("n_li"),
        F.count("cld_lang").alias("n_cld"),
        F.sum("df_prec").alias("p1"),
        F.sum("li_prec").alias("p2"),
        F.sum("cld_prec").alias("p3"),
    ]
    # warm the UDF/Arrow path once so the timing measures steady state
    out.agg(*aggs).collect()
    n, best = _timed_best(
        lambda: int(out.agg(*aggs).collect()[0]["n"])
    )
    return n, best


def main() -> None:
    from language_diversity_common_crawler_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("ldcc-bench", cpus=CPUS)
    qs = entrymod.queries()

    timings: dict[str, float] = {}
    row_counts: dict[str, int] = {}

    # Warm the JVM + Arrow path once so per-query numbers measure the
    # queries, not session startup.
    qs["lang_predictions"](spark, SF_DIR.replace("0.1", "0.001")).count()

    # Pre-build the warc_ingest fixture files so the timed run measures the
    # binaryFile + record-splitting parse, not the one-time fixture write.
    from language_diversity_common_crawler_spark.sources import warc as _warc

    _warc.write_fixture_from_documents(
        SF_DIR, f"/tmp/ldcc_warc_{os.path.basename(SF_DIR.rstrip('/'))}"
    )

    # Same for the CDX shards: cdx_fetch_plan should time the gzip-text
    # parse + plan aggregate, not the driver-side fixture derivation.
    from language_diversity_common_crawler_spark.sources import cdx as _cdx

    _cdx.write_fixture_from_documents(
        SF_DIR, f"/tmp/ldcc_cdx_{os.path.basename(SF_DIR.rstrip('/'))}"
    )

    for name in HEADLINE:
        fn = qs[name]
        # clearCache per rep: queries that persist() internally would
        # otherwise hand rep 2 a warm CacheManager hit — every rep is a
        # full execution and min() removes only scheduler/neighbor noise
        row_counts[name], best = _timed_best(
            lambda fn=fn: fn(spark, SF_DIR).count(), spark=spark
        )
        timings[name] = round(best, 4)

    # Frontier crawl round: canonicalize + bloom-seen probe + robots +
    # politeness schedule over the orders-derived seed list; throughput in
    # frontier URLs scheduled per second. The seed list is replicated to
    # ~40k URLs per core so the timing measures data throughput, not
    # fixed stage overhead on near-empty partitions.
    from language_diversity_common_crawler_spark.frontier import crawl

    n_orders = 150_000 if "0.1" in SF_DIR else 15_000
    mult = max(1, -(-CPUS * 40_000 // n_orders))
    # seed URL synthesis is data generation, not engine work — a real
    # crawl reads its frontier from a table; likewise the URL-seen state
    # (pre_seen + bloom) is READ from the previous round's commit, not
    # rebuilt inside the round. Materialize both once (untimed), re-pin
    # after each rep's cache clear (also untimed).
    n_seeds, seeds_raw = crawl.bench_seeds(spark, SF_DIR, mult)
    state = crawl.bench_state(spark, SF_DIR, mult, seeds_raw=seeds_raw)
    # warm at the SAME mult (same plan shape): the crossJoin-expanded plan
    # codegen-compiles differently from mult=1, and the regex-heavy
    # canonicalize compile dwarfs a steady-state run
    crawl.bench_round(spark, SF_DIR, mult=mult, seeds_raw=seeds_raw,
                      n_seeds=n_seeds, state=state)
    (_, n_scheduled), dt = _timed_best(
        lambda: crawl.bench_round(spark, SF_DIR, mult=mult,
                                  seeds_raw=seeds_raw, n_seeds=n_seeds,
                                  state=state),
        spark=spark, repin=[seeds_raw, *state],
    )
    timings["frontier_crawl_round"] = round(dt, 4)
    frontier_urls_per_sec = round(n_seeds / dt, 1)

    # Extract throughput: the full decode -> boilerplate -> 3-model chain
    # over a parquet pages table. Sized to the parallelism (>=3.2k
    # pages/core, >=100k at local[32]): at the raw sf0.1 table size (24k
    # rows over 32 cores) fixed stage/Arrow overhead dominates the timing
    # and the rows/sec number stops tracking engine throughput.
    n_extract = max(24000 if "0.1" in SF_DIR else 2000, CPUS * 3200)
    n_rows_ex, dt_ex = _extract_over_parquet(spark, n_extract)
    timings["pages_extract_pipeline"] = round(dt_ex, 4)
    row_counts["pages_extract_pipeline"] = n_rows_ex
    extract_rows_per_sec = round(n_rows_ex / dt_ex, 1)

    total = round(sum(timings.values()), 4)
    # North-rule evidence rider: the latest two-parallelism-level scaling
    # measurement (tools/scaling_bench.py --update-baseline writes
    # SCALING.json). Reported here so BENCH_r{N}.json carries throughput
    # at both levels + efficiency, per the BASELINE.json criterion.
    scaling = None
    scaling_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "SCALING.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as f:
            scaling = json.load(f)
    print(
        json.dumps(
            {
                "metric": "headline query wall time (sum)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": _sf_of(SF_DIR),
                "cpus": CPUS,
                "rows": row_counts,
                "frontier_urls_per_sec": frontier_urls_per_sec,
                "frontier_urls_scheduled": n_scheduled,
                "extract_rows_per_sec": extract_rows_per_sec,
                "timing": (
                    f"min of up to {REPS} runs per query within a "
                    f"{BUDGET_SEC:.0f}s total budget (noisy-box capability "
                    f"estimate)"
                ),
                "scaling": scaling,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
