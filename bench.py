#!/usr/bin/env python3
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line::

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": <sf>, ...}

The headline set covers every layer of the engine:
  - the reference's primary analytical query (A1 language histogram via the
    three-model lang-ID pandas UDF),
  - the full extract pipeline on synthetic pages (decode -> boilerplate ->
    lang-ID, SURVEY.md §3.1),
  - training-data ops (MinHash-LSH dedup, span removal, decontamination),
  - the frontier (north rule): canonicalize -> seen anti-join -> robots
    broadcast join -> per-host politeness schedule, plus one production
    crawl round (``frontier_round``).

Extra fields beyond the contract, the two throughputs BASELINE.json's
metric names:

- ``frontier_urls_per_sec``: frontier URLs scheduled per second of one
  production crawl round (``crawl.run_round``, round 1 of a crawl seeded
  from the orders-derived URLs), ``frontier_urls_scheduled`` /
  ``queries.frontier_crawl_round``. ``frontier_in_per_sec`` is the same
  round's frontier URLs in (round 0's ``n_frontier``) per second.
- ``extract_rows_per_sec``: extracted-text rows per second of the extract
  pipeline over ``EXTRACT_PAGES`` synthetic pages.

The work is fixed, whatever ``SPARK_GRAFT_CPUS`` is, so runs on different
core counts compare like with like; ``cpus``, ``frontier_budget`` and
``extract_pages`` ride in the JSON line. Scaling efficiency across
parallelism levels is measured separately by ``tools/scaling_bench.py``
and recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

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
# Fixed work sizes. EXTRACT_PAGES is the page count every run on <= 7 cpus
# used before the sizes were pinned. The seeds' 50 hosts at FRONTIER_BUDGET
# slots each schedule 30,000 URLs at sf0.1 (~3,000 seeds per host).
EXTRACT_PAGES = 24_000
FRONTIER_BUDGET = 600


def _timed_best(thunk, spark=None):
    """Min wall time of ``thunk()`` over REPS runs (capability estimate).
    With ``spark`` given, the SQL cache is cleared before each rep so
    internally-persisted relations don't hand later reps a warm hit. Reps
    after the first are skipped once the whole-bench BUDGET_SEC is
    exhausted. Returns (last_result, best_seconds)."""
    best = float("inf")
    result = None
    for i in range(REPS):
        if i > 0 and time.monotonic() - _T_START > BUDGET_SEC:
            break
        if spark is not None:
            spark.catalog.clearCache()
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


# parquet files of the extract's pages table: the count the earlier
# repartition(32) Spark write produced, so the extract scans the same splits
PAGES_FILES = 32


def _write_pages(spark, path: str, n_pages: int) -> None:
    """``n_pages`` synthetic pages (seed 42) as PAGES_FILES parquet files,
    written on the driver with pyarrow the way
    ``pages.write_golden_extract_parquet`` writes its golden file. A Spark
    write of the generated rows would ship them inside its tasks."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from language_diversity_common_crawler_spark.sources import pages as pg

    schema = to_arrow_schema(spark.createDataFrame([], pg.PAGES_SCHEMA).schema)
    rows = pg.generate_pages(n_pages, seed=42)
    step = -(-n_pages // PAGES_FILES)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i in range(PAGES_FILES):
        pq.write_table(
            pa.Table.from_pylist(rows[i * step:(i + 1) * step], schema=schema),
            os.path.join(tmp, f"part-{i:05d}.parquet"),
        )
    os.replace(tmp, path)


def _extract_over_parquet(spark, n_pages: int) -> tuple[int, float]:
    """Time the extract pipeline over a parquet pages table (pre-written
    once, cached in /tmp) — measures the pipeline, not driver-side row
    generation."""
    from language_diversity_common_crawler_spark.plans.pipeline import (
        extract_pipeline,
    )

    path = f"/tmp/bench_pages_{n_pages}"
    if not os.path.isdir(path):
        _write_pages(spark, path, n_pages)
    df = spark.read.parquet(path)
    out = extract_pipeline(df)
    # the aggregate references ALL THREE models' outputs (the models are
    # one UDF, so an agg of df_lang alone would still run all three)
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


def robots_rules(spark, sf_dir: str):
    """Robots rules of the seed hosts, one per nation row: every third host
    disallows ``/o/1``, the others ``/private/``."""
    from language_diversity_common_crawler_spark.frontier import robots

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return robots.rules_from_bodies(nation.select(
        F.concat(F.lit("host"), F.col("n_nationkey").cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit("User-agent: *\nDisallow: "),
            F.when(F.col("n_nationkey") % 3 == 0, F.lit("/o/1"))
            .otherwise(F.lit("/private/")),
        ).alias("robots_txt"),
    ))


def frontier_round(spark, sf_dir: str, work: str):
    """Time the production crawl round, ``crawl.run_round``: round 1 of a
    crawl seeded with the orders-derived URLs the ``frontier_*`` queries
    use, under ``robots_rules``, ``FRONTIER_BUDGET`` slots per host.

    Round 0 is committed once under ``work/round0``, untimed, and its seen
    set compacted, so the round anti-joins the bucketed seen table as a
    long crawl's does. The warm-up round and each timed rep run on their
    own copy of that checkpoint, all made before the timer starts, so
    every rep times the same round. Returns ([(frontier URLs in,
    URLs scheduled)] per timed rep, read from the rep's manifests; best
    seconds)."""
    import __spark_entry__ as entrymod
    from language_diversity_common_crawler_spark.frontier import crawl

    src = os.path.join(work, "round0")
    crawl.init_crawl(
        spark, entrymod._seeds_df(spark, sf_dir).select("url_canon", "host"),
        src)
    crawl.ParquetStateBackend(spark, src).compact_seen(0)
    copies = [shutil.copytree(src, os.path.join(work, f"rep{i}"))
              for i in range(REPS + 1)]
    rules = robots_rules(spark, sf_dir)

    def run(ckpt):
        crawl.run_round(spark, ckpt, budget=FRONTIER_BUDGET, rules=rules)
        return ckpt

    run(copies.pop())  # warm-up: the JVM's first run of the round's code
    done = []
    _, best = _timed_best(lambda: done.append(run(copies.pop())),
                          spark=spark)
    return [
        (crawl.read_manifest(spark, c, 0)["n_frontier"],
         crawl.read_manifest(spark, c, 1)["n_scheduled"])
        for c in done
    ], best


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

    work = tempfile.mkdtemp(prefix="bench_frontier_")
    try:
        runs, dt = frontier_round(spark, SF_DIR, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    n_in, n_scheduled = runs[-1]
    dt = timings["frontier_crawl_round"] = round(dt, 4)

    n_rows_ex, dt_ex = _extract_over_parquet(spark, EXTRACT_PAGES)
    dt_ex = timings["pages_extract_pipeline"] = round(dt_ex, 4)
    row_counts["pages_extract_pipeline"] = n_rows_ex

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
                "frontier_budget": FRONTIER_BUDGET,
                "extract_pages": EXTRACT_PAGES,
                "rows": row_counts,
                "frontier_urls_per_sec": round(n_scheduled / dt, 1),
                "frontier_urls_scheduled": n_scheduled,
                "frontier_in_per_sec": round(n_in / dt, 1),
                "frontier_urls_in": n_in,
                "extract_rows_per_sec": round(n_rows_ex / dt_ex, 1),
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
