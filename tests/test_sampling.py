"""Training-set sampling operators (functions/sampling.py).

Covers: per-source cap semantics + determinism, the WindowGroupLimit plan
shape the cap relies on at scale, and row-exact parity of the stratified
sample against a plain-Python oracle of the same salted-hash draw.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from language_diversity_common_crawler_spark.functions import sampling
from language_diversity_common_crawler_spark.functions.hashing import py_md5_60

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_source_cap_holds_and_rank_is_dense(spark):
    out = sampling.source_balanced_sample(_docs(spark), cap=3)
    rows = out.collect()
    per_source: dict[str, list] = {}
    for r in rows:
        per_source.setdefault(r["source"], []).append(r)
    assert per_source, "empty sample"
    for source, grp in per_source.items():
        assert len(grp) <= 3, f"{source}: cap exceeded ({len(grp)})"
        ranks = sorted(r["sample_rank"] for r in grp)
        assert ranks == list(range(1, len(grp) + 1)), f"{source}: {ranks}"
        # rank order == (quality desc, doc_id asc)
        grp_sorted = sorted(grp, key=lambda r: r["sample_rank"])
        keys = [(-r["quality_score"], r["doc_id"]) for r in grp_sorted]
        assert keys == sorted(keys), f"{source}: rank order broken"


def test_source_sample_deterministic_across_partitioning(spark):
    docs = _docs(spark)
    a = sampling.source_balanced_sample(docs.repartition(7), cap=2)
    b = sampling.source_balanced_sample(docs.coalesce(1), cap=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_source_sample_plans_window_group_limit(spark):
    """The constant rank-limit filter must compile to WindowGroupLimit
    (map-side partial per-group top-k) — the property that keeps the
    exchange at O(sources x cap) rows at 10^10 docs. A regression to a
    plain Window would silently full-sort every source partition."""
    out = sampling.source_balanced_sample(_docs(spark), cap=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_stratified_sample_matches_python_oracle(spark):
    docs = _docs(spark)
    rates = {"en": 1500, "de": 4000, "fr": 4000}
    out = sampling.lang_stratified_sample(docs, rates_bp=rates,
                                          default_bp=9000)
    got = {(r["doc_id"], r["lang"], r["strat_bucket"]) for r in out.collect()}
    exp = set()
    for r in docs.select("doc_id", "lang").collect():
        bucket = py_md5_60(str(r["doc_id"]), salt="strat") % 10_000
        if bucket < rates.get(r["lang"], 9000):
            exp.add((r["doc_id"], r["lang"], bucket))
    assert got == exp


def test_stratified_sample_is_shuffle_free(spark):
    out = sampling.lang_stratified_sample(_docs(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_stratified_sample_rate_accuracy(spark):
    """Observed keep-rate per language tracks the configured rate (the
    hash draw is uniform; at sf0.001 counts are small, so allow a wide
    binomial band rather than a tight tolerance)."""
    docs = _docs(spark)
    totals = {r["lang"]: r["n"] for r in
              docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {r["lang"]: r["n"] for r in
            sampling.lang_stratified_sample(docs)
            .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in totals.items():
        if n < 20:
            continue
        rate = sampling.DEFAULT_LANG_RATES_BP.get(
            lang, sampling.DEFAULT_RATE_BP) / 10_000
        frac = kept.get(lang, 0) / n
        assert abs(frac - rate) < 0.25, (lang, frac, rate)


def test_stratified_sample_empty_overrides(spark):
    """rates_bp={} means 'uniform default rate, no per-language overrides'
    — must compile (a WHEN-less CASE is a parse error in both engines) and
    keep ~default_bp/10000 of every language."""
    import duckdb

    docs = _docs(spark)
    out = sampling.lang_stratified_sample(docs, rates_bp={}, default_bp=5000)
    n_total = docs.count()
    n_kept = out.count()
    assert 0 < n_kept < n_total
    sql = sampling.sql_lang_stratified_sample(rates_bp={}, default_bp=5000)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    assert con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0] == n_kept


def test_temperature_rebalance_keeps_rarest_language_fully(spark):
    """The rarest language gets rate_bp = 10000 (every doc kept); every
    other language's rate strictly interpolates toward it."""
    docs = _docs(spark)
    totals = {r["lang"]: r["n"] for r in
              docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    rarest = min(totals, key=lambda k: (totals[k], k))
    out = sampling.temperature_rebalanced_sample(docs)
    rates = {r["lang"]: r["rate_bp"] for r in
             out.select("lang", "rate_bp").distinct().collect()}
    kept = {r["lang"]: r["n"] for r in
            out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert rates[rarest] == 10_000
    assert kept[rarest] == totals[rarest]
    for lang, n in totals.items():
        if lang == rarest or n == totals[rarest]:
            continue
        assert rates[lang] < 10_000, (lang, rates[lang])
        # keep-rate formula: (c_min / c_l)^(1-alpha)
        import math
        expected = round(
            10_000 * (totals[rarest] / n) ** (1 - sampling.TEMPERATURE_ALPHA)
        )
        assert abs(rates[lang] - expected) <= 1, (lang, rates[lang], expected)


def test_temperature_alpha_one_is_identity_mix(spark):
    """alpha = 1 means 'keep the natural mix': every rate is 10000 and
    every row survives the draw."""
    docs = _docs(spark)
    out = sampling.temperature_rebalanced_sample(docs, alpha=1.0)
    assert out.count() == docs.count()
    assert out.select("rate_bp").distinct().collect()[0][0] == 10_000


def _docs_with_null_langs(spark):
    """The sf0.001 documents with every 7th doc's lang set to NULL."""
    return _docs(spark).withColumn(
        "lang",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("lang")),
    )


def test_temperature_alpha_one_keeps_null_lang_docs(spark):
    """A NULL lang is one more language group: at alpha = 1 the sampler
    keeps every doc, NULL-lang docs included (the rate join is
    NULL-safe)."""
    docs = _docs_with_null_langs(spark)
    n_null = docs.filter(F.col("lang").isNull()).count()
    assert n_null > 0
    out = sampling.temperature_rebalanced_sample(docs, alpha=1.0)
    assert out.count() == docs.count()
    assert out.filter(F.col("lang").isNull()).count() == n_null


def test_temperature_rebalance_null_langs_match_oracle(spark, tmp_path):
    """With NULL langs in the corpus, Spark and the DuckDB twin keep the
    same rows with the same rates, NULL-lang rows included."""
    import duckdb

    path = str(tmp_path / "docs.parquet")
    _docs_with_null_langs(spark).write.parquet(path)
    docs = spark.read.parquet(path)
    out = sampling.temperature_rebalanced_sample(docs)
    got = sorted(tuple(r) for r in out.collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/*.parquet')"
    )
    want = sorted(
        con.execute(sampling.sql_temperature_rebalanced_sample()).fetchall()
    )
    assert got == want
    assert any(r[1] is None for r in got)


def test_temperature_rebalance_has_no_unpartitioned_window(spark):
    """The minimum count is an aggregate, not ``min(cnt) OVER ()``: an
    unpartitioned window moves all rows to one partition and logs a
    ``WindowExec: No Partition Defined`` WARN on every call."""
    out = sampling.temperature_rebalanced_sample(_docs(spark))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan, plan


def test_temperature_rebalance_corpus_side_is_shuffle_free(spark):
    """The corpus must reach the filter through a broadcast join — the
    only exchange in the plan may be the tiny per-language count agg and
    the broadcast itself, never a hash-partition of the documents scan."""
    plan = (
        sampling.temperature_rebalanced_sample(_docs(spark))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_mixing_epoch_plan_flattens_mix(spark):
    """alpha<1: low-resource languages get MORE epochs than high-resource
    ones, and the planned token mix is flatter than the supply mix."""
    from language_diversity_common_crawler_spark.functions import sampling

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = sampling.mixing_epoch_plan(docs).collect()
    by_lang = {r["lang"]: r for r in rows}
    hi = max(rows, key=lambda r: r["total_tokens"])
    lo = min(rows, key=lambda r: r["total_tokens"])
    assert lo["epochs_milli"] > hi["epochs_milli"]
    # planned share of the low-resource language exceeds its supply share
    tot_sup = sum(r["total_tokens"] for r in rows)
    tot_plan = sum(r["planned_tokens"] for r in rows)
    assert (
        lo["planned_tokens"] / tot_plan > lo["total_tokens"] / tot_sup
    )
    # budget accounting: planned totals land near the budget (quantized)
    assert abs(tot_plan - sampling.MIX_BUDGET_TOKENS) < 0.02 * (
        sampling.MIX_BUDGET_TOKENS
    )
    assert all(r["epochs_milli"] > 0 for r in rows), by_lang
