"""Training-set sampling operators (corpus-balance layer).

Two classic web-scale LLM-data operations the reference's histogram analysis
feeds into (the reference measures per-language diversity,
``commands/count_fastwarc_result.sh:5-6``; these operators ACT on that
measurement when assembling a training mix):

- :func:`source_balanced_sample` — cap documents per source/domain so a few
  hot hosts cannot dominate the corpus (the per-domain cap of
  Gopher/FineWeb-style pipelines). Implemented as a quality-ranked
  ``row_number() <= cap`` per source: with a constant rank limit Spark plans
  a ``WindowGroupLimit`` — each map task keeps only its local top-``cap``
  rows per source BEFORE the shuffle, so at 10^10 docs the exchange carries
  O(n_sources x cap) rows, not the corpus.

- :func:`lang_stratified_sample` — deterministic per-language Bernoulli
  downsampling (rebalance the language mix the histogram revealed). The keep
  decision is a pure hash of ``doc_id`` against a per-language rate in basis
  points, so the sample is reproducible row-for-row across engines, runs and
  cluster sizes — no ``rand()`` — and the plan is a shuffle-free
  whole-stage-codegen filter.

Both are built from dialect-shared SQL expressions (see
``functions/dialect.py``) so the driver's DuckDB oracle runs the IDENTICAL
logic: the Spark side evaluates ``F.expr(<expr>('spark'))``, the oracle the
``'duckdb'`` rendering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .hashing import sql_md5_60_salted
from .text_analysis import with_text_stats

# ---------------------------------------------------------------------------
# per-source (domain) balanced sample
# ---------------------------------------------------------------------------

DEFAULT_SOURCE_CAP = 10


def source_balanced_sample(
    df: DataFrame, cap: int = DEFAULT_SOURCE_CAP
) -> DataFrame:
    """Keep the ``cap`` highest-quality documents per ``source``.

    Rank = quality_score DESC, doc_id ASC (deterministic total order —
    doc_id is unique). The constant ``row_number() <= cap`` filter is what
    lets Catalyst rewrite the window into a WindowGroupLimit: a partial
    per-source top-``cap`` runs map-side, the full sort never materializes,
    and the shuffle moves at most ``cap`` rows per source per input task.
    """
    stats = with_text_stats(df).select(
        "doc_id", "source", "lang", "quality_score"
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        stats.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= cap)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "source",
            "lang",
            F.col("quality_score").cast("bigint").alias("quality_score"),
            F.col("sample_rank").cast("int").alias("sample_rank"),
        )
    )


def sql_source_balanced_sample(
    quality_score_sql: str, cap: int = DEFAULT_SOURCE_CAP,
    table: str = "documents",
) -> str:
    """DuckDB oracle for :func:`source_balanced_sample`.

    ``quality_score_sql`` is the 'duckdb'-dialect quality expression over the
    raw ``text`` column (``text_analysis.quality_exprs``)."""
    return f"""
WITH stats AS (
  SELECT doc_id, source, lang, {quality_score_sql} AS quality_score
  FROM {table}
), ranked AS (
  SELECT doc_id, source, lang, quality_score,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY quality_score DESC, doc_id
         ) AS sample_rank
  FROM stats
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, lang,
       CAST(quality_score AS BIGINT) AS quality_score,
       CAST(sample_rank AS INT) AS sample_rank
FROM ranked WHERE sample_rank <= {cap}
"""


# ---------------------------------------------------------------------------
# language-stratified deterministic sample
# ---------------------------------------------------------------------------

# Default rebalance dial for the synthetic corpus: downsample the dominant
# languages hard, keep the tail fully. Rates in basis points of 10,000.
DEFAULT_LANG_RATES_BP: dict[str, int] = {"en": 1500, "de": 4000, "fr": 4000}
DEFAULT_RATE_BP = 9000
_STRAT_SALT = "strat"
_STRAT_MOD = 10_000


def _rate_case_sql(rates_bp: dict[str, int], default_bp: int,
                   lang: str = "lang") -> str:
    """CASE expression mapping a lang code to its keep-rate (identical
    syntax in both dialects — literals only). An empty override dict means
    'uniform default rate' — emit the bare literal (a CASE with no WHEN
    clause is a parse error in both engines)."""
    if not rates_bp:
        return str(default_bp)
    whens = " ".join(
        f"WHEN {lang} = '{code}' THEN {bp}"
        for code, bp in sorted(rates_bp.items())
    )
    return f"CASE {whens} ELSE {default_bp} END"


def strat_keep_sql(
    dialect: str,
    rates_bp: dict[str, int] | None = None,
    default_bp: int = DEFAULT_RATE_BP,
    doc_id: str = "doc_id",
    lang: str = "lang",
) -> tuple[str, str]:
    """(strat_bucket_expr, keep_predicate) in the given dialect.

    Bucket = salted 60-bit md5 of the doc_id string, mod 10,000 — a
    deterministic uniform draw both engines (and plain Python, for tests)
    compute identically. Keep when bucket < the language's rate."""
    rates_bp = DEFAULT_LANG_RATES_BP if rates_bp is None else rates_bp
    id_str = (
        f"CAST({doc_id} AS {'VARCHAR' if dialect == 'duckdb' else 'STRING'})"
    )
    h = sql_md5_60_salted(id_str, _STRAT_SALT, dialect)
    bucket = f"CAST(({h}) % {_STRAT_MOD} AS INT)"
    keep = f"({bucket}) < ({_rate_case_sql(rates_bp, default_bp, lang)})"
    return bucket, keep


def lang_stratified_sample(
    df: DataFrame,
    rates_bp: dict[str, int] | None = None,
    default_bp: int = DEFAULT_RATE_BP,
) -> DataFrame:
    """Deterministic language-stratified Bernoulli sample of ``df``.

    Shuffle-free: one codegen'd filter stage, so it scales linearly with
    input splits and composes with any upstream/downstream operator without
    adding an exchange. Reproducibility beats ``df.sample()`` for training
    corpora: re-runs, retries and different cluster sizes select the same
    rows (a task retry under ``rand()`` silently changes the corpus)."""
    bucket, keep = strat_keep_sql("spark", rates_bp, default_bp)
    return (
        df.withColumn("strat_bucket", F.expr(bucket))
        .filter(F.expr(keep))
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "lang",
            "strat_bucket",
        )
    )


def sql_lang_stratified_sample(
    rates_bp: dict[str, int] | None = None,
    default_bp: int = DEFAULT_RATE_BP,
    table: str = "documents",
) -> str:
    """DuckDB oracle for :func:`lang_stratified_sample`."""
    bucket, keep = strat_keep_sql("duckdb", rates_bp, default_bp)
    return (
        f"SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, "
        f"{bucket} AS strat_bucket\nFROM {table}\nWHERE {keep}"
    )


# ---------------------------------------------------------------------------
# temperature-rebalanced multilingual mix (mC4 / XLM-R style)
# ---------------------------------------------------------------------------

# Canonical multilingual-sampling temperature: target mix proportional to
# p_lang^alpha. Keep-rate derivation: to move the mix from p_l to
# p_l^alpha (renormalized) while retaining ALL of the rarest language,
# keep_rate_l = (c_min / c_l)^(1 - alpha) — the dominant languages are
# downsampled, the tail kept in full.
TEMPERATURE_ALPHA = 0.7


def temperature_rebalanced_sample(
    df: DataFrame, alpha: float = TEMPERATURE_ALPHA
) -> DataFrame:
    """Deterministic temperature-``alpha`` language rebalance of ``df``.

    The per-language keep-rates are computed FROM the corpus (one tiny
    hash aggregation to |languages| rows, gathered with their minimum by
    one global aggregate), broadcast-joined back NULL-safely (a NULL
    ``lang`` is one more language group), and applied with the same
    salted-md5 Bernoulli draw as :func:`lang_stratified_sample` — so the
    corpus itself never shuffles: scan → broadcast-hash-join → codegen
    filter. Reproducible row-for-row across runs, partitionings and
    cluster sizes within an engine (no ``rand()``; rates derive from
    exact integer counts through deterministic double ops). Cross-engine
    the exponent literal is repr-shared so both parse the identical
    double, but ``pow`` itself is Java Math.pow vs libm — a last-ulp
    difference flips ``rate_bp`` only when 10000*(c_min/c_l)^(1-alpha)
    sits within ~1e-11 of a .5 boundary; the gate data is fixed, so a
    local oracle pass is a driver pass, and at corpus scale (no oracle)
    only the within-engine determinism matters."""
    counts = df.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    # the minimum comes from the same single-row aggregate that gathers
    # the count rows: no unpartitioned window, and no second job for a
    # cross-joined min
    per_lang = counts.agg(F.collect_list(F.struct("lang", "cnt")).alias("c"))
    rates = per_lang.select(
        F.explode("c").alias("c"), F.array_min("c.cnt").alias("min_cnt")
    ).select(
        F.col("c.lang").alias("__lang"),
        F.round(
            F.lit(float(_STRAT_MOD))
            * F.pow(
                F.col("min_cnt").cast("double")
                / F.col("c.cnt").cast("double"),
                F.lit(1.0 - alpha),
            )
        ).cast("int").alias("rate_bp"),
    )
    bucket, _ = strat_keep_sql("spark", {}, 0)
    # NULL-safe: a NULL lang is one more language group, never dropped
    return (
        df.join(F.broadcast(rates), F.col("lang").eqNullSafe(F.col("__lang")))
        .withColumn("strat_bucket", F.expr(bucket))
        .filter(F.col("strat_bucket") < F.col("rate_bp"))
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "lang",
            "rate_bp",
            "strat_bucket",
        )
    )


def sql_temperature_rebalanced_sample(
    alpha: float = TEMPERATURE_ALPHA, table: str = "documents"
) -> str:
    """DuckDB oracle for :func:`temperature_rebalanced_sample`."""
    bucket, _ = strat_keep_sql("duckdb", {}, 0, doc_id="d.doc_id")
    exp_lit = repr(1.0 - alpha)
    return f"""
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM {table} GROUP BY lang
), rates AS (
  SELECT lang,
         CAST(round({float(_STRAT_MOD)!r} * power(
           CAST(min(cnt) OVER () AS DOUBLE) / CAST(cnt AS DOUBLE), {exp_lit}
         )) AS INT) AS rate_bp
  FROM counts
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang, r.rate_bp,
       {bucket} AS strat_bucket
FROM {table} d JOIN rates r ON d.lang IS NOT DISTINCT FROM r.lang
WHERE ({bucket}) < r.rate_bp
"""

# ---------------------------------------------------------------------------
# token-budget-thresholded corpus selection (no global sort)
# ---------------------------------------------------------------------------

LANG_TOKEN_BUDGET = 2000


def budget_threshold_selection(
    docs: DataFrame, budget: int = LANG_TOKEN_BUDGET
) -> DataFrame:
    """Per-language token-budget corpus selection WITHOUT a per-language
    global sort: documents are grouped into exact integer quality buckets
    (avg unigram log-prob millis, the CCNet-style score of
    quality_rules.unigram_lm_score), the tiny (lang, score) aggregate is
    cumulated best-score-first with a window, and a whole bucket is kept
    iff it STARTS within the budget (offset-pagination semantics, so the
    boundary bucket is included whole — deterministic, no intra-bucket
    tiebreak needed).

    This is the scale pattern for "take the best N tokens per language
    from 10^10 docs": the corpus sees two hash aggregates and one
    broadcast membership join; the only window runs over the
    (lang, score) relation whose cardinality is bounded by the score
    grid, not the corpus. Returns the per-language selection summary
    (selected docs are the broadcast-join fixpoint; the summary keeps
    the result stable and small).

    The score comes from quality_rules.unigram_lm_score itself (with
    lang carried through its aggregate) — ONE score recipe, so a doc's
    standalone score always equals the bucket this selection placed it
    in."""
    from .quality_rules import unigram_lm_score

    scored = unigram_lm_score(docs, extra_cols=("lang",)).withColumnRenamed(
        "avg_logprob_milli", "score"
    )
    buckets = scored.groupBy("lang", "score").agg(
        F.sum("n_tokens").alias("bucket_tokens"),
        F.count(F.lit(1)).alias("bucket_docs"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept = buckets.withColumn(
        "cum_tokens", F.sum("bucket_tokens").over(w)
    ).filter(F.col("cum_tokens") - F.col("bucket_tokens") < budget)
    return kept.groupBy("lang").agg(
        F.sum("bucket_docs").cast("bigint").alias("n_docs_selected"),
        F.sum("bucket_tokens").cast("bigint").alias("tokens_selected"),
        F.min("score").cast("bigint").alias("min_score_kept"),
    )


def sql_budget_threshold_selection(
    table: str, budget: int = LANG_TOKEN_BUDGET
) -> str:
    """DuckDB twin of :func:`budget_threshold_selection` (score CTE is
    the sql_unigram_lm_score twin itself — one recipe, no drift)."""
    from .quality_rules import sql_unigram_lm_score

    score_sql = sql_unigram_lm_score(table, extra_cols=("lang",))
    return f"""
WITH scored AS (
  SELECT doc_id, lang, n_tokens, avg_logprob_milli AS score
  FROM ({score_sql})),
buckets AS (
  SELECT lang, score, sum(n_tokens) AS bucket_tokens,
         count(*) AS bucket_docs
  FROM scored GROUP BY lang, score),
kept AS (
  SELECT * FROM (
    SELECT lang, score, bucket_tokens, bucket_docs,
           sum(bucket_tokens) OVER (PARTITION BY lang ORDER BY score DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
    FROM buckets)
  WHERE cum_tokens - bucket_tokens < {budget})
SELECT lang, CAST(sum(bucket_docs) AS BIGINT) AS n_docs_selected,
       CAST(sum(bucket_tokens) AS BIGINT) AS tokens_selected,
       CAST(min(score) AS BIGINT) AS min_score_kept
FROM kept GROUP BY lang
"""


# ---------------------------------------------------------------------------
# language-deficit crawl-budget allocation
# ---------------------------------------------------------------------------

DEFICIT_BUDGET_SLOTS = 64


def lang_deficit_budget(
    docs: DataFrame, extra_slots: int = DEFICIT_BUDGET_SLOTS
) -> DataFrame:
    """Allocate crawl budget toward LANGUAGE-DIVERSITY deficit — the
    closed loop the reference's analysis implies: it MEASURES per-language
    representation (``commands/count_fastwarc_result.sh``); this operator
    FEEDS the measurement back into the frontier, giving more fetch slots
    to the sources that supply under-represented languages (the
    crawl-side dual of :func:`temperature_rebalanced_sample`, which
    rebalances after the fact by discarding).

    Exact-integer recipe (no floats anywhere, so the driver's value-hash
    gate is meaningful): with ``total`` docs over ``n_langs`` languages,
    a language's scaled deficit is ``greatest(0, total - n_langs*cnt)``
    — the uniform-target shortfall cross-multiplied by ``n_langs`` so it
    stays integral. A source scores ``sum_l cnt(source,l)*deficit(l)``
    and receives ``1 + (extra_slots*score) DIV sum(scores)`` fetch slots
    (every source keeps a floor of 1; DIV truncates and both operands
    are non-negative, so Spark's DIV and DuckDB's // agree).

    Scale shape (10^10 docs): the corpus is scanned ONCE and sees ONE
    exchange — the ``groupBy(source, lang)`` aggregate with map-side
    partials. Everything downstream (lang totals, corpus total, n_langs,
    score normalization) is computed with WINDOW functions over that
    n_sources x n_langs relation in the SAME plan branch — a
    join/crossJoin formulation was rejected because Catalyst re-plans
    (doesn't reuse) a DataFrame referenced from multiple branches,
    which re-scanned the corpus six times. The tiny windows route
    through single-partition exchanges that carry dimension-table
    cardinality only. The budget table then enters
    ``frontier.scheduler.politeness_schedule`` exactly like the PageRank
    budgets (host-keyed broadcast join, WindowGroupLimit intact).

    Overflow bound: ``deficit < n_langs * total`` and a source's score is
    ``Σ_l cnt*deficit < total * n_langs * total``, so BIGINT holds while
    ``n_langs * total² < 2^63`` — with ~200 languages that is
    total ≲ 2*10^8 docs. Spark wraps silently past it while DuckDB
    raises, so the engines diverge DIFFERENTLY, not just wrongly. The
    documented scale dial (same convention as
    ``stats.quality_length_moments``):
    once total approaches 2^31/√n_langs, quantize the deficit down by a
    fixed power-of-two divisor — ``deficit DIV 2^q`` with
    q = ceil(log2(n_langs·total²/2^62)) — before the cnt·deficit
    product; budgets are a ratio of scores, so a shared divisor leaves
    the allocation identical up to the DIV floor."""
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_lang = Window.partitionBy("lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sl = (
        docs.filter(F.col("lang").isNotNull())
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wide = (
        sl.withColumn("lang_cnt", F.sum("cnt").over(w_lang))
        .withColumn("total", F.sum("cnt").over(w_all))
        .withColumn("dr", F.dense_rank().over(Window.orderBy("lang")))
        .withColumn("n_langs", F.max("dr").over(w_all))
        .withColumn(
            "deficit",
            F.greatest(
                F.lit(0).cast("bigint"),
                F.col("total") - F.col("n_langs") * F.col("lang_cnt"),
            ),
        )
    )
    scores = wide.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_docs"),
        F.sum(F.col("cnt") * F.col("deficit")).cast("bigint").alias("score"),
    )
    return (
        scores.withColumn(
            "score_sum",
            F.greatest(F.sum("score").over(w_all), F.lit(1).cast("bigint")),
        )
        .select(
            "source",
            "n_docs",
            "score",
            (
                F.lit(1).cast("bigint")
                + F.expr(f"({extra_slots} * score) DIV score_sum")
            ).alias("budget"),
        )
    )


def sql_lang_deficit_budget(
    table: str = "documents", extra_slots: int = DEFICIT_BUDGET_SLOTS
) -> str:
    """DuckDB twin of :func:`lang_deficit_budget` — same single-branch
    window formulation (// is DuckDB's integer division; operands are
    non-negative so it matches Spark's DIV)."""
    return f"""
WITH sl AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
  FROM {table} WHERE lang IS NOT NULL GROUP BY source, lang),
wide AS (
  SELECT source, cnt,
         CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS lang_cnt,
         CAST(sum(cnt) OVER () AS BIGINT) AS total,
         dense_rank() OVER (ORDER BY lang) AS dr
  FROM sl),
wide2 AS (
  SELECT *, CAST(max(dr) OVER () AS BIGINT) AS n_langs FROM wide),
d AS (
  SELECT source, cnt,
         greatest(CAST(0 AS BIGINT), total - n_langs * lang_cnt) AS deficit
  FROM wide2),
scores AS (
  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
         CAST(sum(cnt * deficit) AS BIGINT) AS score
  FROM d GROUP BY source),
s2 AS (
  SELECT *, greatest(CAST(sum(score) OVER () AS BIGINT),
                     CAST(1 AS BIGINT)) AS score_sum
  FROM scores)
SELECT source, n_docs, score,
       CAST(1 AS BIGINT) + CAST(({extra_slots} * score) // score_sum
                                AS BIGINT) AS budget
FROM s2
"""


# ---------------------------------------------------------------------------
# training-mix epoch plan (upsampling dual of temperature rebalancing)
# ---------------------------------------------------------------------------

MIX_ALPHA = 0.5
MIX_BUDGET_TOKENS = 2_000_000


def mixing_epoch_plan(
    docs: DataFrame, alpha: float = MIX_ALPHA,
    budget: int = MIX_BUDGET_TOKENS,
) -> DataFrame:
    """LLaMA-style data-mixing table: given the per-language token
    supply, how many EPOCHS of each language a ``budget``-token training
    run should take, with mixing weights w_l proportional to T_l^alpha
    (alpha<1 flattens the mix toward low-resource languages — the
    upsampling dual of :func:`temperature_rebalanced_sample`, which
    discards; real runs repeat scarce languages instead).

    epochs_milli = round(1000 * budget * w_l / T_l); planned_tokens =
    epochs_milli * T_l // 1000 (exact integer from the quantized epochs,
    so the plan's token accounting is engine-identical). The pow carries
    the same documented last-ulp caveat as temperature_rebalanced_sample
    (repr-shared literals; a flip needs the product to sit within ~1e-11
    of a .5 boundary on fixed gate data).

    Scale shape: ONE corpus exchange (the lang aggregate with map-side
    combine); weights and normalization are windows over the
    |languages|-row relation in the same plan branch."""
    from .text_analysis import token_stats_exprs

    exprs = token_stats_exprs("text", "spark")
    per = docs.select(
        "lang", F.expr(exprs["n_bpe_tokens"]).alias("toks")
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("total_tokens"),
    )
    w_all = Window.partitionBy()
    wnum = F.pow(F.col("total_tokens").cast("double"), F.lit(float(alpha)))
    staged = agg.withColumn("wnum", wnum).withColumn(
        "wsum", F.sum("wnum").over(w_all)
    )
    # total_tokens = 0 (a lang whose docs all normalize empty) would give
    # 0.0/0.0 = NaN — Spark casts NaN->0 but DuckDB's BIGINT cast raises,
    # so guard explicitly (same device as quality_rules' n_words = 0 CASE)
    epochs = F.when(
        F.col("total_tokens") == 0, F.lit(0).cast("bigint")
    ).otherwise(
        F.round(
            F.lit(float(1000 * budget)) * F.col("wnum")
            / F.col("wsum") / F.col("total_tokens").cast("double")
        ).cast("bigint")
    )
    return staged.select(
        "lang", "n_docs", "total_tokens",
        epochs.alias("epochs_milli"),
    ).withColumn(
        "planned_tokens",
        F.expr("(epochs_milli * total_tokens) DIV 1000"),
    )


def sql_mixing_epoch_plan(
    table: str = "documents", alpha: float = MIX_ALPHA,
    budget: int = MIX_BUDGET_TOKENS,
) -> str:
    """DuckDB twin of :func:`mixing_epoch_plan` (repr-shared float
    literals; // matches DIV on non-negative operands)."""
    from .text_analysis import token_stats_exprs

    toks = token_stats_exprs("text", "duckdb")["n_bpe_tokens"]
    return f"""
WITH per AS (SELECT lang, {toks} AS toks FROM {table}),
agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(toks) AS BIGINT) AS total_tokens
  FROM per GROUP BY lang),
staged AS (
  SELECT *, pow(CAST(total_tokens AS DOUBLE), {float(alpha)!r}) AS wnum
  FROM agg),
normed AS (SELECT *, sum(wnum) OVER () AS wsum FROM staged),
planned AS (
  SELECT lang, n_docs, total_tokens,
         CASE WHEN total_tokens = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(round({float(1000 * budget)!r} * wnum / wsum
                         / CAST(total_tokens AS DOUBLE)) AS BIGINT)
         END AS epochs_milli
  FROM normed)
SELECT lang, n_docs, total_tokens, epochs_milli,
       (epochs_milli * total_tokens) // 1000 AS planned_tokens
FROM planned
"""
