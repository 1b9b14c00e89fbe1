"""F3/A7/K2 — fixed-language cross-tab (commands/count_fix_lang.sh:8-11).

Fix one model's prediction to a language; count the other two models'
predicted languages; sort desc by count (K2, `sort -k3 -rn`).
Spark: explode (model, lang) pairs → ONE hash aggregate (the same idiom
as operators/histogram.py A1). The fixed-language test is a CASE inside
the explode, not a Filter: Catalyst pushes a Filter on a prediction
column below the projection of the one model UDF, which then runs twice
per row (caught by tests/test_plan_shape.py). An earlier two-group-bys-
unioned shape re-planned the source once per branch, so the upstream
model UDFs executed twice over every row (caught by the plan audit);
the single-pass explode computes each prediction once and shuffles one
tiny (model, lang) key space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.langspec import MODEL_PREFIX, MODELS


def fixed_lang_crosstab(preds: DataFrame, fixed_model: str, fixed_lang: str) -> DataFrame:
    others = [m for m in MODELS if m != fixed_model]
    fixed_col = f"{MODEL_PREFIX[fixed_model]}_lang"
    pairs = F.array(*[
        F.struct(
            F.lit(m).alias("model"),
            F.col(f"{MODEL_PREFIX[m]}_lang").alias("lang"),
        )
        for m in others
    ])
    return (
        preds.select(F.explode(
            F.when(F.col(fixed_col) == fixed_lang, pairs)).alias("p"))
        .groupBy(F.col("p.model").alias("model"), F.col("p.lang").alias("lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select("model", "lang", "cnt")
        .orderBy(F.desc("cnt"), "model", "lang")
    )


def sql_fixed_lang_crosstab(preds_select: str, fixed_model: str, fixed_lang: str) -> str:
    others = [m for m in MODELS if m != fixed_model]
    fixed_col = f"{MODEL_PREFIX[fixed_model]}_lang"
    parts = []
    for m in others:
        c = f"{MODEL_PREFIX[m]}_lang"
        parts.append(
            f"SELECT '{m}' AS model, {c} AS lang, CAST(count(*) AS BIGINT) AS cnt "
            f"FROM preds WHERE {fixed_col} = '{fixed_lang}' GROUP BY {c}"
        )
    union = " UNION ALL ".join(parts)
    return (
        f"WITH preds AS ({preds_select})\n"
        f"SELECT model, lang, cnt FROM ({union}) ORDER BY cnt DESC, model, lang"
    )
