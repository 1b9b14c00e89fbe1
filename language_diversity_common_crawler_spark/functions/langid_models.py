"""Spark-side language identification (SURVEY.md §2.3 L1-L5).

The model fan-out (L5, language_identification_handler.py:32-37) is ONE
Arrow-vectorized pandas UDF that runs every model over each batch and
returns one flat struct, so the text crosses the Arrow boundary once for
all three models. Spark chains a UDF-valued input (html2text in the
extract) into the same Arrow pass, and the worker evaluates each chained
argument on its own: every further model UDF would run that input again.
Each model's result is the reference's ``Base.identify(content) ->
{'lang','precision'}`` strategy interface
(/root/reference/src/strategies/language_identification/base.py:4-18).
L4 unknown-normalization is applied inside the UDF (outputs are final).

If the real libraries (resiliparse/langid/pycld2) are importable we delegate
to them (byte-identical to the reference); otherwise the deterministic
:mod:`langspec` classifiers run. Either way the UDF is a pure per-element
map — safe under any Arrow batching (SURVEY.md §7.3).
"""

from __future__ import annotations

import functools
import time

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from . import langspec


def predict_batch(
    model: str, text: pd.Series, use_real: bool | None = None
) -> pd.DataFrame:
    """One model over one pandas batch — real library when importable,
    deterministic langspec otherwise. ``use_real`` lets UDF constructors
    snapshot the import probe once instead of re-probing per batch."""
    if use_real is None:
        use_real = langspec.real_models_available()
    if use_real:  # pragma: no cover - libs absent in this sandbox
        return _predict_real(model, text)
    return langspec.predict_pandas(model, text)


def _predict_real(model: str, text: pd.Series) -> pd.DataFrame:  # pragma: no cover
    """Delegate to the reference's actual libraries, reproducing
    language_identification_handler.py:37 normalization per element."""
    langs, precs = [], []
    if model == "detect_fast":
        from resiliparse.parse.lang import detect_fast as d

        for t in text.fillna(""):
            res = d(t)
            lang, score = res[0], float(res[1])
            if lang == "unknown":
                lang, score = "un", 0.0
            langs.append(lang)
            precs.append(score)
    elif model == "langid":
        import langid as li

        for t in text.fillna(""):
            lang, score = li.classify(t)
            langs.append(lang)
            precs.append(float(score))
    else:
        import pycld2 as cld2
        import regex

        bad = regex.compile(r"[\p{Cc}\p{Cs}]+")
        for t in text.fillna(""):
            try:
                det = cld2.detect(bad.sub("", t))
                langs.append(det[2][0][1])
                precs.append(float(det[2][0][3]))
            except Exception:
                langs.append("un")
                precs.append(0.0)
    return pd.DataFrame({"lang": langs, "precision": precs})


def _fields(models: tuple[str, ...]) -> list[str]:
    """The struct fields of :func:`_identify_udf` over ``models``:
    ``lang``/``precision`` for one model, ``<prefix>_lang``/
    ``<prefix>_prec`` per model (the columns of
    :func:`with_model_predictions`) for several."""
    if len(models) == 1:
        return ["lang", "precision"]
    return [f"{langspec.MODEL_PREFIX[m]}_{f}"
            for m in models for f in ("lang", "prec")]


@functools.cache
def _identify_udf(models: tuple[str, ...] = tuple(langspec.MODELS),
                  timer=None):
    """One pandas UDF running :func:`predict_batch` for each of ``models``
    on every Arrow batch, their results side by side in one flat struct
    (:func:`_fields`). With a ``timer`` (``perf.ModelPerf``), each model's
    ``process_time`` and rows per batch go to its accumulators. The
    real-library probe is snapshot once, here, so a timed UDF runs the
    same models as an untimed one."""
    use_real = langspec.real_models_available()
    names = _fields(models)

    def identify(text: pd.Series) -> pd.DataFrame:
        cols = []
        for m in models:
            t0 = time.process_time()
            res = predict_batch(m, text, use_real)
            if timer is not None:
                timer.seconds[m].add(time.process_time() - t0)
                timer.rows[m].add(len(text))
            cols += [res["lang"], res["precision"]]
        return pd.DataFrame(dict(zip(names, cols)))

    types = ("string", "double") * len(models)
    schema = ", ".join(f"{n} {t}" for n, t in zip(names, types))
    return pandas_udf(schema)(identify)


def _add_predictions(df: DataFrame, text_col: str, identify) -> DataFrame:
    """The L5 fan-out: ``identify``'s one struct column, its fields as
    columns, the struct dropped."""
    return (
        df.withColumn("_lid", identify(F.col(text_col)))
        .withColumns({c: F.col(f"_lid.{c}")
                      for c in _fields(langspec.MODELS)})
        .drop("_lid")
    )


def with_model_predictions(df: DataFrame, text_col: str = "text") -> DataFrame:
    """L5 fan-out: add df_lang/df_prec, li_lang/li_prec, cld_lang/cld_prec
    from one UDF call per row."""
    return _add_predictions(df, text_col, _identify_udf())


def prediction_struct(model: str, text_col: str | Column = "text") -> Column:
    """One model's ``struct<lang, precision>`` (a UDF of its own, so a
    plan can time one model at a time)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return _identify_udf((model,))(c)
