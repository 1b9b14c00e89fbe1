"""Spark-side language-identification UDFs (SURVEY.md §2.3 L1-L5).

Each model is an Arrow-vectorized pandas UDF returning
``struct<lang:string, precision:double>`` — the Spark surface of the
reference's ``Base.identify(content) -> {'lang','precision'}`` strategy
interface (/root/reference/src/strategies/language_identification/base.py:4-18).

The model fan-out (L5, language_identification_handler.py:32-37) is three
UDF columns added in one ``withColumns`` — column-parallel, one Arrow hop
each, no row loop.
L4 unknown-normalization is applied inside the UDFs (outputs are final).

If the real libraries (resiliparse/langid/pycld2) are importable we delegate
to them (byte-identical to the reference); otherwise the deterministic
:mod:`langspec` classifiers run. Either way the UDF is a pure per-element
map — safe under any Arrow batching (SURVEY.md §7.3).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from . import langspec

_RESULT_TYPE = "lang: string, precision: double"


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


def _make_udf(model: str):
    use_real = langspec.real_models_available()

    def fn(text: pd.Series) -> pd.DataFrame:
        return predict_batch(model, text, use_real)

    fn.__name__ = f"{model}_identify"
    return pandas_udf(_RESULT_TYPE)(fn)


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


_UDF_CACHE: dict[str, object] = {}


def model_udf(model: str):
    if model not in _UDF_CACHE:
        _UDF_CACHE[model] = _make_udf(model)
    return _UDF_CACHE[model]


def with_model_predictions(df: DataFrame, text_col: str = "text") -> DataFrame:
    """L5 fan-out: add df_lang/df_prec, li_lang/li_prec, cld_lang/cld_prec.

    One ``withColumns`` per step (the structs, then their fields) instead
    of a ``withColumn`` per column: PySpark analyses the plan again after
    each call, and the optimized plan is the same either way."""
    structs, fields = {}, {}
    for model in langspec.MODELS:
        p = langspec.MODEL_PREFIX[model]
        structs[f"_{p}"] = model_udf(model)(F.col(text_col))
        fields[f"{p}_lang"] = F.col(f"_{p}.lang")
        fields[f"{p}_prec"] = F.col(f"_{p}.precision")
    return df.withColumns(structs).withColumns(fields).drop(*structs)


def prediction_struct(model: str, text_col: str | Column = "text") -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return model_udf(model)(c)
