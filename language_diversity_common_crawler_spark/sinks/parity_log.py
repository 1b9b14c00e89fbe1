"""W1/W2 — the reference's text sinks.

W1: 8-column pipe-delimited log, header + one row per record
(/root/reference/src/repos/file_repo.py:27-34):
    meta|http_header|detectfast|langid|cld2|pre-detectfast|pre-langid|pre-cld2
Formatting parity: the reference f-strings raw Python objects, so
- meta None → the literal string 'None' (quirk #1),
- normalized precision is the *string* '0' (quirk #2,
  language_identification_handler.py:37) while real precisions render as
  Python floats ('7500.0').

At scale the results land in parquet/Iceberg (`write_results`); the exact
text log is a PARITY ARTIFACT for golden tests — written deterministically
ordered. The reference's 100-record buffered flush (repo_handler.py:57-63)
maps to columnar batch writes / snapshot commits and needs no emulation.

W2: the text of the accuracy and unknown stats files (file_repo.py:35-38)
— formatted from the single-row ``accuracy_stats``/``unknown_stats``
aggregates, reproducing stats/accuracy.py:41-52 and unknown.py:30-41. The
W4 JSON dataset dump is the ``experiment_dataset`` query's projection.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _fmt_prec(lang_col: str, prec_col: str):
    """Python-str formatting of the precision value (quirk #2)."""
    p = F.col(prec_col)
    as_py_float = F.when(
        p == F.round(p, 0), F.concat(F.format_number(p, 0).cast("string"), F.lit(".0"))
    ).otherwise(p.cast("string"))
    # format_number adds thousands separators — strip them
    as_py_float = F.regexp_replace(as_py_float, ",", "")
    return F.when(F.col(lang_col) == "un", F.lit("0")).otherwise(as_py_float)


def log_lines(preds: DataFrame) -> DataFrame:
    """One string column `line`, exactly file_repo.py:34, plus order keys."""
    line = F.concat_ws(
        "|",
        F.coalesce(F.col("meta"), F.lit("None")),
        F.col("http_header"),
        F.col("df_lang"),
        F.col("li_lang"),
        F.col("cld_lang"),
        _fmt_prec("df_lang", "df_prec"),
        _fmt_prec("li_lang", "li_prec"),
        _fmt_prec("cld_lang", "cld_prec"),
    )
    return preds.select(F.col("warc_ts"), F.col("url"), line.alias("line"))


HEADER = "meta|http_header|detectfast|langid|cld2|pre-detectfast|pre-langid|pre-cld2"


def write_parity_log(preds: DataFrame, path: str) -> None:
    """Exact log file, record order = warc_ts (the scan order of the
    reference's sequential loop). Small-output artifact: single file."""
    rows = log_lines(preds).orderBy("warc_ts", "url").select("line").collect()
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(HEADER + "\n")
        for r in rows:
            f.write(r.line + "\n")


def write_results(preds: DataFrame, path: str, partition_by: str = "segment") -> None:
    """The scale sink: parquet partitioned by segment (Iceberg-shaped)."""
    cols = [
        "url", "warc_ts", "segment", "meta", "http_header", "uri", "id", "len",
        "df_lang", "df_prec", "li_lang", "li_prec", "cld_lang", "cld_prec",
    ]
    preds.select(*cols).write.mode("overwrite").partitionBy(partition_by).parquet(path)


def format_accuracy(row) -> str:
    """stats/accuracy.py:41-52 format over the accuracy_stats agg row."""
    s = row["size"]

    def pct(c):
        return row[c] * 100 / s

    return (
        "amount of different prediction than the other two language models\n"
        f"{pct('wrong_detect_fast')}% {pct('wrong_langid')}% {pct('wrong_cld2')}%\n"
        "amount of prediction with unknown prediction in the other two models.\n"
        f"{pct('uniq_detect_fast')}% {pct('uniq_langid')}% {pct('uniq_cld2')}%\n"
        f"the number of perfect matches are: {row['match_cnt'] * 100 / s}%"
    )


def format_unknown(row) -> str:
    """stats/unknown.py:30-41 format."""
    s = row["size"]
    return (
        f"{row['unknown_df'] * 100 / s}% {row['unknown_li'] * 100 / s}% "
        f"{row['unknown_cld'] * 100 / s}%\n"
    )
