"""The reference's end-to-end pipeline as ONE declarative DataFrame program.

Reference lifecycle (SURVEY.md §3.1): per-record handler chain
Decoding → BoilerPlate → Extraction → LangID → Stats → Repo
(/root/reference/src/main.py:18-29,97-102). Here the whole chain is a
column-append program — Catalyst fuses the non-UDF stages into whole-stage
codegen and the three UDF stages into Arrow passes; the early
``filter(isNotNull)`` reproduces the decode short-circuit
(decoding_handler.py:25-29) and lets Spark drop failed rows before any
further work.

Parity quirks honored (SURVEY.md §7.3):
- #1 ``meta`` is always NULL in parity mode: the reference's override drops
  the return value (warc_extraction.py:60-74) AND extraction runs after
  boilerplate removal (main.py:29), so there is never a tag to parse. The
  corrected column (``meta_lang_fixed``) is kept separately.
- #2/#3 are handled in langid_models / operators.stats.

Scale notes: decode+html2text UDFs are the dominant cost and are pure map
work — zero shuffle; the histogram/stats aggregations shuffle only
|languages| × |models| rows after map-side partial agg. `segment` is the
partition column, so per-segment runs are partition-pruned scans.
decode_udf is flagged non-deterministic purely as an optimizer fence so
the F1 filter does not duplicate the decode below itself (see
functions/decode.py docstring): the plan is ArrowEvalPython[decode] →
Filter → ArrowEvalPython[html2text + 3 models], decode exactly once per
row and the two Python worker pools overlapping across batches.

Measured negative result (keep the chain UNFUSED): a variant fusing
decode → boilerplate → all 3 models into ONE pandas UDF (html in once,
one struct out once, ~7→2 large-string boundary crossings) benchmarked
13-20% SLOWER than this chain at pinned local[8] over 270k pages,
interleaved A/B, all model columns referenced so nothing pruned. Each
chained ArrowEvalPython stage gets its own Python worker pool, so
batches overlap across stages (decode batch k+1 runs while models chew
batch k); that pipeline parallelism is worth more than the extra Arrow
crossings, which are cheap next to the per-string codec/regex work.
Caveat when benchmarking this chain: an aggregate that references only
one model's output lets Catalyst prune the other two model UDFs out of
the plan entirely — reference all six model columns or the number is a
1-model number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.boilerplate import html2text_udf
from ..functions.decode import decode_udf
from ..functions.langid_models import with_model_predictions


def extract_pipeline(
    pages: DataFrame,
    size: int | None = None,
    parity: bool = True,
    segment: str | None = None,
) -> DataFrame:
    """pages → decoded/extracted/identified predictions DataFrame.

    Columns added: content (main text), meta, http_header, uri, id, len,
    df_lang/df_prec, li_lang/li_prec, cld_lang/cld_prec.
    """
    df = pages
    if segment is not None:
        # partition-pruned scan (replaces the reference's per-segment rerun,
        # Makefile:13-15)
        df = df.filter(F.col("segment") == segment)
    if size is not None and size >= 0:
        # K1 record limit (main.py:98-99) — Catalyst pushes LocalLimit down
        df = df.limit(size)

    # P1 decode + F1 short-circuit drop
    df = df.withColumn(
        "content_decoded", decode_udf(F.col("html"), F.col("http_charset"))
    )
    df = df.filter(F.col("content_decoded").isNotNull())

    # P2 boilerplate removal → the reference's `content`
    df = df.withColumn("content", html2text_udf(F.col("content_decoded")))

    # P3-P7 extraction (extraction_handler.py:22-26)
    if parity:
        meta = F.lit(None).cast("string")  # quirk #1
    else:
        meta = F.coalesce(
            F.nullif(
                F.regexp_extract(
                    F.col("content_decoded"),
                    '<meta name="language" content="([^"]*)"',
                    1,
                ),
                F.lit(""),
            ),
            F.nullif(
                F.regexp_extract(F.col("content_decoded"), '<html lang="([^"]*)"', 1),
                F.lit(""),
            ),
            F.lit("-"),
        )
    # One withColumns, not one withColumn per column: PySpark analyses the
    # whole plan again after every withColumn/drop. Building this plan and
    # a select of its outputs took 76-85 ms min, 93-113 ms median (of 30,
    # two runs, driver, 4-core box) with one call per column and 53-59 /
    # 71-77 ms this way; the optimized plan is the same (pinned by
    # tests/test_plan_shape.py). `content` stays its own step: in one
    # projection with the non-parity `meta`, the optimizer places meta's
    # common sub-expression elsewhere (same rows, another plan).
    df = df.withColumns({
        "meta": meta,
        "http_header": F.coalesce(
            F.element_at(F.split(F.col("accept_language"), ","), 1), F.lit("-")
        ),
        "uri": F.col("url"),
        "id": F.col("warc_record_id"),
        "len": F.col("content_length"),
    })

    # L1-L5 model fan-out on the extracted text
    df = with_model_predictions(df, "content")
    return df


def decode_error_count(pages: DataFrame, size: int | None = None):
    """A5 — dropped-record counter (decoding_handler.py:14,28)."""
    df = pages
    if size is not None and size >= 0:
        df = df.limit(size)
    df = df.withColumn(
        "content_decoded", decode_udf(F.col("html"), F.col("http_charset"))
    )
    return df.agg(
        F.count(F.when(F.col("content_decoded").isNull(), 1))
        .cast("bigint")
        .alias("decode_errors"),
        F.count(F.lit(1)).cast("bigint").alias("records"),
    )
