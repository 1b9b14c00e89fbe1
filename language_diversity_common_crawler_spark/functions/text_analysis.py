"""Text-analysis operators for a large-scale training-data pipeline:
token counting, quality scoring, document fingerprinting.

All expressions are dialect-shared: one SQL string runs as the DuckDB oracle
and (via ``F.expr``) as Spark JVM-side expressions — whole-stage-codegen'd,
no Python in the hot path. The token model is deliberately exact-integer so
parallel aggregation is order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dialect import g_flag, rx
from .hashing import sql_md5_60

# Normalized text: trim + collapse whitespace (Spark regexp_replace is
# global; DuckDB needs the 'g' flag — handled per dialect below).
_STOPWORDS = [" the ", " a ", " of ", " and ", " to "]
_PUNCT = [".", ",", "!", "?", ";", ":"]


_WS = r"\s+"


def _sql_norm(text: str, dialect: str) -> str:
    ws = rx(_WS, dialect)
    return f"regexp_replace(trim({text}), {ws}, ' '{g_flag(dialect)})"


def _sql_count_char(expr: str, ch: str) -> str:
    c = ch.replace("'", "''")
    return f"(length({expr}) - length(replace({expr}, '{c}', '')))"


def token_stats_exprs(text: str, dialect: str) -> dict[str, str]:
    """Column-name → SQL expression for token statistics (inline norm —
    fine for oracle SQL; Spark hot path materializes the norm first, see
    with_text_stats)."""
    return token_stats_from_norm(_sql_norm(text, dialect), dialect)


# BPE-ish pre-tokenizer pattern (GPT-2-style splitting, reduced to the
# character classes that behave identically in Java regex and DuckDB's RE2):
# letter runs, single digits, single non-alphanumeric marks. No backslash
# escapes, so it needs no dialect rx() handling.
_BPE_PAT = "[a-z]+|[0-9]|[^a-z0-9 ]"


def token_stats_from_norm(norm: str, dialect: str = "spark") -> dict[str, str]:
    """Token statistics over an ALREADY-NORMALIZED text expression/column."""
    spaces = _sql_count_char(norm, " ")
    n_tokens = f"CASE WHEN length({norm}) = 0 THEN 0 ELSE {spaces} + 1 END"
    arr_len = "len" if dialect == "duckdb" else "size"
    bpe = (
        f"{arr_len}(regexp_extract_all(lower({norm}), '{_BPE_PAT}', 0))"
    )
    return {
        "n_chars_norm": f"CAST(length({norm}) AS BIGINT)",
        "n_tokens": f"CAST({n_tokens} AS BIGINT)",
        "n_bpe_est": f"CAST(ceil(length({norm}) / 4.0) AS BIGINT)",
        "n_bpe_tokens": f"CAST({bpe} AS BIGINT)",
        "avg_token_len": (
            f"CAST(CASE WHEN ({n_tokens}) = 0 THEN 0.0 "
            f"ELSE (length({norm}) - ({spaces})) * 1.0 / ({n_tokens}) END AS DOUBLE)"
        ),
    }


def quality_exprs(text: str, dialect: str) -> dict[str, str]:
    """Quality-scoring signals (inline norm — oracle SQL path)."""
    norm = _sql_norm(text, dialect)
    return quality_from_norm(norm, f"concat(' ', lower({norm}), ' ')")


def quality_from_norm(norm: str, pad: str) -> dict[str, str]:
    """Quality signals over pre-materialized norm + padded-lower columns."""
    punct = " + ".join(_sql_count_char(norm, p) for p in _PUNCT)
    stop_parts = []
    for w in _STOPWORDS:
        stop_parts.append(
            f"CAST((length({pad}) - length(replace({pad}, '{w}', ''))) / {len(w)} AS BIGINT)"
        )
    stop = " + ".join(stop_parts)
    spaces = _sql_count_char(norm, " ")
    n_tokens = f"CASE WHEN length({norm}) = 0 THEN 0 ELSE {spaces} + 1 END"
    return {
        "punct_cnt": f"CAST({punct} AS BIGINT)",
        "stopword_cnt": f"CAST({stop} AS BIGINT)",
        "stopword_ratio": (
            f"CAST(CASE WHEN ({n_tokens}) = 0 THEN 0.0 "
            f"ELSE ({stop}) * 1.0 / ({n_tokens}) END AS DOUBLE)"
        ),
        "quality_score": (
            f"CAST(CASE WHEN ({n_tokens}) = 0 THEN 0 "
            f"ELSE 100 * ({stop}) + ({n_tokens}) - 5 * ({punct}) END AS BIGINT)"
        ),
    }


def fingerprint_expr(text: str, dialect: str) -> str:
    """Document fingerprint: 60-bit hash of normalized text (exact-dup key)."""
    return sql_md5_60(_sql_norm(text, dialect), dialect)


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Spark side: apply all token/quality expressions via F.expr (JVM).

    The normalized text and its padded-lowercase variant are materialized
    once as intermediate columns: the stat expressions reference them many
    times, and Spark has no CSE across a lambda/alias re-inline — without
    this, every stat column re-runs the whitespace-collapse regex
    (~10 regex passes per row instead of 1)."""
    out = df.withColumn("__norm", F.expr(_sql_norm(text_col, "spark")))
    out = out.withColumn("__pad", F.expr("concat(' ', lower(__norm), ' ')"))
    for name, e in {**token_stats_from_norm("__norm", "spark"),
                    **quality_from_norm("__norm", "__pad")}.items():
        out = out.withColumn(name, F.expr(e))
    out = out.withColumn("fingerprint", F.expr(sql_md5_60("__norm", "spark")))
    return out.drop("__norm", "__pad")


# ---------------------------------------------------------------------------
# fixed-window document chunking (context-window packing prep)
# ---------------------------------------------------------------------------

# Defaults sized for ~512-token contexts at the corpus's ~4 chars/token,
# with 25% overlap so no span is split across a chunk boundary unseen.
CHUNK_WIDTH = 2048
CHUNK_STRIDE = 1536


def document_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = CHUNK_WIDTH,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Split each document into overlapping fixed-width character windows
    — the preprocessing step that turns variable-length documents into
    training-context-sized rows (token-exact packing happens after
    tokenization; character windows with overlap are the standard
    distributed approximation since the tokenizer runs downstream).

    Plan shape: a single codegen ``Generate`` (posexplode of a
    ``sequence()`` of window starts) + ``substring`` projection —
    shuffle-free, linear in input bytes, composes with any upstream
    operator without an exchange. A document shorter than ``width``
    yields exactly one chunk; the final chunk of a longer document is
    the (possibly short) tail, matching the oracle twin exactly.

    The start bound is the smallest stride multiple >= len - width
    (integer arithmetic, shared with the twin): generation stops as soon
    as a window reaches the end of the document, so no chunk is ever
    wholly contained in its predecessor — a naive 0..len-1 bound emits a
    redundant fully-duplicated tail chunk for every doc whose length
    falls in (k*stride, k*stride + (width - stride)], silently
    duplicating training text.
    """
    ln = F.length(F.col(text_col))
    bound = (
        F.floor(
            (F.greatest(ln - F.lit(width), F.lit(0)) + F.lit(stride - 1))
            / F.lit(stride)
        ).cast("bigint")
        * F.lit(stride)
    )
    starts = F.sequence(F.lit(0).cast("bigint"), bound, F.lit(stride))
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.col(text_col),
            F.posexplode(starts).alias("chunk_idx", "__pos"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.expr(f"substring({text_col}, __pos + 1, {width})").alias(
                "chunk_text"
            ),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("int"))
    )


def sql_document_chunks(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = CHUNK_WIDTH,
    stride: int = CHUNK_STRIDE,
) -> str:
    """DuckDB twin of :func:`document_chunks` (range() excludes its stop,
    so the bound is the smallest stride multiple >= len - width, plus 1 —
    the same start set Spark's inclusive sequence() generates)."""
    bound = (
        f"((greatest(length(d.{text_col}) - {width}, 0) + {stride - 1})"
        f" // {stride}) * {stride}"
    )
    return f"""
SELECT d.{id_col},
       CAST(t.pos // {stride} AS INT) AS chunk_idx,
       substring(d.{text_col}, CAST(t.pos + 1 AS INT), {width}) AS chunk_text,
       CAST(length(substring(d.{text_col}, CAST(t.pos + 1 AS INT), {width}))
            AS INT) AS chunk_len
FROM {table} d,
     UNNEST(range(0, ({bound}) + 1, {stride})) AS t(pos)
WHERE d.{text_col} IS NOT NULL
"""
