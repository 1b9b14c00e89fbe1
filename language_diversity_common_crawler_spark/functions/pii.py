"""PII redaction for LLM training-data pipelines.

Replaces emails, IPv4 addresses, and phone numbers with typed placeholder
tokens and counts each class per document — the C4/Dolma-style scrub stage
that sits between extraction and training-set selection. The reference
computes no PII handling (training-data extension per the build brief).

Scale shape: a pure whole-stage-codegen JVM map (per class: one
regexp_extract_all count on the text that class sees, then one
regexp_replace) — shuffle-free, linear, holds at 100 TB. No Python UDF
anywhere.

Cross-dialect notes:
- Patterns avoid everything RE2 (DuckDB) lacks: no backreferences, no
  lookaround. Greedy-quantifier semantics on these patterns are identical
  leftmost-first in Java regex and RE2.
- Regex literals go through dialect.rx (Spark SQL escape processing).
- Class counts are taken AT REDACTION TIME (regexp_extract_all on the
  text each class actually sees), never from the redacted output —
  pre-existing literal placeholder tokens in the input must not inflate
  a count.
- Each class's staged text alias is multiply-referenced (count + next
  replace), and lambda-free aliases survive CollapseProject in both
  engines, so each class costs two regex passes per row, not four.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dialect import cast_str, rx

EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RX = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PHONE_RX = r"\+\d{1,2}[- ]\d{3}[- ]\d{4}"

# (placeholder token, output count column) per class, in application order:
# emails first (their host parts contain dots but no digits, so the IPv4
# pass cannot fire inside them either way; order is still pinned so both
# engines redact byte-identically).
CLASSES = [
    ("<EMAIL>", EMAIL_RX, "n_emails"),
    ("<IP>", IPV4_RX, "n_ips"),
    ("<PHONE>", PHONE_RX, "n_phones"),
]


def match_count_expr(text: str, pattern: str, dialect: str) -> str:
    """Number of matches of ``pattern`` in a text COLUMN REFERENCE.

    Counted with regexp_extract_all at redaction time — counting
    placeholder substrings in the redacted output would be inflated by
    input text that already contains a literal '<EMAIL>'/'<IP>'/'<PHONE>'
    (previously-scrubbed or documentation text is common on the real
    web). Group index 0 is explicit: Spark's default is group 1. The NULL
    guard is load-bearing: Spark's size(NULL) is -1 whenever ANSI mode is
    off and legacy.sizeOfNull applies — the guard pins NULL-in → NULL-count
    regardless of session flags, matching DuckDB's len(NULL)."""
    fn = "len" if dialect == "duckdb" else "size"
    return (
        f"CASE WHEN {text} IS NULL THEN NULL ELSE "
        f"CAST({fn}(regexp_extract_all({text}, {rx(pattern, dialect)}, 0)) "
        f"AS BIGINT) END"
    )


def demo_payload_expr(dialect: str) -> str:
    """Deterministic PII-bearing payload over (doc_id, text) — the synthetic
    documents corpus is PII-free word salad, so tests/oracles inject a
    per-class mix keyed on doc_id (some docs get none of a class).

    text is coalesced: DuckDB's concat() SKIPS null arguments while
    Spark's returns NULL — an uncoalesced NULL text row would diverge
    between the engines (the round-1 ADVICE parity trap)."""
    did = cast_str("doc_id", dialect)
    return (
        "concat(coalesce(text, ''),"
        " CASE WHEN doc_id % 7 = 0 THEN ''"
        f" ELSE concat(' contact user', {did}, '@mail.example.com') END,"
        " CASE WHEN doc_id % 3 = 0 THEN ' cc Admin@Example.ORG' ELSE '' END,"
        " CASE WHEN doc_id % 2 = 0 THEN concat(' ip 10.',"
        f" {cast_str('doc_id % 256', dialect)}, '.0.',"
        f" {cast_str('doc_id % 100', dialect)}) ELSE '' END,"
        " CASE WHEN doc_id % 5 = 0 THEN concat(' tel +1-555-',"
        f" {cast_str('1000 + doc_id % 9000', dialect)}) ELSE '' END)"
    )


def with_pii_redaction(df: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id, redacted, n_emails, n_ips, n_phones over any text column.

    Each class is one staged projection: count the matches in the current
    text, THEN replace them — so class k's count reflects exactly the
    redactions applied to the text class k saw (and pre-existing literal
    placeholder tokens in the input never inflate a count). The staged
    text alias is multiply-referenced, so CollapseProject keeps it
    materialized: two regex passes per class, not four."""
    cur = df.select("doc_id", F.col(text_col).alias("__s"))
    done: list[str] = []
    for token, pattern, col in CLASSES:
        cnt = F.expr(match_count_expr("__s", pattern, "spark")).alias(col)
        nxt = F.expr(
            f"regexp_replace(__s, {rx(pattern, 'spark')}, '{token}')"
        ).alias("__s")
        cur = cur.select("doc_id", *done, cnt, nxt)
        done.append(col)
    return cur.select("doc_id", F.col("__s").alias("redacted"), *done)


def sql_pii_redaction(table: str, payload: str | None = None) -> str:
    """DuckDB twin of with_pii_redaction over demo_payload_expr (or a
    caller-supplied payload expression) — same count-then-replace
    staging, one nested SELECT per class."""
    pay = payload or demo_payload_expr("duckdb")
    inner = f"SELECT doc_id, {pay} AS __s FROM {table}"
    done: list[str] = []
    for token, pattern, col in CLASSES:
        cnt = f"{match_count_expr('__s', pattern, 'duckdb')} AS {col}"
        nxt = (
            f"regexp_replace(__s, {rx(pattern, 'duckdb')}, "
            f"'{token}', 'g') AS __s"
        )
        cols = ", ".join(["doc_id", *done, cnt, nxt])
        inner = f"SELECT {cols} FROM ({inner})"
        done.append(col)
    sel = ", ".join(["doc_id", "__s AS redacted", *done])
    return f"SELECT {sel} FROM ({inner})"
