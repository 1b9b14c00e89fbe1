"""Text-analysis operators: fixed-window document chunking (overlap, tail,
coverage, shuffle-free plan) and the quality/length moments report."""

from __future__ import annotations


def test_document_chunks_overlap_and_tail(spark):
    from language_diversity_common_crawler_spark.functions.text_analysis import (
        document_chunks,
    )

    df = spark.createDataFrame(
        [(1, "abcdefghijklmnop"), (2, "xy"), (3, None), (4, "abcdefgh")],
        "doc_id bigint, text string",
    )
    rows = sorted(
        document_chunks(df, width=8, stride=6).collect(),
        key=lambda r: (r.doc_id, r.chunk_idx),
    )
    got = [(r.doc_id, r.chunk_idx, r.chunk_text, r.chunk_len) for r in rows]
    assert got == [
        (1, 0, "abcdefgh", 8),
        (1, 1, "ghijklmn", 8),   # starts at 6: one-char overlap window
        (1, 2, "mnop", 4),       # short tail kept
        (2, 0, "xy", 2),         # doc shorter than width: one chunk
        (4, 0, "abcdefgh", 8),   # len == width: exactly one chunk — a
                                 # naive 0..len-1 start bound would emit a
                                 # second chunk fully contained in the first
    ]                            # NULL text dropped


def test_document_chunks_no_contained_tail(spark):
    """No chunk may be wholly contained in its predecessor: every chunk
    after the first must extend past the previous chunk's end (the
    redundant-tail regression: doc lengths in (k*stride,
    k*stride + width - stride] used to emit a fully-duplicated tail)."""
    from language_diversity_common_crawler_spark.functions.text_analysis import (
        document_chunks,
    )

    # lengths sweeping all residues around the stride period
    docs = [(i, "x" * n) for i, n in enumerate(range(1, 40))]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    rows = document_chunks(df, width=8, stride=6).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r
    for doc_id, chunks in by_doc.items():
        n = len(docs[doc_id][1])
        ends = [
            min(idx * 6 + chunks[idx].chunk_len, n)
            for idx in sorted(chunks)
        ]
        assert ends[-1] == n, (doc_id, ends, n)  # full coverage
        for prev, cur in zip(ends, ends[1:]):
            assert cur > prev, (doc_id, ends)    # each chunk adds content


def test_document_chunks_reconstruct_coverage(spark):
    """Every character position of every document is covered by at least
    one chunk (stride <= width guarantees no gaps)."""
    from pyspark.sql import functions as F

    from language_diversity_common_crawler_spark.functions.text_analysis import (
        document_chunks,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    joined = (
        document_chunks(docs, width=100, stride=75)
        .groupBy("doc_id")
        .agg(
            F.sum("chunk_len").alias("covered_with_overlap"),
            F.max(F.col("chunk_idx") * 75 + F.col("chunk_len")).alias("max_end"),
        )
        .join(docs.select("doc_id", F.length("text").alias("n")), "doc_id")
        .collect()
    )
    assert joined
    for r in joined:
        assert r.max_end == r.n, (r.doc_id, r.max_end, r.n)
        assert r.covered_with_overlap >= r.n


def test_document_chunks_is_shuffle_free(spark):
    from language_diversity_common_crawler_spark.functions.text_analysis import (
        document_chunks,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        document_chunks(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Generate" in plan


def test_quality_length_moments_python_recompute(spark):
    """The six sufficient statistics must equal a Python recompute, and
    the derived Pearson r must be finite and in [-1, 1]."""
    import math

    from language_diversity_common_crawler_spark.functions.text_analysis import (
        quality_exprs,
    )
    from language_diversity_common_crawler_spark.operators import stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {r["lang"]: r for r in stats.quality_length_moments(docs).collect()}
    # recompute y with the engines' own expression to avoid re-speccing
    # the quality recipe in Python
    ys = docs.selectExpr(
        "lang", "CAST(n_chars AS BIGINT) AS x",
        f"{quality_exprs('text', 'spark')['quality_score']} AS y",
    ).collect()
    per: dict[str, list[tuple[int, int]]] = {}
    for r in ys:
        per.setdefault(r["lang"], []).append((r["x"], r["y"]))
    assert set(got) == set(per)
    for lang, xy in per.items():
        g = got[lang]
        assert g["n"] == len(xy)
        assert g["sum_len"] == sum(x for x, _ in xy)
        assert g["sum_len_sq"] == sum(x * x for x, _ in xy)
        assert g["sum_q"] == sum(y for _, y in xy)
        assert g["sum_q_sq"] == sum(y * y for _, y in xy)
        assert g["sum_lq"] == sum(x * y for x, y in xy)
        n = g["n"]
        cov = n * g["sum_lq"] - g["sum_len"] * g["sum_q"]
        vx = n * g["sum_len_sq"] - g["sum_len"] ** 2
        vy = n * g["sum_q_sq"] - g["sum_q"] ** 2
        if vx > 0 and vy > 0:
            r_p = cov / math.sqrt(vx * vy)
            assert -1.0 <= r_p <= 1.0
