"""Kept dedup chain on hand-built documents: verified shingle Jaccard
(ground-truth values, NULL / empty / short docs, cross-engine parity) and
eval-set decontamination."""

from __future__ import annotations

import duckdb
import pytest

from language_diversity_common_crawler_spark.functions import dedup

ROWS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
    (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    (4, "completely different content with nothing shared here at all"),
    (5, "too short"),                                     # < 3 tokens: no shingles
    (6, None),                                            # NULL text
    (7, ""),                                              # empty text
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", ROWS)
    return con


def _spark_pairs(spark, min_jaccard_bp):
    """Verified Jaccard over EVERY id pair as the candidate list (the
    LSH stage skipped), so each hand-built case reaches verification."""
    df = spark.createDataFrame(ROWS, "doc_id bigint, text string")
    ids = df.select("doc_id")
    pairs = ids.alias("l").crossJoin(ids.alias("r")).filter(
        "l.doc_id < r.doc_id"
    ).selectExpr("l.doc_id AS a", "r.doc_id AS b")
    out = dedup.jaccard_verified_pairs(df, pairs, min_jaccard_bp)
    return {(r["a"], r["b"]): r["jaccard_bp"] for r in out.collect()}


_ALL_PAIRS_SQL = (
    "SELECT l.doc_id AS a, r.doc_id AS b FROM documents l "
    "JOIN documents r ON l.doc_id < r.doc_id"
)


def _duck_pairs(duck, min_jaccard_bp):
    sql = dedup.sql_jaccard_verified_pairs(_ALL_PAIRS_SQL, min_jaccard_bp)
    return {(a, b): j for a, b, j in duck.execute(sql).fetchall()}


def test_ground_truth_values(spark):
    """Docs 1/3 are identical (7 shingles each → jaccard 10000); docs 1/2
    and 2/3 share 6 of 8 distinct shingles (6/8 = 7500 bp); doc 4 shares
    nothing; docs 5-7 have no shingles, score 0 and never pass a positive
    threshold."""
    got = _spark_pairs(spark, 0)
    assert got[(1, 3)] == 10000
    assert got[(1, 2)] == 7500
    assert got[(2, 3)] == 7500
    assert all(j == 0 for p, j in got.items() if {4, 5, 6, 7} & set(p))
    assert set(_spark_pairs(spark, 1)) == {(1, 2), (1, 3), (2, 3)}


def test_threshold_filters(spark):
    assert set(_spark_pairs(spark, 8000)) == {(1, 3)}


def test_cross_engine_parity(spark, duck):
    for min_bp in (0, 1, 7500, 7600):
        assert _spark_pairs(spark, min_bp) == _duck_pairs(duck, min_bp), min_bp


def test_decontaminate_flags_planted_overlap(spark):
    """A doc containing an eval 8-gram is flagged with the exact distinct
    count; unrelated docs are not; the bench membership test must be a
    broadcast join (the corpus side never shuffles for it)."""
    from language_diversity_common_crawler_spark.functions import dedup

    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, bench_text),                                   # bench source (0 % 97 == 0)
        (1, "prefix words then " + bench_text + " suffix"),  # contaminated
        (2, "totally unrelated words with no overlap at all here today"),
        (3, " ".join(["alpha beta gamma delta epsilon zeta eta"] * 2)),  # 7-gram only
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = dedup.decontaminate(df, bench_mod=97, prefix_chars=200, k=8)
    got = {r["doc_id"]: r["n_eval_ngrams"] for r in out.collect()}
    # bench text has 10 tokens -> 3 distinct 8-grams; doc 1 contains all 3
    assert got[0] == 3 and got[1] == 3
    assert 2 not in got and 3 not in got
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_containment_decontaminate_planted(spark):
    """A doc that embeds an eval doc's prefix verbatim must show high
    containment; an unrelated doc must not appear at all."""
    from pyspark.sql import Row

    from language_diversity_common_crawler_spark.functions import dedup

    eval_text = " ".join(f"ev{i}" for i in range(20))  # doc_id 0 -> eval
    contaminated = eval_text + " tail tail2 tail3"
    clean = " ".join(f"cl{i}" for i in range(30))
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text=eval_text),
            Row(doc_id=1, text=contaminated),
            Row(doc_id=2, text=clean),
        ]
    )
    got = {
        r["doc_id"]: r
        for r in dedup.containment_decontaminate(
            df, bench_mod=97, prefix_chars=160, k=8
        ).collect()
    }
    assert 2 not in got
    assert 1 in got and 0 in got
    # doc 0 IS the eval doc: full containment of its in-prefix shingles
    assert got[0]["containment_milli"] == 1000
    # doc 1 contains the whole eval prefix; its extra tail shingles keep
    # the ratio below 1000 but well above zero
    assert 0 < got[1]["containment_milli"] < 1000
    assert got[1]["n_eval_hits"] > 5
