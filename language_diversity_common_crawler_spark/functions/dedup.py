"""Deduplication operators for training-data pipelines.

- exact: groupBy on a 128-bit content hash (md5). One shuffle on the hash —
  at 100 TB this is the canonical exact-dedup plan (hash-partitioned,
  map-side pre-aggregated, AQE-coalesced).
- MinHash + LSH: word-shingle → k salted min-hashes → banded bucket keys;
  near-dup candidates come from a self-join on (band, bucket) — the join key
  is the bucket hash, so only genuinely-colliding docs meet. This is the
  scale path: no pairwise O(n²) anywhere.
- verified Jaccard: exact shingle-set Jaccard over the LSH candidates only,
  then a greedy min-id survivor per doc (or connected components,
  functions.components).
- decontamination: eval-set word-k-gram overlap (binary flag and graded
  containment ratio) against a broadcast shingle-hash set.

Every expression is dialect-shared (Spark SQL + DuckDB) so the driver's
oracle validates values exactly. Shingle hashes are 60-bit md5 (hashing.py).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dialect import g_flag, rx
from .hashing import sql_md5_60, sql_md5_60_salted

N_MINHASH = 8
N_BANDS = 4  # 2 rows per band


_WS = r"\s+"


def _norm(text: str, dialect: str) -> str:
    ws = rx(_WS, dialect)
    return f"regexp_replace(trim(lower({text})), {ws}, ' '{g_flag(dialect)})"


def tokens_expr(text: str, dialect: str) -> str:
    """Whitespace-token array of the normalized text."""
    norm = _norm(text, dialect)
    fn = "string_split" if dialect == "duckdb" else "split"
    return f"{fn}({norm}, ' ')"


def shingles_from_tokens(toks: str, dialect: str, k: int = 3) -> str:
    """Array of word k-gram shingles from a TOKEN-ARRAY COLUMN reference.

    ``toks`` must be a column name (or cheap expression): lambda bodies get
    no common-subexpression elimination in Spark, so inlining the split here
    would re-tokenize the text for every array element — materialize the
    token array in its own projection first (Catalyst's CollapseProject
    keeps a multiply-referenced non-trivial alias as a separate project, so
    the split runs once per row)."""
    if dialect == "duckdb":
        joined = " || ' ' || ".join(f"({toks})[i + {j}]" for j in range(k))
        return (
            f"CASE WHEN len({toks}) < {k} THEN []::VARCHAR[] "
            f"ELSE list_transform(generate_series(1, len({toks}) - {k - 1}), "
            f"i -> {joined}) END"
        )
    joined = ", ".join(f"element_at({toks}, CAST(i + {j} AS INT))" for j in range(k))
    return (
        f"CASE WHEN size({toks}) < {k} THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(sequence(1, size({toks}) - {k - 1}), "
        f"i -> concat_ws(' ', {joined})) END"
    )


def shingles_expr(text: str, dialect: str, k: int = 3) -> str:
    """Inline variant for the DuckDB oracle SQL (tokenizes inside the
    expression). Spark refuses it: its lambda bodies would re-tokenize the
    whole text once per shingle, so Spark callers project
    ``tokens_expr`` first and shingle that with ``shingles_from_tokens``."""
    if dialect != "duckdb":
        raise ValueError(
            "shingles_expr is DuckDB-only; in Spark use tokens_expr + "
            "shingles_from_tokens"
        )
    return shingles_from_tokens(tokens_expr(text, dialect), dialect, k)


MH_P = 2147483647  # 2^31 - 1; a_j * (h % p) + b_j stays inside int64
_MH_A = [2971215073, 1640531527, 2654435761, 2246822519,
         3266489917, 668265263, 374761393, 3144134277]
_MH_B = [97, 193, 389, 769, 1543, 3079, 6151, 12289]


def shingle_hash_expr(shingles: str, dialect: str) -> str:
    """ONE 60-bit md5 per shingle, reduced mod p — the only expensive hash
    pass. The k min-hashes derive from this array with integer-only affine
    maps (universal hashing), so minhash costs 1 md5 pass, not k."""
    h = sql_md5_60("s", dialect)
    fn = "list_transform" if dialect == "duckdb" else "transform"
    return f"{fn}({shingles}, s -> {h} % {MH_P})"


def shingle_hash60_expr(shingles: str, dialect: str) -> str:
    """Full 60-bit shingle hashes — for EXACT set operations (distinct-
    shingle counts), where the minhash path's mod-(2^31-1) reduction would
    merge distinct shingles at birthday rates (~23k colliding shingle pairs
    per 10M distinct shingles), silently deflating the counts."""
    h = sql_md5_60("s", dialect)
    fn = "list_transform" if dialect == "duckdb" else "transform"
    return f"{fn}({shingles}, s -> {h})"


def minhash_exprs(hashed: str, dialect: str) -> dict[str, str]:
    """N_MINHASH min-hashes over a shingle-hash-array expression (affine
    maps mod p, pure int64 arithmetic — identical in Spark and DuckDB).
    Empty shingle set → NULL (doc too short to near-dup)."""
    out = {}
    amin = "list_min" if dialect == "duckdb" else "array_min"
    fn = "list_transform" if dialect == "duckdb" else "transform"
    for j in range(N_MINHASH):
        a, b = _MH_A[j], _MH_B[j]
        out[f"mh{j}"] = f"{amin}({fn}({hashed}, h -> ({a} * h + {b}) % {MH_P}))"
    return out


def band_exprs(dialect: str) -> dict[str, str]:
    """N_BANDS band bucket keys: hash of the concatenated row hashes."""
    rows_per_band = N_MINHASH // N_BANDS
    out = {}
    cast_t = "VARCHAR" if dialect == "duckdb" else "STRING"
    for b in range(N_BANDS):
        parts = [f"CAST(mh{b * rows_per_band + r} AS {cast_t})"
                 for r in range(rows_per_band)]
        joined = "concat(" + ", ':', ".join(parts) + ")"
        h = sql_md5_60_salted(joined, f"b{b}", dialect)
        # Guard: null minhash (too-short doc) must yield null bucket in BOTH
        # dialects (Spark's concat_ws would silently skip nulls).
        out[f"band{b}"] = (
            f"CASE WHEN mh0 IS NULL THEN CAST(NULL AS BIGINT) ELSE {h} END"
        )
    return out


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Spark: id + mh0..mh{k-1} + band0..band{b-1} (all JVM-side exprs).
    The shingle-hash array is materialized as one intermediate column so the
    md5 pass over shingles runs once, not once per minhash."""
    toks = df.select(
        id_col, F.expr(tokens_expr(text_col, "spark")).alias("__toks")
    )
    shingled = toks.select(
        id_col,
        F.expr(shingles_from_tokens("__toks", "spark")).alias("__shg"),
    )
    hashed = shingled.select(
        id_col, F.expr(shingle_hash_expr("__shg", "spark")).alias("__sh")
    )
    out = hashed.select(
        id_col,
        *[F.expr(e).alias(n)
          for n, e in minhash_exprs("__sh", "spark").items()],
    )
    for n, e in band_exprs("spark").items():
        out = out.withColumn(n, F.expr(e))
    return out


def sql_minhash_signatures(table: str, id_col: str = "doc_id",
                           text_col: str = "text") -> str:
    sh = shingles_expr(text_col, "duckdb")
    hashed = shingle_hash_expr(sh, "duckdb")
    mh = ",\n       ".join(
        f"{e} AS {n}"
        for n, e in minhash_exprs("__sh", "duckdb").items()
    )
    mh_cols = ", ".join(f"mh{j}" for j in range(N_MINHASH))
    bands = ",\n       ".join(
        f"{e} AS {n}" for n, e in band_exprs("duckdb").items()
    )
    return (
        f"SELECT {id_col}, {mh_cols},\n"
        f"       {bands}\n"
        f"FROM (SELECT {id_col}, {mh} FROM "
        f"(SELECT {id_col}, {hashed} AS __sh FROM {table}))"
    )


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Self-join per band on the bucket key → distinct candidate pairs a<b.
    Shuffles on the band hash (uniform by construction; no skew salting
    needed unless many identical docs — AQE skew-join covers that)."""
    stack_args = ", ".join(f"{b}, band{b}" for b in range(N_BANDS))
    # persist the (tiny: id + band keys) stacked relation: the self-join's
    # two sides would otherwise EACH recompute the full signature lineage
    # (shingle md5 pass included) — Spark does not reuse the exchange when
    # the sides' output names differ. ContextCleaner unpersists on GC.
    stacked = sigs.select(
        F.col(id_col),
        F.expr(f"stack({N_BANDS}, {stack_args}) AS (bi, bk)"),
    ).filter(F.col("bk").isNotNull()).persist(StorageLevel.MEMORY_AND_DISK)
    left = stacked.select(F.col(id_col).alias("a"), "bi", "bk")
    right = stacked.select(F.col(id_col).alias("b"), "bi", "bk")
    return (
        left.join(right, ["bi", "bk"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_verified_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    min_jaccard_bp: int = 5000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact shingle-set Jaccard over candidate pairs (the verification
    stage after LSH). Jaccard is reported in basis points (bigint) so the
    value-hash oracle comparison is exact.

    Scale shape: ``pairs`` is tiny relative to ``docs`` (LSH already
    pruned), so the two joins broadcast the pair list and the shingle
    arrays are computed only for docs that appear in some pair."""
    # pairs is referenced three times below (need-a, need-b, final join)
    # and is itself the whole LSH pipeline — persist it once
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    toks = docs.select(
        F.col(id_col), F.expr(tokens_expr(text_col, "spark")).alias("__toks")
    )
    # NULL text has a NULL shingle array; as the empty set it scores 0 bp
    # against every doc, as in the DuckDB twin (its list_concat and
    # list_contains read NULL as empty), instead of a NULL Jaccard
    sh = toks.select(
        id_col,
        F.coalesce(
            F.array_distinct(F.expr(shingles_from_tokens("__toks", "spark"))),
            F.array().cast("array<string>"),
        ).alias("__sh"),
    )
    need = pairs.select(F.col("a").alias(id_col)).union(
        pairs.select(F.col("b").alias(id_col))
    ).distinct()
    # the pruned shingle arrays feed both the a-side and b-side joins —
    # persist so the shingle computation runs once
    sh = sh.join(F.broadcast(need), id_col).persist(StorageLevel.MEMORY_AND_DISK)
    a = sh.select(F.col(id_col).alias("a"), F.col("__sh").alias("__sha"))
    b = sh.select(F.col(id_col).alias("b"), F.col("__sh").alias("__shb"))
    joined = pairs.join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect("__sha", "__shb"))
    uni = F.size(F.array_union("__sha", "__shb"))
    jacc = F.when(uni == 0, F.lit(0)).otherwise(
        F.floor(inter * 10000 / uni)
    ).cast("bigint")
    return (
        joined.select("a", "b", jacc.alias("jaccard_bp"))
        .filter(F.col("jaccard_bp") >= min_jaccard_bp)
    )


def minhash_dedup_survivors(
    docs: DataFrame, verified_pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Survivor selection over verified MinHash pairs — one row per doc
    with a keep/drop verdict, completing the dedup chain (signatures →
    LSH candidates → Jaccard verification → THIS). Greedy min-id rule:
    a doc is dropped when any lower-id doc is a verified near-duplicate
    of it; ``dup_of`` is the smallest such neighbor (NULL for kept rows). Deterministic and
    order-independent (min/max aggregates); exact transitive closure
    would need an iterative join loop. Plan: one groupBy over the tiny
    verified-pair list, then a hash join back to the corpus on the id."""
    dup = verified_pairs.groupBy(F.col("b").alias(id_col)).agg(
        F.min("a").alias("dup_of"),
        F.max("jaccard_bp").cast("bigint").alias("max_jaccard_bp"),
        F.count(F.lit(1)).cast("bigint").alias("n_dups"),
    )
    return (
        docs.select(id_col)
        .join(dup, id_col, "left")
        .select(
            id_col,
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
            "max_jaccard_bp",
            F.coalesce("n_dups", F.lit(0)).cast("bigint").alias("n_dups"),
        )
    )


def sql_minhash_dedup_survivors(
    verified_select: str, table: str = "documents", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`minhash_dedup_survivors`."""
    return f"""
WITH verified AS ({verified_select}),
dup AS (
  SELECT b AS {id_col}, min(a) AS dup_of,
         CAST(max(jaccard_bp) AS BIGINT) AS max_jaccard_bp,
         CAST(count(*) AS BIGINT) AS n_dups
  FROM verified GROUP BY b
)
SELECT d.{id_col}, (dup.dup_of IS NULL) AS kept, dup.dup_of,
       dup.max_jaccard_bp,
       CAST(coalesce(dup.n_dups, 0) AS BIGINT) AS n_dups
FROM {table} d LEFT JOIN dup ON dup.{id_col} = d.{id_col}
"""


def sql_jaccard_verified_pairs(
    pairs_select: str,
    min_jaccard_bp: int = 5000,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    sh = (
        f"SELECT {id_col}, list_distinct({shingles_expr(text_col, 'duckdb')})"
        f" AS sh FROM {table}"
    )
    return f"""
WITH pairs AS ({pairs_select}),
sh AS ({sh}),
j AS (
  SELECT p.a, p.b,
         len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
         len(list_distinct(list_concat(sa.sh, sb.sh))) AS uni
  FROM pairs p
  JOIN sh sa ON sa.{id_col} = p.a
  JOIN sh sb ON sb.{id_col} = p.b)
SELECT a, b,
       CAST(CASE WHEN uni = 0 THEN 0
            ELSE floor(inter * 10000 / uni) END AS BIGINT) AS jaccard_bp
FROM j WHERE (CASE WHEN uni = 0 THEN 0
              ELSE floor(inter * 10000 / uni) END) >= {min_jaccard_bp}
"""


def sql_lsh_candidate_pairs(sigs_select: str) -> str:
    parts = []
    for b in range(N_BANDS):
        parts.append(
            f"SELECT l.doc_id AS a, r.doc_id AS b FROM sigs l "
            f"JOIN sigs r ON l.band{b} = r.band{b} AND l.doc_id < r.doc_id"
        )
    return (
        f"WITH sigs AS ({sigs_select})\n"
        f"SELECT DISTINCT a, b FROM (" + " UNION ALL ".join(parts) + ")"
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (GPT-3/PaLM-style n-gram overlap vs an eval set)
# ---------------------------------------------------------------------------

def decontaminate(
    docs: DataFrame, bench_mod: int = 97, prefix_chars: int = 160,
    k: int = 8,
) -> DataFrame:
    """Flag training documents that contain evaluation-set n-grams — the
    decontamination stage every LLM data pipeline runs before training
    (GPT-3 App. C / PaLM style: exact word-k-gram overlap, k≈8-13).

    The stand-in eval set here is the ``prefix_chars``-char prefixes of
    every ``doc_id % bench_mod == 0`` document (deterministic, so the
    DuckDB twin rebuilds it); production callers pass any (btext) dim
    through the same shape. Output: one row per CONTAMINATED doc —
    (doc_id, n_eval_ngrams = distinct eval k-grams it contains).

    Scale shape: real eval suites are ~10^5-10^6 n-grams — the bench hash
    set BROADCASTS, so the 10^10-doc corpus side never shuffles for the
    membership test (explode is a Generate in the scan stage, the
    left-semi is a broadcast join). The only exchange is the final
    groupBy, which carries ONLY matched (doc_id, hash) rows — at sane
    contamination rates that is ~0 of the corpus. Shingle hashes are full
    60-bit md5 (shingle_hash60_expr rationale: mod-2^31 reduction would
    flag ~birthday-rate false positives at 10^10 scale)."""
    bench = docs.filter((F.col("doc_id") % bench_mod) == 0).select(
        F.expr(f"substring(text, 1, {prefix_chars})").alias("btext")
    )
    btoks = bench.select(F.expr(tokens_expr("btext", "spark")).alias("toks"))
    bsh = btoks.select(
        F.explode(F.expr(shingles_from_tokens("toks", "spark", k))).alias("s")
    ).select(F.expr(sql_md5_60("s", "spark")).alias("sh"))
    ctoks = docs.select(
        "doc_id", F.expr(tokens_expr("text", "spark")).alias("toks")
    )
    csh = ctoks.select(
        "doc_id",
        F.explode(F.expr(shingles_from_tokens("toks", "spark", k))).alias("s"),
    ).select("doc_id", F.expr(sql_md5_60("s", "spark")).alias("sh"))
    hits = csh.join(F.broadcast(bsh), "sh", "left_semi")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("sh").cast("bigint").alias("n_eval_ngrams")
    )


def sql_decontaminate(
    table: str, bench_mod: int = 97, prefix_chars: int = 160, k: int = 8
) -> str:
    """DuckDB twin of :func:`decontaminate`."""
    h = sql_md5_60("s", "duckdb")
    return f"""
WITH bench AS (
  SELECT substring(text, 1, {prefix_chars}) AS btext
  FROM {table} WHERE doc_id % {bench_mod} = 0),
bt AS (SELECT {tokens_expr('btext', 'duckdb')} AS toks FROM bench),
bsh AS (
  SELECT {h} AS sh FROM (
    SELECT unnest({shingles_from_tokens('toks', 'duckdb', k)}) AS s FROM bt)),
ct AS (SELECT doc_id, {tokens_expr('text', 'duckdb')} AS toks FROM {table}),
csh AS (
  SELECT doc_id, {h} AS sh FROM (
    SELECT doc_id, unnest({shingles_from_tokens('toks', 'duckdb', k)}) AS s
    FROM ct))
SELECT doc_id, CAST(count(DISTINCT sh) AS BIGINT) AS n_eval_ngrams
FROM csh WHERE sh IN (SELECT sh FROM bsh)
GROUP BY doc_id
"""


def containment_decontaminate(
    docs: DataFrame, bench_mod: int = 97, prefix_chars: int = 160,
    k: int = 8,
) -> DataFrame:
    """Fuzzy decontamination by CONTAINMENT ratio: the fraction of a
    document's distinct word-k-grams that appear in the eval set — the
    graded complement of :func:`decontaminate`'s binary n-gram flag
    (pipelines threshold the ratio rather than dropping on any single
    collision; cf. the n-gram-overlap dedup of GPT-3 App. C, which
    removes docs sharing enough of an eval example, not any of it).

    Same deterministic stand-in eval set (doc_id % bench_mod prefixes);
    same broadcast shape: the eval shingle set broadcasts with a hit
    marker and the corpus side LEFT-joins it shuffle-free. The corpus
    side then makes its (doc_id, shingle) pairs distinct (map-side
    partial aggregate, one exchange), and both counts (total shingles /
    eval hits) ride one plain doc_id aggregate. Two ``countDistinct``
    columns would plan an Expand instead: every row twice through the
    first exchange, with the branches ordered by expression hash, so
    each run of the query generated different code. The ratio is exact
    integer millis: (1000 * n_hits) DIV n_total. Output: one row per doc
    with at least one eval hit."""
    bench = docs.filter((F.col("doc_id") % bench_mod) == 0).select(
        F.expr(f"substring(text, 1, {prefix_chars})").alias("btext")
    )
    btoks = bench.select(F.expr(tokens_expr("btext", "spark")).alias("toks"))
    bsh = btoks.select(
        F.explode(F.expr(shingles_from_tokens("toks", "spark", k))).alias("s")
    ).select(F.expr(sql_md5_60("s", "spark")).alias("sh")).distinct() \
        .withColumn("__hit", F.lit(1))
    ctoks = docs.select(
        "doc_id", F.expr(tokens_expr("text", "spark")).alias("toks")
    )
    csh = ctoks.select(
        "doc_id",
        F.explode(F.expr(shingles_from_tokens("toks", "spark", k))).alias("s"),
    ).select("doc_id", F.expr(sql_md5_60("s", "spark")).alias("sh"))
    marked = csh.join(F.broadcast(bsh), "sh", "left")
    # __hit is a function of sh (bsh is distinct on sh), so max keeps it
    per_sh = marked.groupBy("doc_id", "sh").agg(F.max("__hit").alias("__hit"))
    agg = per_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.count("__hit").cast("bigint").alias("n_eval_hits"),
    )
    return agg.filter(F.col("n_eval_hits") > 0).select(
        "doc_id", "n_shingles", "n_eval_hits",
        F.expr("(1000 * n_eval_hits) DIV n_shingles")
        .alias("containment_milli"),
    )


def sql_containment_decontaminate(
    table: str, bench_mod: int = 97, prefix_chars: int = 160, k: int = 8
) -> str:
    """DuckDB twin of :func:`containment_decontaminate`."""
    h = sql_md5_60("s", "duckdb")
    return f"""
WITH bench AS (
  SELECT substring(text, 1, {prefix_chars}) AS btext
  FROM {table} WHERE doc_id % {bench_mod} = 0),
bt AS (SELECT {tokens_expr('btext', 'duckdb')} AS toks FROM bench),
bsh AS (
  SELECT DISTINCT {h} AS sh FROM (
    SELECT unnest({shingles_from_tokens('toks', 'duckdb', k)}) AS s FROM bt)),
ct AS (SELECT doc_id, {tokens_expr('text', 'duckdb')} AS toks FROM {table}),
csh AS (
  SELECT doc_id, {h} AS sh FROM (
    SELECT doc_id, unnest({shingles_from_tokens('toks', 'duckdb', k)}) AS s
    FROM ct)),
agg AS (
  SELECT doc_id,
         CAST(count(DISTINCT sh) AS BIGINT) AS n_shingles,
         CAST(count(DISTINCT CASE WHEN sh IN (SELECT sh FROM bsh)
                                  THEN sh END) AS BIGINT) AS n_eval_hits
  FROM csh GROUP BY doc_id)
SELECT doc_id, n_shingles, n_eval_hits,
       (1000 * n_eval_hits) // n_shingles AS containment_milli
FROM agg WHERE n_eval_hits > 0
"""


def _source_span_hashes(docs: DataFrame, k: int) -> DataFrame:
    """Shared (source, span_hash) stream for the lineage reports
    (overlap matrix + novelty curve): ONE definition of the span grid /
    hash / row policy so the two reports can never drift. NULL-source
    rows are dropped explicitly — Spark's collect_set silently skips
    NULLs while DuckDB's list(DISTINCT) keeps them, so without the
    filter the engines disagree the moment a source is NULL."""
    from .spans import spans_from_tokens

    tok = docs.filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    ).select(
        "source", F.expr(tokens_expr("text", "spark")).alias("toks")
    )
    return tok.select(
        "source",
        F.explode(F.expr(spans_from_tokens("toks", "spark", k))).alias("s"),
    ).filter(F.col("s") != "").select(
        "source", F.expr(sql_md5_60("s", "spark")).alias("h")
    )


def _sql_source_span_cte(table: str, k: int) -> str:
    """DuckDB twin of :func:`_source_span_hashes` as a CTE fragment
    ``tok AS (...), sp AS (...), hs AS (...)``."""
    from .spans import spans_from_tokens

    h = sql_md5_60("s", "duckdb")
    return f"""
tok AS (
  SELECT source, {tokens_expr('text', 'duckdb')} AS toks
  FROM {table} WHERE text IS NOT NULL AND source IS NOT NULL),
sp AS (
  SELECT source, unnest({spans_from_tokens('toks', 'duckdb', k)}) AS s
  FROM tok),
hs AS (SELECT {h} AS h, source FROM sp WHERE s <> '')"""


def source_overlap_matrix(docs: DataFrame, k: int = 8) -> DataFrame:
    """Pairwise content overlap BETWEEN sources at the k-token SPAN grain
    (the spans.py grid): for every source pair, how many distinct span
    fingerprints they share — the lineage report that decides dedup ORDER
    when merging crawls/dumps (dedup the heaviest-overlap pair first; the
    whole-corpus pair-grain complement of
    spans.incremental_span_contamination's newest-vs-history check).
    Span grain, not whole-doc md5: cross-source duplication in the wild
    is overwhelmingly PARTIAL (syndicated paragraphs, quoted passages),
    which document fingerprints cannot see.

    Plan: ONE corpus exchange — ``groupBy(span_hash)`` with a map-side
    partial ``collect_set(source)`` (the set dedups (hash, source) for
    free, so no separate distinct pass exists). Pairs are then GENERATED
    from each hash's sorted source set with array lambdas — no self-join,
    no second shuffle of the span stream (a distinct-then-self-join
    formulation was rejected: its distinct keys on (source, hash) so the
    join on hash re-exchanges both sides — 3 shuffles for the same
    answer). Set size is bounded by the source count (a dimension, not a
    corpus, axis), so the per-hash pair fan-out is O(n_sources^2) worst
    case. Output one row per source pair sharing >= 1 span."""
    sp = _source_span_hashes(docs, k)
    sets = (
        sp.groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (x, i) -> "
                "transform(slice(ss, i + 2, size(ss)), "
                "y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("shared_spans"))


def sql_source_overlap_matrix(table: str = "documents", k: int = 8) -> str:
    """DuckDB twin of :func:`source_overlap_matrix` (sorted distinct
    source list per hash; pairs via a double lateral range unnest with
    i < j — 1-based list indexing)."""
    return f"""
WITH {_sql_source_span_cte(table, k)},
sets AS (
  SELECT h, list_sort(list(DISTINCT source)) AS ss
  FROM hs GROUP BY h HAVING len(list(DISTINCT source)) >= 2)
SELECT ss[CAST(t1.i + 1 AS INT)] AS source_a,
       ss[CAST(t2.j + 1 AS INT)] AS source_b,
       CAST(count(*) AS BIGINT) AS shared_spans
FROM sets,
     unnest(range(0, len(ss))) AS t1(i),
     unnest(range(0, len(ss))) AS t2(j)
WHERE t2.j > t1.i
GROUP BY source_a, source_b
"""


def source_novelty_report(docs: DataFrame, k: int = 8) -> DataFrame:
    """Per-source content NOVELTY: of the distinct k-token spans a
    source contains, how many appear there FIRST (by snapshot order,
    spans.snap_ord_expr; ties broken by source name, so EXACTLY ONE
    source gets credit per span and n_new sums across sources never
    exceed the distinct span count — the same (ord, name) tie-break
    incremental_span_contamination uses)? This is the crawl-yield curve
    of the Common Crawl dedup studies — successive snapshots contribute
    progressively less new text, and the report quantifies exactly
    that, deciding whether fetching another snapshot is worth the
    compute.

    Plan: the same single corpus exchange as source_overlap_matrix
    (shared _source_span_hashes stream, ``groupBy(span_hash)`` +
    map-side partial ``collect_set(source)``); the first-seen source
    per hash is an ARRAY reduction over the tiny per-hash set (snapshot
    order is a pure function of the source name, so no join against a
    snapshot dim exists), then one explode + one dimension-sized
    aggregate. novelty_milli is exact integer millis."""
    from .spans import snap_ord_expr

    ord_of = snap_ord_expr("x", "spark")
    sp = _source_span_hashes(docs, k)
    sets = sp.groupBy("h").agg(F.collect_set("source").alias("ss"))
    exploded = sets.select(
        F.expr(
            f"array_min(transform(ss, x -> struct({ord_of} AS o, x AS s))).s"
        ).alias("first_src"),
        F.explode("ss").alias("source"),
    )
    is_new = (F.col("source") == F.col("first_src")).cast("bigint")
    agg = exploded.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(is_new).cast("bigint").alias("n_new"),
    )
    return agg.withColumn(
        "novelty_milli", F.expr("(1000 * n_new) DIV n_spans")
    )


def sql_source_novelty_report(table: str = "documents", k: int = 8) -> str:
    """DuckDB twin of :func:`source_novelty_report` (struct comparison
    orders field-by-field in both engines, so the (ord, name) min picks
    the identical first source)."""
    from .spans import snap_ord_expr

    ord_lambda = snap_ord_expr("x", "duckdb")
    return f"""
WITH {_sql_source_span_cte(table, k)},
sets AS (
  SELECT h, list(DISTINCT source) AS ss FROM hs GROUP BY h),
exploded AS (
  SELECT list_min(list_transform(ss, x -> {{'o': {ord_lambda}, 's': x}})).s
           AS first_src,
         unnest(ss) AS source
  FROM sets),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN source = first_src THEN 1 ELSE 0 END)
              AS BIGINT) AS n_new
  FROM exploded GROUP BY source)
SELECT source, n_spans, n_new, (1000 * n_new) // n_spans AS novelty_milli
FROM agg
"""
