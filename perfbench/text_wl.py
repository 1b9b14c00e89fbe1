"""``text``: extraction with language ID, the corpus build, and the dedup
chain, over seeded pages and documents.

One pass, with each op timed on its own:

- one op per page segment: ``extract_pipeline`` on that segment, then
  ``language_histogram`` over its predictions;
- ``pretrain_corpus_build`` over the corpus documents;
- ``minhash_signatures`` -> ``lsh_candidate_pairs`` ->
  ``jaccard_verified_pairs``, ``kmv_shingle_cardinality`` and
  ``containment_decontaminate``, one op each, over the dedup documents.

The set-up's warm-up op runs one op of each kind once.

Checked against ``sources.pages.write_golden_extract_parquet`` (per-row
content and model languages, histogram counts) and the DuckDB twins in
``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import inputs
from harness import ratio
from language_diversity_common_crawler_spark.functions.langspec import (
    MODEL_PREFIX, MODELS)

MODEL_PREFIXES = tuple(MODEL_PREFIX[m] for m in MODELS)  # df, li, cld
PRED_COLS = ["url", "content"] + [
    f"{p}_{c}" for p in MODEL_PREFIXES for c in ("lang", "prec")]
MIN_JACCARD_BP = 2000   # as in the minhash_jaccard_verified query


def _norm_row(row) -> tuple:
    # DECIMAL(38,0) keys come back as Decimal from one engine and may come
    # back as int from the other; compare them as ints
    return tuple(int(v) if hasattr(v, "as_tuple") else v for v in row)


def _sorted_rows(rows) -> list[tuple]:
    return sorted((_norm_row(r) for r in rows), key=repr)


class TextWorkload:
    name = "text"

    def __init__(self, seed: int, work: str):
        from language_diversity_common_crawler_spark.sources import pages

        self.seed = seed
        self.dir = os.path.join(work, "text")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        rows = pages.generate_pages(inputs.EXTRACT_PAGES, seed=seed)
        self.segments = sorted({r["segment"] for r in rows})
        self.pages_path = os.path.join(self.dir, "pages")
        _write_pages(rows, self.pages_path)
        docs = inputs.documents(seed, inputs.CORPUS_DOCS)
        self.docs_corpus = docs
        self.docs_dedup = {k: v[:inputs.DEDUP_DOCS] for k, v in docs.items()}
        self.results: list[tuple[str, object]] = []
        # units: pages extracted plus input docs of the corpus build and
        # of the dedup chain
        self.units = (inputs.EXTRACT_PAGES + inputs.CORPUS_DOCS
                      + inputs.DEDUP_DOCS)
        self.passes_done = 0

    def sizes(self) -> dict:
        return {"pages": inputs.EXTRACT_PAGES, "segments": len(self.segments),
                "corpus_docs": inputs.CORPUS_DOCS,
                "dedup_docs": inputs.DEDUP_DOCS, "doc_langs": inputs.N_LANGS}

    # -- oracle (outside timing) ---------------------------------------------

    def expected(self) -> None:
        import pyarrow.parquet as pq

        import __spark_entry__
        from language_diversity_common_crawler_spark.functions import (
            dedup, sketches)
        from language_diversity_common_crawler_spark.sources import pages

        golden = pq.read_table(pages.write_golden_extract_parquet(
            os.path.join(self.dir, "golden.parquet"), inputs.EXTRACT_PAGES,
            seed=self.seed)).to_pylist()
        self.want_pages: dict[str, dict[str, tuple]] = {}
        for r in golden:
            self.want_pages.setdefault(r["segment"], {})[r["url"]] = (
                r["content"], r["df_lang"], r["li_lang"], r["cld_lang"])
        self.want = {"corpus.pretrain_corpus_build": _duckdb_rows(
            self.docs_corpus,
            [__spark_entry__.oracle_sql()["pretrain_corpus_build"]])}
        # the dedup twins, with the signatures and the candidate pairs
        # materialized once and the verification restricted to candidate
        # docs (the twin computes shingles for every doc it is given)
        pre = [
            "CREATE TEMP TABLE mh_sigs AS "
            + dedup.sql_minhash_signatures("documents"),
            "CREATE TEMP TABLE mh_cand AS "
            + dedup.sql_lsh_candidate_pairs("SELECT * FROM mh_sigs"),
            "CREATE TEMP TABLE mh_docs AS SELECT * FROM documents WHERE "
            "doc_id IN (SELECT a FROM mh_cand UNION SELECT b FROM mh_cand)",
        ]
        self.want["dedup.verified_pairs"] = _duckdb_rows(
            self.docs_dedup, pre + [dedup.sql_jaccard_verified_pairs(
                "SELECT * FROM mh_cand", min_jaccard_bp=MIN_JACCARD_BP,
                table="mh_docs")])
        self.want["sketches.kmv_shingle_cardinality"] = _duckdb_rows(
            self.docs_dedup,
            [sketches.sql_kmv_shingle_cardinality("documents")])
        self.want["dedup.containment_decontaminate"] = _duckdb_rows(
            self.docs_dedup,
            [dedup.sql_containment_decontaminate("documents")])

    # -- set-up --------------------------------------------------------------

    def load(self, spark, tracer) -> None:
        from pyspark import StorageLevel

        from language_diversity_common_crawler_spark.sources import pages

        self.pages = spark.read.schema(pages.PAGES_SCHEMA).parquet(
            self.pages_path)
        n = spark.sparkContext.defaultParallelism
        self.corpus_df = _docs_df(spark, self.docs_corpus, n)
        self.dedup_df = _docs_df(spark, self.docs_dedup, n)
        for df in (self.corpus_df, self.dedup_df):
            df.persist(StorageLevel.MEMORY_AND_DISK).count()

    def warmup(self, spark, tracer) -> None:
        """The warm-up op: one op of each kind (the first segment's
        extract, the corpus build, the verified chain, KMV, containment),
        so no timed op is the JVM's or the Python workers' first run of
        its code."""
        with tracer.span("text.warmup"):
            for name, fn in self._ops():
                if name.startswith("extract.segment.") and \
                        not name.endswith("." + self.segments[0]):
                    continue
                fn()

    # -- timed pass ----------------------------------------------------------

    def _extract(self, segment: str):
        from pyspark import StorageLevel

        from language_diversity_common_crawler_spark.operators.histogram import (  # noqa: E501
            language_histogram)
        from language_diversity_common_crawler_spark.plans.pipeline import (
            extract_pipeline)

        preds = extract_pipeline(self.pages, segment=segment).select(
            *PRED_COLS).persist(StorageLevel.MEMORY_AND_DISK)
        rows = preds.collect()
        hist = language_histogram(preds).collect()
        preds.unpersist()
        return rows, hist

    def _ops(self):
        from language_diversity_common_crawler_spark.functions import (
            dedup, sketches)
        from language_diversity_common_crawler_spark.plans.corpus import (
            pretrain_corpus_build)

        for seg in self.segments:
            yield (f"extract.segment.{seg}",
                   lambda seg=seg: self._extract(seg))
        yield ("corpus.pretrain_corpus_build",
               lambda: pretrain_corpus_build(self.corpus_df).collect())

        def verified():
            d = self.dedup_df
            pairs = dedup.lsh_candidate_pairs(dedup.minhash_signatures(d))
            return dedup.jaccard_verified_pairs(
                d, pairs, min_jaccard_bp=MIN_JACCARD_BP).collect()

        yield ("dedup.verified_pairs", verified)
        yield ("sketches.kmv_shingle_cardinality",
               lambda: sketches.kmv_shingle_cardinality(
                   self.dedup_df).collect())
        yield ("dedup.containment_decontaminate",
               lambda: dedup.containment_decontaminate(
                   self.dedup_df).collect())

    def can_pass(self) -> bool:
        return True

    def run_pass(self, spark, tracer, op_times: list[float]) -> None:
        for name, fn in self._ops():
            t0 = time.perf_counter()
            with tracer.span(name):
                res = fn()
            op_times.append(time.perf_counter() - t0)
            self.results.append((name, res))
        self.passes_done += 1

    def units_done(self) -> int:
        return self.units * self.passes_done

    # -- correctness ---------------------------------------------------------

    def check(self, spark, drop_row: bool = False) -> tuple[int, list[str]]:
        failed, msgs = 0, []
        for i, (name, res) in enumerate(self.results):
            if name.startswith("extract.segment."):
                rows, hist = res
                if drop_row and i == 0:
                    rows = rows[1:]
                bad = self._check_extract(name.rsplit(".", 1)[1], rows, hist)
            else:
                got = _sorted_rows(res)
                if drop_row and i == 0:
                    got = got[1:]
                want = self.want[name]
                bad = [] if got == want else [
                    f"{len(got)} rows vs {len(want)} expected"
                    + (" (same count, values differ)"
                       if len(got) == len(want) else "")]
            if bad:
                failed += 1
                msgs.extend(f"{name}: {b}" for b in bad)
        return failed, msgs

    def _check_extract(self, seg: str, rows, hist) -> list[str]:
        """Rows against the golden extract; the histogram's counts against
        the golden languages and its mean precisions against the rows."""
        want = self.want_pages.get(seg, {})
        got = {r["url"]: (r["content"], r["df_lang"], r["li_lang"],
                          r["cld_lang"]) for r in rows}
        bad = []
        if got != want or len(rows) != len(want):
            diff = sum(1 for u in set(got) | set(want)
                       if got.get(u) != want.get(u))
            bad.append(f"{diff} rows differ from the golden extract")
        counts: dict[tuple[str, str], int] = {}
        for langs in want.values():
            for p, lang in zip(MODEL_PREFIXES, langs[1:]):
                counts[lang, p] = counts.get((lang, p), 0) + 1
        precs: dict[tuple[str, str], list[float]] = {}
        for r in rows:
            for p in MODEL_PREFIXES:
                precs.setdefault((r[f"{p}_lang"], p), []).append(
                    r[f"{p}_prec"])
        if {h["lang"] for h in hist} != {lang for lang, _ in counts}:
            bad.append("histogram languages differ")
        for h in hist:
            for p in MODEL_PREFIXES:
                ps = precs.get((h["lang"], p), [])
                mean = sum(ps) / len(ps) if ps else 0.0
                if h[f"cnt_{p}"] != counts.get((h["lang"], p), 0) or \
                        not math.isclose(h[f"avg_prec_{p}"], mean,
                                         rel_tol=1e-9, abs_tol=1e-9):
                    bad.append(f"histogram {h['lang']}/{p} differs")
        return bad

    # -- traced per-layer replay ---------------------------------------------

    def replay(self, spark, tracer) -> dict[str, float]:
        """Each layer of the extract chain, the corpus build and the dedup
        chain once, over a materialized copy of its input; the whole op
        runs first so ``*.uncovered_s`` can be taken against it."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from language_diversity_common_crawler_spark.functions import (
            dedup, lines, packing, quality_rules, sampling, sketches)
        from language_diversity_common_crawler_spark.functions.boilerplate import (  # noqa: E501
            html2text_udf)
        from language_diversity_common_crawler_spark.functions.decode import (
            decode_udf)
        from language_diversity_common_crawler_spark.functions.langid_models import (  # noqa: E501
            prediction_struct)
        from language_diversity_common_crawler_spark.operators.histogram import (  # noqa: E501
            language_histogram)
        from language_diversity_common_crawler_spark.plans.corpus import (
            pretrain_corpus_build)
        from language_diversity_common_crawler_spark.plans.pipeline import (
            extract_pipeline)

        def mat(df):
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            return df, df.count()

        out: dict[str, float] = {}
        span_s = {}

        def timed(name, fn):
            with tracer.span(name) as rec:
                res = fn()
            span_s[name] = rec["end"] - rec["start"]
            return res

        # extract chain, whole op then layer by layer
        pages, n_pages = mat(self.pages)
        timed("replay.extract", lambda: language_histogram(
            extract_pipeline(pages).select(*PRED_COLS)).collect())
        dec, n_dec = timed("decode.decode_udf", lambda: mat(
            pages.select("url", decode_udf(F.col("html"), F.col(
                "http_charset")).alias("content_decoded"))
            .filter(F.col("content_decoded").isNotNull())))
        out["decode.drop_ratio"] = 1.0 - ratio(n_dec, n_pages)
        content, _ = timed("boilerplate.html2text_udf", lambda: mat(
            dec.select("url", html2text_udf(F.col("content_decoded"))
                       .alias("content"))))
        preds = content
        for m in MODELS:
            p = MODEL_PREFIX[m]
            one, _ = timed(f"langid_models.{p}", lambda m=m: mat(
                content.select("url", prediction_struct(m, "content")
                               .alias("_p"))))
            preds = preds.join(one.select(
                "url", F.col("_p.lang").alias(f"{p}_lang"),
                F.col("_p.precision").alias(f"{p}_prec")), "url")
        preds, _ = mat(preds)
        timed("histogram.language_histogram",
              lambda: language_histogram(preds).collect())
        layers = ["decode.decode_udf", "boilerplate.html2text_udf",
                  "histogram.language_histogram"] + [
            f"langid_models.{MODEL_PREFIX[m]}" for m in MODELS]
        out["pipeline.uncovered_s"] = span_s["replay.extract"] - sum(
            span_s[k] for k in layers)

        # corpus build, whole op then stage by stage (same stage inputs
        # as plans/corpus.py)
        docs = self.corpus_df
        timed("replay.corpus",
              lambda: pretrain_corpus_build(docs).collect())
        staged, _ = timed("quality_rules.with_gopher_quality", lambda: mat(
            quality_rules.with_gopher_quality(docs.select(
                "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text"),
                "lang", "source"))))
        keep = F.col("doc_id") == F.min("doc_id").over(
            Window.partitionBy(F.md5(F.col("text"))))
        gates = (F.col("words_ok") & F.col("word_len_ok") & F.col("symbol_ok")
                 & F.col("ellipsis_ok") & F.col("bullet_ok")
                 & F.col("alpha_ok"))
        surv, _ = mat(staged.withColumn("__keep", keep).filter(
            gates & F.col("__keep")).select("doc_id", "text", "lang",
                                            "source"))
        clean, _ = timed("lines.line_dedup",
                         lambda: mat(lines.line_dedup(surv)))
        kept = clean.agg(F.sum("n_kept"), F.sum("n_lines")).collect()[0]
        out["lines.kept_line_ratio"] = ratio(kept[0] or 0, kept[1] or 0)
        sampled, _ = timed("sampling.temperature_rebalanced_sample",
                           lambda: mat(
                               sampling.temperature_rebalanced_sample(surv)))
        chosen, _ = mat(clean.join(sampled.select("doc_id"), "doc_id"))
        timed("packing.sequence_packing", lambda: mat(
            packing.sequence_packing(chosen, budget=64, n_shards=8,
                                     width=160, stride=120,
                                     text_col="clean_text")))
        out["corpus.uncovered_s"] = span_s["replay.corpus"] - sum(
            span_s[k] for k in (
                "quality_rules.with_gopher_quality", "lines.line_dedup",
                "sampling.temperature_rebalanced_sample",
                "packing.sequence_packing"))

        # dedup chain and sketch
        d = self.dedup_df
        sigs, _ = timed("dedup.minhash_signatures",
                        lambda: mat(dedup.minhash_signatures(d)))
        pairs, n_pairs = timed("dedup.lsh_candidate_pairs",
                               lambda: mat(dedup.lsh_candidate_pairs(sigs)))
        _, n_ver = timed("dedup.jaccard_verified_pairs", lambda: mat(
            dedup.jaccard_verified_pairs(d, pairs,
                                         min_jaccard_bp=MIN_JACCARD_BP)))
        out["dedup.candidate_pairs"] = float(n_pairs)
        out["dedup.verified_ratio"] = ratio(n_ver, n_pairs)
        timed("dedup.containment_decontaminate",
              lambda: dedup.containment_decontaminate(d).collect())
        timed("sketches.kmv_shingle_cardinality",
              lambda: sketches.kmv_shingle_cardinality(d).collect())
        out["sketches.shingle_rows"] = float(sum(
            max(0, len(t.lower().split()) - 2)
            for t in self.docs_dedup["text"]))
        return out


def _duckdb_rows(docs: dict, statements: list[str]) -> list[tuple]:
    """Rows of the last statement, with ``docs`` registered as the
    ``documents`` view."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    try:
        con.register("documents", pa.table(docs))
        for stmt in statements[:-1]:
            con.execute(stmt)
        return _sorted_rows(con.execute(statements[-1]).fetchall())
    finally:
        con.close()


def _write_pages(rows: list[dict], path: str) -> None:
    """Pages as parquet partitioned by ``segment`` (hive layout), written
    with pyarrow so input generation needs no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pylist(rows)
    pq.write_to_dataset(table, path, partition_cols=["segment"])


def _docs_df(spark, docs: dict, n_parts: int):
    import pyarrow as pa

    pdf = pa.table(docs).to_pandas()
    return spark.createDataFrame(
        pdf, "doc_id bigint, text string, lang string, source string"
    ).repartition(n_parts)
