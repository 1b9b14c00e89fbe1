"""``crawl``: seeded messy URLs through the crawl frontier.

Each set-up loads the inputs and commits round 0 (``init_crawl``) on its
own checkpoint. The warm-up op is one ``run_round`` on a spare round-0
commit. One pass = one ``run_round`` on the last set-up's commit, on the
parquet backend, with ``compact_every`` set so ``compact_seen`` runs
inside the round.
Checked against ``frontier.oracle.SequentialCrawler``: manifests, crawl
order, seen set, and the row flow of the manifest.
"""

from __future__ import annotations

import os
import shutil
import time

import inputs
import sparkstats
from harness import median, ratio


class CrawlWorkload:
    name = "crawl"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.raw, self.robots = inputs.crawl_inputs(seed)
        self.budget = inputs.CRAWL_BUDGET
        self.fresh: list[str] = []  # checkpoints holding only round 0
        self.done: list[str] = []   # checkpoints a timed round ran on
        self.rounds: list[tuple[str, dict | None]] = []  # (ckpt, span)

    def sizes(self) -> dict:
        return {"seed_urls": len(self.raw), "hosts": inputs.CRAWL_HOSTS,
                "robots_hosts": len(self.robots), "budget": self.budget,
                "compact_every": inputs.CRAWL_COMPACT_EVERY}

    # -- oracle (pure Python, outside timing) ------------------------------

    def expected(self) -> None:
        """Round 0 and round 1 of the sequential oracle, and the round's
        units: frontier rows plus probed (discovered) candidates."""
        from language_diversity_common_crawler_spark.frontier import (
            oracle, robots)
        from language_diversity_common_crawler_spark.frontier.crawl import (
            DISCOVERY_FANOUT, DISCOVERY_MOD)

        rules = {h: robots.parse_robots_txt(b) for h, b in self.robots.items()}
        oc = oracle.SequentialCrawler(self.raw, budget=self.budget,
                                      rules=rules)
        n0 = len(oc.frontier)
        self.want_manifests = [
            {"round": 0, "n_frontier": n0, "n_scheduled": 0, "n_new": n0},
            oc.run_round()]
        self.want_order = sorted(oc.order, key=lambda t: (t[0], t[1], t[2]))
        self.want_seen = oc.seen
        self.units = n0 + sum(
            len(oracle.py_discover(u, DISCOVERY_FANOUT, DISCOVERY_MOD))
            for (_, _, _, u, _) in oc.order)

    def units_done(self) -> int:
        return self.units * len(self.done)

    # -- set-up --------------------------------------------------------------

    def load(self, spark, tracer) -> None:
        """Canonical seeds and robots rules, cached, and round 0 committed
        on a fresh checkpoint that a timed round later runs on."""
        from pyspark import StorageLevel

        from language_diversity_common_crawler_spark.frontier import (
            robots, urlgen)

        raw = spark.createDataFrame([(u,) for u in self.raw], "url_raw string")
        self.seeds = urlgen.with_canonical(raw).select(
            "url_canon", "host").persist(StorageLevel.MEMORY_AND_DISK)
        self.seeds.count()
        bodies = spark.createDataFrame(sorted(self.robots.items()),
                                       "host string, robots_txt string")
        self.rules = robots.rules_from_bodies(bodies).persist(
            StorageLevel.MEMORY_AND_DISK)
        self.rules.count()
        self.fresh.append(self._init(spark, tracer, f"setup{len(self.fresh)}"))

    def _init(self, spark, tracer, name: str) -> str:
        from language_diversity_common_crawler_spark.frontier import crawl

        ckpt = os.path.join(self.work, "crawl", name)
        shutil.rmtree(ckpt, ignore_errors=True)
        with tracer.span("crawl.init_crawl"):
            crawl.init_crawl(spark, self.seeds, ckpt)
        return ckpt

    def _round(self, spark, tracer, ckpt: str) -> None:
        from language_diversity_common_crawler_spark.frontier import crawl

        with tracer.span("crawl.run_round") as rec:
            crawl.run_round(spark, ckpt, budget=self.budget, rules=self.rules,
                            compact_every=inputs.CRAWL_COMPACT_EVERY)
        self.rounds.append((ckpt, rec))

    def warmup(self, spark, tracer) -> None:
        """The warm-up op: one ``run_round`` on a spare round-0 commit, so
        the timed round is not the JVM's first run of the round's code."""
        self._round(spark, tracer, self._init(spark, tracer, "warmup"))

    # -- timed pass ----------------------------------------------------------

    def can_pass(self) -> bool:
        return bool(self.fresh)

    def run_pass(self, spark, tracer, op_times: list[float]) -> None:
        """Round 1 on the last unused round-0 commit. One round per pass
        (a round costs ~7-10 s on 4 cores, mostly per-job overhead), so a
        run measures at most one round per set-up."""
        ckpt = self.fresh.pop()
        t0 = time.perf_counter()
        self._round(spark, tracer, ckpt)
        op_times.append(time.perf_counter() - t0)
        self.done.append(ckpt)

    # -- correctness ---------------------------------------------------------

    def check(self, spark, drop_row: bool = False) -> tuple[int, list[str]]:
        """(failed ops, messages): each timed round against the oracle's
        round 1. ``drop_row`` removes one scheduled row before comparing
        (the self-test's corrupted output)."""
        from language_diversity_common_crawler_spark.frontier import crawl

        failed, msgs = 0, []
        for ckpt in self.done:
            got_order = [
                (r["round"], r["host"], r["slot"], r["url_canon"],
                 r["priority"])
                for r in crawl.crawl_order(spark, ckpt).collect()
            ]
            if drop_row and got_order:
                got_order.pop()
            prev, m = (crawl.read_manifest(spark, ckpt, k) for k in (0, 1))
            seen = {r["url_canon"]
                    for r in crawl.read_seen(spark, ckpt, 1).collect()}
            bad = []
            if [prev, m] != self.want_manifests:
                bad.append(f"manifests {[prev, m]} != {self.want_manifests}")
            if m["n_frontier"] != (prev["n_frontier"] - m["n_scheduled"]
                                   + m["n_new"]):
                bad.append(f"row flow broken: {prev} -> {m}")
            if got_order != self.want_order:
                bad.append(f"order: {len(got_order)} rows vs "
                           f"{len(self.want_order)} expected")
            if seen != self.want_seen:
                bad.append(f"seen set: {len(seen)} vs "
                           f"{len(self.want_seen)} expected")
            if bad:
                failed += 1
                msgs.extend(f"{os.path.basename(ckpt)}: {b}" for b in bad)
        return failed, msgs

    # -- traced per-layer replay ---------------------------------------------

    def replay(self, spark, tracer) -> dict[str, float]:
        """Replays round 1 step by step on a committed round-0 state, each
        layer over a materialized copy of its input. Returns counts and
        ratios; times come from the spans. The per-round job, stage and
        byte counts are those of the last whole round (in a run of the
        other workload, a warm-up round run here). Runs after
        :meth:`check`: it re-compacts the checkpoint."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from language_diversity_common_crawler_spark.frontier import (
            crawl, robots, scheduler, seen, urlgen)

        def mat(df):
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            return df, df.count()

        if not self.rounds:
            self.warmup(spark, tracer)
        out: dict[str, float] = {}
        round_ckpt, round_span = self.rounds[-1]
        r1 = sparkstats.StatusReader(spark.sparkContext).totals([round_span])
        out["crawl.jobs_per_round"] = r1["jobs"]
        out["crawl.stages_per_round"] = r1["stages"]
        out["crawl.bytes_written_per_new_url"] = ratio(
            r1["output_bytes"],
            crawl.read_manifest(spark, round_ckpt, 1)["n_new"])

        ckpt = (self.done or self.fresh)[0]
        st = crawl.ParquetStateBackend(spark, ckpt)
        prev = 0

        raw = spark.createDataFrame([(u,) for u in self.raw], "url_raw string")
        raw, _ = mat(raw)
        with tracer.span("urlgen.with_canonical"):
            _, out["urlgen.rows"] = mat(urlgen.with_canonical(raw))

        frontier, n_front = mat(st.read(prev, "frontier"))
        with tracer.span("robots.filter_allowed"):
            eligible, n_elig = mat(robots.filter_allowed(frontier, self.rules))
        out["robots.kept_ratio"] = ratio(n_elig, n_front)

        with tracer.span("scheduler.politeness_schedule"):
            sched, out["scheduler.scheduled"] = mat(
                scheduler.politeness_schedule(eligible, self.budget).select(
                    "host", "url_canon", "priority", "slot"))
        per_host = [r["n"] for r in sched.groupBy("host").agg(
            F.count(F.lit(1)).alias("n")).collect()]
        out["scheduler.slots_max_over_median"] = ratio(
            max(per_host), median(per_host)) if per_host else 0.0

        with tracer.span("crawl.discover_children"):
            disc, _ = mat(crawl.discover_children(sched).select("url_canon"))
        with tracer.span("seen.with_url_hashes"):
            cand, out["seen.candidates"] = mat(
                seen.with_url_hashes(disc, n_parts=crawl.N_PARTS))

        compacted, deltas = st.read_seen_split(prev)
        exact = compacted if compacted is not None else deltas
        exact, _ = mat(exact)
        words, _ = mat(st.read(prev, "bloom_words"))
        with tracer.span("seen.filter_unseen"):
            new, out["seen.new"] = mat(
                seen.filter_unseen(cand, exact, bloom=words, dedupe=True))
        flagged = seen.probe_bloom_jvm(cand, words, dedupe_on="url_canon")
        out["seen.maybe_seen"] = float(
            flagged.filter(F.col("maybe_seen")).count())
        out.update(_bloom_fp(st, prev, cand, exact))

        bloom, _ = mat(st.read(prev, "bloom"))
        new_hashed, _ = mat(seen.with_url_hashes(
            new.select("url_canon"), n_parts=crawl.N_PARTS))
        with tracer.span("seen.build_bloom"):
            delta, _ = mat(seen.build_bloom(new_hashed))
        with tracer.span("seen.merge_bloom"):
            merged, _ = mat(seen.merge_bloom(bloom, delta))
        with tracer.span("seen.bloom_words"):
            mat(seen.bloom_words(merged))

        replay_st = crawl.ParquetStateBackend(
            spark, os.path.join(self.work, "crawl", "replay"))
        to_write, _ = mat(new.select(
            "url_canon", urlgen.host_of_canon("url_canon").alias("host"),
            "part_id"))
        with tracer.span("crawl.write"):
            replay_st.write(to_write, prev + 1, "seen_delta", count=True)
        out["crawl.state_bytes"] = float(_du(ckpt))
        with tracer.span("crawl.compact_seen"):
            st.compact_seen(1 if self.done else 0)
        return out


def _bloom_fp(st, prev: int, cand, exact) -> dict[str, float]:
    """Realized and estimated false-positive rate of a bloom filter over
    the committed seen set, loaded as ``build_bloom``'s default geometry
    is meant to be (1 Mi bits for ~100k keys per partition, ~1% fpp): the
    state's own filter holds a few dozen keys per partition here, so its
    rate is ~0. Realized: distinct unseen candidates the filter flags
    maybe-seen, over all distinct unseen candidates."""
    from pyspark.sql import functions as F

    from language_diversity_common_crawler_spark.frontier import crawl, seen

    keys = seen.bloom_stats(st.read(prev, "bloom")).agg(
        F.max("n_keys")).collect()[0][0] or 1
    n_bits = 64
    while n_bits * 100_000 < keys * (1 << 20):
        n_bits *= 2
    bloom = seen.build_bloom(seen.with_url_hashes(
        exact.select("url_canon"), n_parts=crawl.N_PARTS),
        n_bits_per_part=n_bits).cache()
    flagged = seen.probe_bloom_jvm(cand, seen.bloom_words(bloom),
                                   dedupe_on="url_canon")
    row = flagged.join(exact.select("url_canon"), "url_canon",
                       "left_anti").agg(
        F.count(F.lit(1)).alias("unseen"),
        F.sum(F.col("maybe_seen").cast("int")).alias("fp"),
    ).collect()[0]
    est = seen.bloom_stats(bloom).agg(F.avg("est_fpp")).collect()[0][0]
    bloom.unpersist()
    return {"seen.bloom_fp_ratio": ratio(row["fp"] or 0, row["unseen"]),
            "seen.bloom_est_fpp": float(est or 0.0)}


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
