#!/usr/bin/env python3
"""Stage-level scaling decomposition of the CURRENT frontier round.

Times cumulative prefixes of the exact chain `tools/scaling_bench.py`
measures (broadcast-join codegen probe over the words-form filter
state), at two pinned core counts; the marginal
cost of each prefix is that stage's cost, and the 2-vs-8 ratio per stage
shows where scaling efficiency is lost. Untimed prep identical to
scaling_bench (cached seed input, pre-built seen state).

Usage:  python tools/profile_frontier.py            # parent: 2 and 8
        python tools/profile_frontier.py --child --cpus 8
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import importlib.util

_spec = importlib.util.spec_from_file_location(
    "scaling_bench", os.path.join(REPO, "tools", "scaling_bench.py")
)
sb = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(sb)

STATE_DIR = sb.STATE_DIR
MULT = sb.MULT


def _prefixes(spark):
    """Ordered (name, build_fn) — each returns a DataFrame whose agg/count
    forces everything up to and including that stage."""
    from pyspark.sql import functions as F

    from language_diversity_common_crawler_spark.frontier import (
        crawl,
        robots as robots_mod,
        scheduler,
        seen,
        urlgen,
    )

    def seeds_input():
        return sb._cached_seeds(spark, MULT)

    def canon():
        return urlgen.with_canonical(seeds_input()).select("url_canon")

    def hashed():
        return seen.with_url_hashes(canon(), n_parts=crawl.N_PARTS)

    def dedup():
        # the round's big exchange: url-only distinct BEFORE the probe
        # (filter_unseen slim path)
        return hashed().select("url_canon", "part_id").dropDuplicates(
            ["url_canon"]
        )

    def words():
        return spark.read.parquet(f"{STATE_DIR}/bloom_words")

    def probed():
        # broadcast-join codegen probe over the deduplicated URL set
        rehashed = dedup().withColumn(
            "h1", F.xxhash64(F.col("url_canon"))
        ).withColumn("h2", F.xxhash64(F.col("url_canon"), F.lit(1)))
        return seen.probe_bloom_jvm(rehashed, words(), broadcast=True)

    def unseen():
        pre_seen = sb._pre_seen(spark)
        cand = hashed()
        return seen.filter_unseen(
            cand, pre_seen, bloom=words(), dedupe=True
        ).select(
            "url_canon", urlgen.host_of_canon("url_canon").alias("host")
        )

    def robots():
        nation = spark.read.parquet(f"{sb.SF_DIR}/nation.parquet")
        bodies = nation.select(
            F.concat(F.lit("host"), F.col("n_nationkey").cast("string"),
                     F.lit(".example.com")).alias("host"),
            F.lit("User-agent: *\nDisallow: /o/1\n").alias("robots_txt"),
        )
        return robots_mod.filter_allowed(
            unseen(), robots_mod.rules_from_bodies(bodies)
        )

    def sched():
        return scheduler.politeness_schedule(robots(), budget=200)

    return [
        ("input", seeds_input),
        ("canon_map", canon),
        ("hash_map", hashed),
        ("dedup_distinct", dedup),
        ("probe_bcast", probed),
        ("antijoin_union", unseen),
        ("robots_filter", robots),
        ("politeness", sched),
    ]


def child(cpus: int, reps: int) -> None:
    from pyspark import StorageLevel

    from language_diversity_common_crawler_spark.session import get_spark

    spark = get_spark(f"profile-{cpus}", cpus=cpus,
                      shuffle_partitions=4 * cpus)
    prefixes = _prefixes(spark)

    def reset():
        spark.catalog.clearCache()
        for df in sb._SEED_CACHE.values():
            df.persist(StorageLevel.MEMORY_AND_DISK)
            df.count()

    def force(df):
        # noop sink: materializes EVERY column of every row. count() would
        # let Catalyst prune all columns on map-only prefixes, so the first
        # shuffle downstream gets billed for all upstream map work and the
        # marginal attribution is garbage (that bug produced the bogus
        # "dedup_agg doesn't scale" reading this tool originally shipped).
        df.write.format("noop").mode("overwrite").save()

    # warm-up: build seed cache + compile/execute every prefix once
    for _, fn in prefixes:
        force(fn())

    out = {"cpus": cpus, "stages": {}}
    for name, fn in prefixes:
        best = float("inf")
        for _ in range(reps):
            reset()
            t0 = time.perf_counter()
            force(fn())
            best = min(best, time.perf_counter() - t0)
        out["stages"][name] = round(best, 3)
    print(json.dumps(out))
    spark.stop()


def parent(levels: list[int], reps: int) -> None:
    import shutil

    sb._prep_state_once(MULT)
    taskset = shutil.which("taskset")
    results = {}
    for cpus in levels:
        cmd = [sys.executable, os.path.abspath(__file__), "--child",
               "--cpus", str(cpus), "--reps", str(reps)]
        if taskset:
            cmd = [taskset, "-c", f"0-{cpus - 1}"] + cmd
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO,
                              timeout=3600)
        line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        if not line:
            sys.stderr.write(proc.stdout + proc.stderr)
            raise RuntimeError(f"child cpus={cpus} produced no JSON")
        results[cpus] = json.loads(line[-1])

    lo, hi = min(levels), max(levels)
    ratio = hi / lo
    print(f"\n{'stage':<18}{'cum ' + str(lo):>9}{'cum ' + str(hi):>9}"
          f"{'marg ' + str(lo):>9}{'marg ' + str(hi):>9}{'eff':>7}")
    prev_lo = prev_hi = 0.0
    for name in results[lo]["stages"]:
        cl = results[lo]["stages"][name]
        ch = results[hi]["stages"][name]
        ml, mh = max(cl - prev_lo, 1e-9), max(ch - prev_hi, 1e-9)
        eff = (ml / mh) / ratio
        print(f"{name:<18}{cl:>9.2f}{ch:>9.2f}{ml:>9.2f}{mh:>9.2f}{eff:>7.2f}")
        prev_lo, prev_hi = cl, ch
    print(json.dumps(results))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--child", action="store_true")
    ap.add_argument("--cpus", type=int, default=0)
    ap.add_argument("--levels", default="2,8")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    if args.child:
        child(args.cpus, args.reps)
    else:
        parent([int(x) for x in args.levels.split(",")], args.reps)
