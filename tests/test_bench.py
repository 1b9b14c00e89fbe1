"""``bench.py``'s frontier number times the production crawl round."""

from __future__ import annotations

import os

import bench
import __spark_entry__ as entrymod
from language_diversity_common_crawler_spark.frontier import crawl

SF_DIR = bench.SF_DIR.replace("sf0.1", "sf0.01")
BUDGET = 4


def test_bench_frontier_round_is_the_production_round(
        spark, tmp_path, monkeypatch):
    """Two timed reps of ``bench.frontier_round`` report the same
    (frontier URLs in, URLs scheduled), equal to the manifests of a
    ``crawl.run_round`` on an independently initialized checkpoint, and
    leave the source round-0 checkpoint at round 0, so every rep times the
    same round."""
    monkeypatch.setattr(bench, "REPS", 2)
    monkeypatch.setattr(bench, "BUDGET_SEC", float("inf"))
    monkeypatch.setattr(bench, "FRONTIER_BUDGET", BUDGET)
    work = str(tmp_path / "bench")
    os.makedirs(work)
    runs, _ = bench.frontier_round(spark, SF_DIR, work)

    ckpt = str(tmp_path / "independent")
    crawl.init_crawl(
        spark, entrymod._seeds_df(spark, SF_DIR).select("url_canon", "host"),
        ckpt)
    m = crawl.run_round(spark, ckpt, budget=BUDGET,
                        rules=bench.robots_rules(spark, SF_DIR))
    want = (crawl.read_manifest(spark, ckpt, 0)["n_frontier"],
            m["n_scheduled"])

    assert runs == [want, want]
    assert 0 < want[1] < want[0]
    assert crawl.latest_round(spark, os.path.join(work, "round0")) == 0
