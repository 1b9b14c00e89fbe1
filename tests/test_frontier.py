"""Frontier (north rule) tests: URL-seen set, politeness scheduler, robots,
and full crawl-round parity against the sequential oracle — including exact
resume from a mid-crawl checkpoint."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from language_diversity_common_crawler_spark.frontier import (  # noqa: E402
    crawl,
    oracle,
    robots,
    scheduler,
    seen,
    urlgen,
)


def _seed_pairs(n=60):
    return [(k, (k * 7) % 50) for k in range(1, n + 1)]


def _spark_seeds(spark, n=60):
    df = spark.createDataFrame(_seed_pairs(n), ["o_orderkey", "o_custkey"])
    return (
        df.select(F.expr(urlgen.synthetic_url_expr("spark")).alias("url_raw"))
        .withColumn("url_canon", F.expr(urlgen.canonicalize_expr("url_raw", "spark")))
        .withColumn("host", F.expr(urlgen.host_expr("url_canon", "spark")))
        .select("url_canon", "host")
    )


def _py_seeds(n=60):
    return [
        oracle.py_synthetic_url(k, c) for k, c in _seed_pairs(n)
    ]


# ---------------------------------------------------------------------------
# canonicalization parity (Spark expr vs Python oracle)
# ---------------------------------------------------------------------------

def test_canonicalize_parity(spark):
    got = {
        r["url_canon"]
        for r in _spark_seeds(spark, 80).select("url_canon").collect()
    }
    want = {oracle.py_canonicalize(u) for u in _py_seeds(80)}
    assert got == want
    for u in want:  # host extraction parity
        assert u.startswith("https://host")
        assert "?" not in u or "utm_" not in u


# ---------------------------------------------------------------------------
# bloom filter
# ---------------------------------------------------------------------------

def _numpy_probe(hashed, bloom) -> set:
    """Driver-side reference probe: {(url_canon, maybe_seen)} from
    seen._probe_hashes over the byte view of the collected filter set's
    words (one row per part), the hash math the codegen probe must
    reproduce."""
    parts = {
        r["part_id"]: (np.array(r["words"], dtype="<i8").view(np.uint8),
                       r["n_bits"], r["n_hashes"])
        for r in bloom.collect()
    }
    out = set()
    for r in hashed.select("url_canon", "h1", "h2", "part_id").collect():
        ent = parts.get(r["part_id"])
        hit = ent is not None and bool(seen._probe_hashes(
            ent[0], ent[1], ent[2],
            np.array([r["h1"]], dtype=np.int64).view(np.uint64),
            np.array([r["h2"]], dtype=np.int64).view(np.uint64),
        )[0])
        out.add((r["url_canon"], hit))
    return out


def _local_words(spark, bloom):
    """``bloom`` merged per part as a local relation, so a probe plan
    holds no exchange or Python stage of the filter build itself."""
    return spark.createDataFrame(
        seen.bloom_words(bloom).collect(), seen.BLOOM_SCHEMA
    )


def test_bloom_membership(spark):
    urls = spark.createDataFrame(
        [(f"https://h{i % 10}.ex/p/{i}",) for i in range(500)], ["url_canon"]
    )
    hashed = seen.with_url_hashes(urls, n_parts=8)
    words = seen.bloom_words(seen.build_bloom(hashed, n_bits_per_part=1 << 16))

    # no false negatives: every inserted key must be flagged maybe_seen
    flagged = seen.probe_bloom_jvm(hashed, words)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0

    # false positive rate on disjoint keys stays low
    other = seen.with_url_hashes(
        spark.createDataFrame(
            [(f"https://other{i}.ex/q/{i}",) for i in range(500)], ["url_canon"]
        ),
        n_parts=8,
    )
    fp = seen.probe_bloom_jvm(other, words).filter(F.col("maybe_seen")).count()
    assert fp < 25  # 5% at default k=7, 64Ki bits/part for ~60 keys/part


def test_probe_jvm_matches_cogroup(spark):
    """The whole-stage-codegen probe must flag the IDENTICAL maybe_seen
    set as the numpy reference (_probe_hashes over the same bitsets; the
    double-hashing math reproduced in ANSI-safe masked int64 arithmetic),
    in both its broadcast-join and shuffle-hash-join variants, including
    hash ranges with no filter row (NULL words → definitely new)."""
    urls = spark.createDataFrame(
        [(f"https://h{i % 10}.ex/p/{i % 400}",) for i in range(700)],
        ["url_canon"],
    )
    hashed = seen.with_url_hashes(urls, n_parts=8)
    bloom = seen.build_bloom(
        seen.with_url_hashes(
            urls.filter(F.xxhash64("url_canon") % 3 == 0), n_parts=8
        ),
        n_bits_per_part=1 << 16,
    ).cache()
    want = _numpy_probe(hashed, bloom)
    words = seen.bloom_words(bloom)
    for bc in (True, False):
        via_jvm = [
            (r["url_canon"], r["maybe_seen"])
            for r in seen.probe_bloom_jvm(
                hashed, words, dedupe_on="url_canon", broadcast=bc
            ).collect()
        ]
        assert len(via_jvm) == 400, f"broadcast={bc}: one row per URL"
        assert set(via_jvm) == want, f"broadcast={bc}"
    assert any(m for _, m in want) and not all(m for _, m in want)

    # uncovered hash ranges must flag nothing (and not error): tiny filter
    tiny = seen.build_bloom(
        seen.with_url_hashes(urls.limit(1), n_parts=8), n_bits_per_part=1 << 16
    )
    covered = {r["part_id"] for r in tiny.select("part_id").collect()}
    out = seen.probe_bloom_jvm(hashed, seen.bloom_words(tiny)).collect()
    uncovered = [r for r in out if r["part_id"] not in covered]
    assert uncovered, "fixture must leave some hash ranges without a filter"
    assert all(not r["maybe_seen"] for r in uncovered)
    bloom.unpersist()


def test_probe_jvm_merges_snapshot_plus_delta(spark):
    """bloom_words OR-merges multiple filter rows per part in its own
    grouped exchange, so the probe over the words of an UNMERGED
    snapshot+delta equals the reference probe of merge_bloom(snapshot,
    delta) — and a left join on part_id never duplicates candidate rows.
    A filter set with two rows for one part is refused."""
    urls = spark.createDataFrame(
        [(f"https://h{i % 6}.ex/p/{i}",) for i in range(400)], ["url_canon"]
    )
    hashed = seen.with_url_hashes(urls, n_parts=8)
    snap = seen.build_bloom(
        seen.with_url_hashes(
            urls.filter(F.xxhash64("url_canon") % 3 == 0), n_parts=8
        ),
        n_bits_per_part=1 << 16,
    )
    delta = seen.build_bloom(
        seen.with_url_hashes(
            urls.filter(F.xxhash64("url_canon") % 3 == 1), n_parts=8
        ),
        n_bits_per_part=1 << 16,
    )
    want = _numpy_probe(hashed, seen.merge_bloom(snap, delta))
    out = seen.probe_bloom_jvm(
        hashed, seen.bloom_words(snap.unionByName(delta))
    ).collect()
    assert len(out) == 400, "left join must not duplicate candidates"
    assert {(r["url_canon"], r["maybe_seen"]) for r in out} == want
    with pytest.raises(ValueError, match="duplicate part_id"):
        seen.probe_bloom_jvm(
            hashed,
            seen.bloom_words(snap).unionByName(seen.bloom_words(delta)),
        )


def test_probe_jvm_plan_is_codegen_only(spark):
    """The probe's contract: ZERO Python/Arrow nodes on the candidate
    path. Broadcast variant = BroadcastHashJoin fused with the upstream
    map, with no hash-partitioning exchange of the candidates; beyond the
    broadcast budget = ShuffledHashJoin on part_id, never a SortMergeJoin
    (a sort of the 10^10-row candidate side would dwarf the probe). The
    words side is a local relation, so the filter build's own exchange
    and Python stage are not in the plan."""
    urls = spark.range(2000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 7).cast("string"),
                 F.lit(".ex/p/"), F.col("id").cast("string")).alias("url_canon")
    )
    hashed = seen.with_url_hashes(urls, n_parts=8)
    words = _local_words(spark, seen.build_bloom(
        seen.with_url_hashes(urls.limit(500), n_parts=8),
        n_bits_per_part=1 << 16,
    ))
    for bc, join_node in ((True, "BroadcastHashJoin"), (False, "ShuffledHashJoin")):
        probe = seen.probe_bloom_jvm(hashed, words, broadcast=bc)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert join_node in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert ("hashpartitioning" in plan) is not bc, plan
        for bad in ("FlatMapCoGroupsInArrow", "MapInArrow", "ArrowEval",
                    "BatchEval", "InPandas"):
            assert bad not in plan, (bad, plan)
        assert probe.count() == 2000


def test_probe_jvm_geometry_guards(spark):
    """Non-power-of-two n_bits cannot reproduce uint64 modulo in signed
    JVM arithmetic: build_bloom refuses to build such a filter, and the
    probe refuses such stored state loudly — as it does an empty set and
    mixed geometries."""
    urls = spark.createDataFrame(
        [(f"https://h{i % 5}.ex/p/{i}",) for i in range(300)], ["url_canon"]
    )
    cand = seen.with_url_hashes(urls, n_parts=8)
    for n_bits in (96_000, 32, 0):
        with pytest.raises(ValueError, match="power of two"):
            seen.build_bloom(cand, n_bits_per_part=n_bits)

    def words(*geoms):
        return spark.createDataFrame(
            [(p, [0] * (nb // 64), nb, 7, 0) for p, nb in geoms],
            seen.BLOOM_SCHEMA,
        )

    odd = words((0, 96_000))
    with pytest.raises(ValueError, match="power of two"):
        seen.probe_bloom_jvm(cand, odd)
    with pytest.raises(ValueError, match="power of two"):
        seen.filter_unseen(cand, urls, bloom=odd)
    with pytest.raises(ValueError, match="mixed filter geometries"):
        seen.probe_bloom_jvm(cand, words((0, 1 << 12), (1, 1 << 13)))
    with pytest.raises(ValueError, match="empty filter set"):
        seen.filter_unseen(cand, urls, bloom=words())


def test_filter_unseen_probe_modes_agree(spark, monkeypatch):
    """Every filter_unseen path equals the plain left_anti join over
    duplicated candidates, with and without dedupe, under both probe
    joins: broadcast within the budget (the filter is tiny) and
    shuffle-hash once seen.BROADCAST_MAX_BYTES is below the filter size.
    Slim (url, h1, h2, part_id) candidates take the probe-first path within
    the budget and the dedup-first path beyond it; candidates with a host
    column dedupe after the probe. None puts a Python/Arrow stage on the
    candidate path."""
    rows = [
        (f"https://h{i % 5}.ex/p/{i % 120}", f"h{i % 5}.ex") for i in range(300)
    ]
    all_urls = spark.createDataFrame(rows, ["url_canon", "host"])
    seen_urls = all_urls.filter(
        F.xxhash64("url_canon") % 2 == 0
    ).select("url_canon").distinct()
    bloom = seen.build_bloom(seen.with_url_hashes(seen_urls, n_parts=8))
    words = _local_words(spark, bloom)
    for cols in (["url_canon"], ["url_canon", "host"]):
        cand = seen.with_url_hashes(all_urls.select(*cols), n_parts=8)
        plain = all_urls.select(*cols).join(seen_urls, "url_canon", "left_anti")
        for budget in (seen.BROADCAST_MAX_BYTES, 0):
            monkeypatch.setattr(seen, "BROADCAST_MAX_BYTES", budget)
            for dedupe in (True, False):
                out = seen.filter_unseen(
                    cand, seen_urls, bloom=words, dedupe=dedupe
                )
                want = plain.distinct() if dedupe else plain
                assert sorted(
                    tuple(r) for r in out.select(*cols).collect()
                ) == sorted(tuple(r) for r in want.collect()), (
                    cols, budget, dedupe)
                plan = out._jdf.queryExecution().executedPlan().toString()
                for bad in ("FlatMapCoGroupsInArrow", "MapInArrow",
                            "ArrowEvalPython", "BatchEvalPython"):
                    assert bad not in plan, (bad, cols, budget, plan)


def test_filter_unseen_words_form_state(spark, tmp_path):
    """A filter set persisted the way a crawl commit writes it (parquet,
    read back pinned to seen.BLOOM_SCHEMA) must probe to the exact unseen
    set, with and without dedupe."""
    all_urls = spark.createDataFrame(
        [(f"https://h{i % 5}.ex/p/{i % 120}",) for i in range(300)],
        ["url_canon"],
    )
    seen_urls = all_urls.filter(
        F.xxhash64("url_canon") % 2 == 0
    ).select("url_canon").distinct()
    cand = seen.with_url_hashes(all_urls, n_parts=8)
    bloom = seen.build_bloom(seen.with_url_hashes(seen_urls, n_parts=8))
    path = str(tmp_path / "bloom_words")
    seen.bloom_words(bloom).write.parquet(path)
    words = spark.read.schema(seen.BLOOM_SCHEMA).parquet(path)
    plain = all_urls.join(seen_urls, "url_canon", "left_anti")
    for dedupe in (True, False):
        got = sorted(
            r["url_canon"]
            for r in seen.filter_unseen(
                cand, seen_urls, bloom=words, dedupe=dedupe
            ).collect()
        )
        want = plain.distinct() if dedupe else plain
        assert got == sorted(r["url_canon"] for r in want.collect()), dedupe


def test_dedupe_survivor_row_matches_across_probe_paths(spark):
    """When duplicate keys carry DIFFERING companion columns (an outlink
    extractor attaching parent/priority), every dedup path keeps the same
    row — the lexicographically minimal companion — so the join strategy
    (which flips on filter size) never changes row contents, and a task
    retry re-electing the survivor is deterministic."""
    rows = [
        (f"https://h{i % 4}.ex/p/{i % 20}", f"parent{j}", 100 - j)
        for i in range(20)
        for j in range(3)
    ]
    cand = seen.with_url_hashes(
        spark.createDataFrame(rows, ["url_canon", "parent", "priority"]),
        n_parts=8,
    )
    words = seen.bloom_words(seen.build_bloom(
        seen.with_url_hashes(
            spark.createDataFrame(rows[:1], ["url_canon", "parent", "priority"]),
            n_parts=8,
        )
    ))
    pick = lambda df: {  # noqa: E731
        r["url_canon"]: (r["parent"], r["priority"]) for r in df.collect()
    }
    via_bc = pick(seen.probe_bloom_jvm(cand, words, dedupe_on="url_canon",
                                       broadcast=True))
    via_sh = pick(seen.probe_bloom_jvm(cand, words, dedupe_on="url_canon",
                                       broadcast=False))
    via_fu = pick(seen.filter_unseen(cand, cand.limit(0), bloom=words,
                                     dedupe=True))
    assert via_sh == via_bc
    assert via_fu == via_bc
    # the survivor is the minimal (parent, priority) tuple, not arrival order
    assert len(via_bc) == 20
    assert all(v == ("parent0", 100) for v in via_bc.values()), via_bc


def test_filter_unseen_slim_dedup_first_path(spark, monkeypatch):
    """When candidates carry EXACTLY (url, h1, h2, part_id), dedup runs on
    a url-only projection: after the probe within the broadcast budget,
    before it beyond the budget. Both return the distinct unseen set with
    part_id values of the hash recipe, and neither plan contains the
    generic min(struct(...)) aggregate (the slim exchange carries no
    payload)."""
    all_urls = spark.createDataFrame(
        # duplicates on purpose: i % 120 repeats
        [(f"https://h{i % 5}.ex/p/{i % 120}",) for i in range(300)],
        ["url_canon"],
    )
    seen_urls = all_urls.filter(
        F.xxhash64("url_canon") % 2 == 0
    ).select("url_canon").distinct()
    cand = seen.with_url_hashes(all_urls, n_parts=8)
    assert set(cand.columns) == {"url_canon", "h1", "h2", "part_id"}
    words = seen.bloom_words(
        seen.build_bloom(seen.with_url_hashes(seen_urls, n_parts=8))
    )
    expect = {
        r["url_canon"]
        for r in all_urls.distinct()
        .join(seen_urls, "url_canon", "left_anti")
        .collect()
    }
    for budget in (seen.BROADCAST_MAX_BYTES, 0):
        monkeypatch.setattr(seen, "BROADCAST_MAX_BYTES", budget)
        out = seen.filter_unseen(cand, seen_urls, bloom=words, dedupe=True)
        rows = out.collect()
        urls = [r["url_canon"] for r in rows]
        assert set(urls) == expect, budget
        assert len(urls) == len(expect), "slim path must dedupe"
        # part_id and h1 ride through the distinct / are recomputed, and
        # still match the hash recipe
        recomputed = {
            r["url_canon"]: (r["part_id"], r["h1"])
            for r in seen.with_url_hashes(
                spark.createDataFrame([(u,) for u in urls], ["url_canon"]),
                n_parts=8,
            ).collect()
        }
        assert {
            r["url_canon"]: (r["part_id"], r["h1"]) for r in rows
        } == recomputed
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "__rest" not in plan, plan


def test_host_of_canon_matches_with_canonical(spark):
    """urlgen.host_of_canon (the post-unseen-chain host recompute) must be
    byte-identical to the host column with_canonical emits, over the
    adversarial corpus — the slim frontier chain depends on it."""
    rows = [(r,) for r in _ADVERSARIAL_RAWS] + [(None,)]
    df = urlgen.with_canonical(spark.createDataFrame(rows, ["url_raw"]))
    got = df.select(
        "url_raw",
        "host",
        urlgen.host_of_canon("url_canon").alias("host2"),
    ).collect()
    for r in got:
        assert r["host"] == r["host2"], r


def test_filter_unseen_matches_plain_antijoin(spark):
    all_urls = spark.createDataFrame(
        [(f"https://h{i % 5}.ex/p/{i}", f"h{i % 5}.ex") for i in range(300)],
        ["url_canon", "host"],
    )
    seen_urls = all_urls.filter(F.xxhash64("url_canon") % 2 == 0).select("url_canon")
    cand = seen.with_url_hashes(all_urls, n_parts=8)
    words = seen.bloom_words(
        seen.build_bloom(seen.with_url_hashes(seen_urls, n_parts=8))
    )

    via_bloom = {
        r["url_canon"]
        for r in seen.filter_unseen(cand, seen_urls, bloom=words).collect()
    }
    plain = {
        r["url_canon"]
        for r in all_urls.join(seen_urls, "url_canon", "left_anti").collect()
    }
    assert via_bloom == plain


def test_bloom_merge(spark):
    a = seen.with_url_hashes(
        spark.createDataFrame([(f"https://a/{i}",) for i in range(100)], ["url_canon"]),
        n_parts=4,
    )
    b = seen.with_url_hashes(
        spark.createDataFrame([(f"https://b/{i}",) for i in range(100)], ["url_canon"]),
        n_parts=4,
    )
    merged = seen.merge_bloom(seen.build_bloom(a), seen.build_bloom(b))
    both = a.unionByName(b)
    flagged = seen.probe_bloom_jvm(both, seen.bloom_words(merged))
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


# ---------------------------------------------------------------------------
# cuckoo filter (deletion path)
# ---------------------------------------------------------------------------

def test_cuckoo_insert_contains_delete():
    rng = np.random.default_rng(42)
    keys = rng.integers(1, 2**63 - 1, size=2000, dtype=np.int64).astype(np.uint64)
    keys = np.unique(keys)
    cf = seen.CuckooFilter(n_buckets=1 << 11)  # 8192 slots for ~2000 keys
    assert cf.insert(keys) == 0
    assert cf.contains(keys).all()  # no false negatives

    others = rng.integers(1, 2**63 - 1, size=2000, dtype=np.int64).astype(np.uint64)
    others = np.setdiff1d(others, keys)
    assert cf.contains(others).mean() < 0.05  # 16-bit fp => ~0.1% expected

    # delete half, they must disappear; the rest must remain
    half = keys[: len(keys) // 2]
    assert cf.delete(half).all()
    assert not cf.contains(half).any() or cf.contains(half).mean() < 0.05
    assert cf.contains(keys[len(keys) // 2:]).all()

    # serialization round-trip
    cf2 = seen.CuckooFilter.from_bytes(cf.to_bytes(), cf.n_buckets)
    assert (cf2.table == cf.table).all()


def test_cuckoo_spark_probe(spark):
    urls = spark.createDataFrame(
        [(f"https://h{i % 4}.ex/p/{i}",) for i in range(400)], ["url_canon"]
    )
    hashed = seen.with_url_hashes(urls, n_parts=4)
    ck = seen.build_cuckoo(hashed, n_buckets=1 << 10)
    flagged = seen.probe_cuckoo(hashed, ck)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


# ---------------------------------------------------------------------------
# robots
# ---------------------------------------------------------------------------

def test_robots_parse_and_filter(spark):
    body = "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n# c\n"
    dis, alw = robots.parse_robots_txt(body)
    assert dis == ["/private/"] and alw == ["/private/ok"]

    cand = spark.createDataFrame(
        [
            ("https://a.ex/private/x", "a.ex"),
            ("https://a.ex/private/ok/y", "a.ex"),
            ("https://a.ex/pub", "a.ex"),
            ("https://b.ex/private/x", "b.ex"),  # no rules for b.ex
        ],
        ["url_canon", "host"],
    )
    rules = robots.rules_from_bodies(
        spark.createDataFrame([("a.ex", body)], ["host", "robots_txt"])
    )
    kept = {r["url_canon"] for r in robots.filter_allowed(cand, rules).collect()}
    assert kept == {
        "https://a.ex/private/ok/y",
        "https://a.ex/pub",
        "https://b.ex/private/x",
    }
    # python predicate agrees
    assert not robots.py_allowed("https://a.ex/private/x", dis, alw)
    assert robots.py_allowed("https://a.ex/private/ok/y", dis, alw)


# ---------------------------------------------------------------------------
# politeness scheduler
# ---------------------------------------------------------------------------

def test_politeness_budget_and_order(spark):
    urls = [(f"https://h{i % 3}.ex/p/{i}", f"h{i % 3}.ex") for i in range(90)]
    df = spark.createDataFrame(urls, ["url_canon", "host"])
    sched = scheduler.politeness_schedule(df, budget=4).collect()
    by_host = {}
    for r in sched:
        by_host.setdefault(r["host"], []).append(r)
    for host, rows in by_host.items():
        assert len(rows) == 4
        rows.sort(key=lambda r: r["slot"])
        # slots rank by (priority desc, url asc) — the oracle's exact order
        want = sorted(
            [u for u, h in urls if h == host],
            key=lambda u: (-scheduler.py_priority(u), u),
        )[:4]
        assert [r["url_canon"] for r in rows] == want
        assert [r["slot"] for r in rows] == [1, 2, 3, 4]


# ---------------------------------------------------------------------------
# full crawl parity vs sequential oracle + exact resume
# ---------------------------------------------------------------------------

ROBOTS_BODY = "User-agent: *\nDisallow: /o/1\n"
ROBOTS_HOSTS = ["host7.example.com", "host14.example.com"]


def _oracle_run(n_rounds: int):
    rules = {
        h: robots.parse_robots_txt(ROBOTS_BODY) for h in ROBOTS_HOSTS
    }
    oc = oracle.SequentialCrawler(_py_seeds(60), budget=2, rules=rules)
    oc.run(n_rounds)
    return oc


def _spark_rules(spark):
    return robots.rules_from_bodies(
        spark.createDataFrame(
            [(h, ROBOTS_BODY) for h in ROBOTS_HOSTS], ["host", "robots_txt"]
        )
    )


def _spark_run(spark, ckpt: str, n_rounds: int, start: bool = True):
    if start:
        crawl.init_crawl(spark, _spark_seeds(spark, 60), ckpt)
    rules = _spark_rules(spark)
    for _ in range(n_rounds):
        crawl.run_round(spark, ckpt, budget=2, rules=rules)


def _order_tuples(spark, ckpt):
    return [
        (r["round"], r["host"], r["slot"], r["url_canon"], r["priority"])
        for r in crawl.crawl_order(spark, ckpt).collect()
    ]


def test_crawl_matches_sequential_oracle(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    _spark_run(spark, ckpt, 3)
    oc = _oracle_run(3)

    got = _order_tuples(spark, ckpt)
    want = sorted(oc.order, key=lambda t: (t[0], t[1], t[2]))
    assert got == want

    got_seen = {
        r["url_canon"]
        for r in crawl.read_seen(spark, ckpt, crawl.latest_round(spark, ckpt)).collect()
    }
    assert got_seen == oc.seen


def test_resume_mid_crawl(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    _spark_run(spark, ckpt, 2)

    # simulate a crash mid-round-3: partial output, no manifest
    os.makedirs(os.path.join(ckpt, "rounds", "r=0003", "scheduled"), exist_ok=True)
    assert crawl.latest_round(spark, ckpt) == 2

    # resume: rounds 3..4 from the committed snapshot
    _spark_run(spark, ckpt, 2, start=False)
    oc = _oracle_run(4)
    assert _order_tuples(spark, ckpt) == sorted(
        oc.order, key=lambda t: (t[0], t[1], t[2])
    )
    got_seen = {
        r["url_canon"]
        for r in crawl.read_seen(spark, ckpt, 4).collect()
    }
    assert got_seen == oc.seen


def test_crawl_metrics_lineage(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    _spark_run(spark, ckpt, 1)
    rows = crawl.ParquetStateBackend(spark, ckpt).read(1, "metrics").collect()
    assert all(r["round"] == 1 for r in rows)
    # lineage totals reconcile with the manifest
    import json

    with open(os.path.join(ckpt, "MANIFEST-0001.json")) as f:
        man = json.load(f)
    assert sum(r["n_new"] for r in rows) == man["n_new"]
    # bloom health surfaced per partition: sane fill ratio and fpp estimate
    assert all(0.0 < r["fill_ratio"] < 1.0 for r in rows)
    assert all(0.0 <= r["est_fpp"] < 0.5 for r in rows)
    assert all(r["bloom_keys"] > 0 for r in rows)


def _jobs_in_group(spark, group: str) -> int:
    """Spark jobs run under ``group``, read from the status store — the
    way perfbench/sparkstats.py attributes jobs to a span."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    return sum(
        1
        for i in range(jobs.length())
        if jobs.apply(i).jobGroup().isDefined()
        and jobs.apply(i).jobGroup().get() == group
    )


def _same_rows(a, b) -> bool:
    return (a.count() == b.count() and a.exceptAll(b).count() == 0
            and b.exceptAll(a).count() == 0)


ROUND_JOB_BUDGET = 19


def test_round_commit_matches_reference_and_job_budget(spark, tmp_path):
    """Each round's one-pass filter commit (seen.commit_bloom) equals the
    reference composition bit for bit: ``bloom`` = merge_bloom(prev,
    build_bloom(new)), ``bloom_words`` = bloom_words(that), ``metrics`` =
    bloom_stats(that) + per-part n_new. A round (compaction included)
    stays within its Spark job budget."""
    ckpt = str(tmp_path / "ckpt")
    crawl.init_crawl(spark, _spark_seeds(spark, 60), ckpt)
    rules = _spark_rules(spark)
    sc = spark.sparkContext
    jobs = []
    for k in (1, 2):
        group = f"commit-test-{tmp_path.name}-{k}"
        sc.setJobGroup(group, f"round {k}")
        try:
            crawl.run_round(spark, ckpt, budget=2, rules=rules,
                            compact_every=2)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs.append(_jobs_in_group(spark, group))
    st = crawl.ParquetStateBackend(spark, ckpt)
    assert st.latest_compact() == 1
    assert all(0 < n <= ROUND_JOB_BUDGET for n in jobs), jobs

    for k in (0, 1, 2):
        prev = (
            st.read(k - 1, "bloom") if k
            else spark.createDataFrame([], seen.BLOOM_SCHEMA)
        )
        new_hashed = seen.with_url_hashes(
            st.read(k, "seen_delta").select("url_canon"),
            n_parts=crawl.N_PARTS,
        )
        merged = seen.merge_bloom(prev, seen.build_bloom(new_hashed)).cache()
        assert _same_rows(st.read(k, "bloom"), merged), k
        assert _same_rows(st.read(k, "bloom_words"),
                          seen.bloom_words(merged)), k
        if k:
            n_new = new_hashed.groupBy("part_id").agg(
                F.count(F.lit(1)).alias("n_new"))
            want = (
                seen.bloom_stats(merged)
                .withColumnRenamed("n_keys", "bloom_keys")
                .join(n_new, "part_id", "left")
                .select(
                    "part_id",
                    F.coalesce("n_new", F.lit(0)).alias("n_new"),
                    "bloom_keys", "fill_ratio", "est_fpp",
                    F.lit(k).alias("round"),
                )
            )
            assert _same_rows(st.read(k, "metrics"), want), k
        merged.unpersist()


def test_state_footers_match_schema_registry(spark, tmp_path):
    """Every physical surface a round commits has the parquet footer
    (names and types) of its SURFACE_SCHEMAS entry — the schema the pinned
    state reads apply without inferring it."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    ckpt = str(tmp_path / "ckpt")
    _spark_run(spark, ckpt, 1)
    for sub, ddl in crawl.SURFACE_SCHEMAS.items():
        want = [
            (f.name, f.dataType.simpleString())
            for f in spark.createDataFrame([], ddl).schema
        ]
        files = glob.glob(
            os.path.join(ckpt, "rounds", "r=0001", sub, "*.parquet")
        )
        assert files, sub
        for path in files:
            got = [
                (f.name, f.dataType.simpleString())
                for f in from_arrow_schema(pq.read_schema(path))
            ]
            assert got == want, (sub, path)


def test_bloom_realized_fpp_matches_estimate(spark):
    """A filter loaded at ~10 bits/key answers unseen keys maybe-seen at
    its estimated rate (within 2x). The partition hash must be independent
    of the probe hashes: a part_id taken from h1 pins the low bits of
    every probe index in a partition, and the realized rate climbs far
    above bloom_stats' estimate."""
    n_bits = 1 << 11
    n_keys = crawl.N_PARTS * n_bits // 10
    keys = seen.with_url_hashes(
        spark.range(n_keys).select(
            F.concat(F.lit("https://in.example/"), F.col("id").cast("string"))
            .alias("url_canon")),
        n_parts=crawl.N_PARTS,
    )
    bloom = seen.build_bloom(keys, n_bits_per_part=n_bits).cache()
    words = seen.bloom_words(bloom)
    unseen = seen.with_url_hashes(
        spark.range(50_000).select(
            F.concat(F.lit("https://out.example/"), F.col("id").cast("string"))
            .alias("url_canon")),
        n_parts=crawl.N_PARTS,
    )
    fp = seen.probe_bloom_jvm(unseen, words).filter("maybe_seen").count()
    est = seen.bloom_stats(bloom).agg(F.avg("est_fpp")).collect()[0][0]
    bloom.unpersist()
    realized = fp / 50_000
    assert est / 2 <= realized <= 2 * est, (realized, est)


def test_init_crawl_refuses_null_seed_url(spark, tmp_path):
    """A NULL url_canon seed fails init_crawl before the round-0 manifest:
    committed, it would sit in the frontier, the seen set and the filter,
    and be scheduled as a fetch slot. The failed commit leaves nothing a
    resume would read, and a clean init_crawl on the same path succeeds."""
    ckpt = str(tmp_path / "ckpt")
    seeds = _spark_seeds(spark, 10)
    bad = seeds.unionByName(
        spark.createDataFrame([(None, None)], "url_canon string, host string")
    )
    with pytest.raises(Exception, match="NULL url_canon"):
        crawl.init_crawl(spark, bad, ckpt)
    assert crawl.latest_round(spark, ckpt) is None
    crawl.init_crawl(spark, seeds, ckpt)
    assert crawl.read_manifest(spark, ckpt, 0)["n_frontier"] == 10


def test_resume_refuses_checkpoint_of_other_part_id_derivation(
        spark, tmp_path, monkeypatch):
    """A checkpoint committed under the earlier part_id derivation
    (pmod(h1, n), no recorded state format) must not resume: its seen set
    and filters sit in other partitions, and the probe would miss seen
    URLs. run_round raises, as it does for a format naming another
    derivation; a fresh init_crawl records the current one."""
    def old_hashes(df, url_col="url_canon", n_parts=64):
        h1 = F.xxhash64(F.col(url_col))
        return (
            df.withColumn("h1", h1)
            .withColumn("h2", F.xxhash64(F.col(url_col), F.lit(1)))
            .withColumn("part_id", F.pmod(h1, F.lit(n_parts)).cast("int"))
        )

    ckpt = str(tmp_path / "old")
    with monkeypatch.context() as m:
        m.setattr(seen, "with_url_hashes", old_hashes)
        m.setattr(crawl.ParquetStateBackend, "write_format",
                  lambda self, fmt: None)
        crawl.init_crawl(spark, _spark_seeds(spark, 20), ckpt)
    st = crawl.ParquetStateBackend(spark, ckpt)
    assert st.read_format() == {}
    with pytest.raises(ValueError, match="re-initialize"):
        crawl.run_round(spark, ckpt, budget=2)
    assert crawl.latest_round(spark, ckpt) == 0

    st.write_format({"part_id_hash": "pmod(h1, n_parts)"})
    with pytest.raises(ValueError, match="re-initialize"):
        crawl.run_round(spark, ckpt, budget=2)

    fresh = str(tmp_path / "fresh")
    crawl.init_crawl(spark, _spark_seeds(spark, 20), fresh)
    assert crawl.ParquetStateBackend(spark, fresh).read_format() == {
        "part_id_hash": seen.PART_ID_HASH,
        "filter_layout": crawl.SURFACE_SCHEMAS["filter"]}


def test_iceberg_backend_flagging(spark):
    """The Iceberg-native state backend exists behind a capability check:
    without the runtime jar it reports unavailable and refuses construction
    with a pointer to the conf recipe; the conf builder emits the catalog
    keys a spark-submit deployment needs."""
    from language_diversity_common_crawler_spark.frontier import iceberg

    assert iceberg.iceberg_available(spark, "crawl") is False
    with pytest.raises(RuntimeError, match="parquet snapshot backend"):
        iceberg.IcebergStateBackend(spark, "crawl")
    conf = iceberg.iceberg_conf("c1", "s3a://wh/x")
    assert conf["spark.sql.catalog.c1"] == "org.apache.iceberg.spark.SparkCatalog"
    assert conf["spark.sql.catalog.c1.warehouse"] == "s3a://wh/x"
    assert (conf["spark.sql.extensions"]
            == "org.apache.iceberg.spark.extensions"
               ".IcebergSparkSessionExtensions")
    # surface schemas cover every physical parquet-backend surface; the
    # filter's readable names are views of it, not surfaces
    assert set(crawl.SURFACE_SCHEMAS) == {
        "frontier", "scheduled", "seen_delta", "filter",
    }
    assert {crawl.physical_surface(v) for v in crawl.SURFACE_VIEWS} == {
        "filter"}


def test_parquet_backend_roundtrip(spark, tmp_path):
    """Backend contract drives the same state the module-level helpers
    read (write/read/exists/manifest/latest_round)."""
    from language_diversity_common_crawler_spark.frontier.crawl import (
        ParquetStateBackend,
    )

    st = ParquetStateBackend(spark, str(tmp_path / "be"))
    df = spark.createDataFrame([("u1", "h1")], ["url_canon", "host"])
    n = st.write(df, 0, "frontier", count=True)
    assert n == 1
    assert st.exists(0, "frontier") and not st.exists(1, "frontier")
    assert [tuple(r) for r in st.read(0, "frontier").collect()] == [("u1", "h1")]
    assert st.latest_round() is None
    st.write_manifest(0, {"round": 0, "n_frontier": 1, "n_scheduled": 0,
                          "n_new": 1})
    assert st.latest_round() == 0
    assert st.read_manifest(0)["n_frontier"] == 1


def test_robots_group_boundaries_and_longest_match(spark):
    # a bot-specific group after a non-UA field must NOT leak into '*'
    body = "User-agent: *\nCrawl-delay: 10\nUser-agent: badbot\nDisallow: /\n"
    dis, alw = robots.parse_robots_txt(body)
    assert dis == [] and alw == []
    assert robots.parse_crawl_delay(body) == 10

    # longest-match: short Allow must not override a longer Disallow
    assert not robots.py_allowed("https://a.ex/private/x", ["/private/"], ["/p"])
    # equal/longer Allow wins
    assert robots.py_allowed(
        "https://a.ex/private/ok/y", ["/private/"], ["/private/ok"]
    )
    # Spark predicate agrees
    cand = spark.createDataFrame(
        [("https://a.ex/private/x", "a.ex"), ("https://a.ex/private/ok/y", "a.ex")],
        ["url_canon", "host"],
    )
    rules = robots.rules_from_bodies(
        spark.createDataFrame(
            [("a.ex", "User-agent: *\nDisallow: /private/\nAllow: /p\n"
              "Allow: /private/ok\n")],
            ["host", "robots_txt"],
        )
    )
    kept = {r["url_canon"] for r in robots.filter_allowed(cand, rules).collect()}
    assert kept == {"https://a.ex/private/ok/y"}


def test_canonicalize_mid_url_tracking_params():
    assert (
        oracle.py_canonicalize("https://h.ex/p?utm_source=x&id=5")
        == "https://h.ex/p?id=5"
    )
    # arbitrarily long runs of consecutive tracked params collapse in one
    # pass (the run-collapsing _TRACK_MID contract)
    run = "&".join(f"utm_p{chr(97 + i)}=v" for i in range(6))
    assert (
        oracle.py_canonicalize(f"https://h.ex/p?{run}&id=5&ref=z")
        == "https://h.ex/p?id=5"
    )
    assert oracle.py_canonicalize(f"https://h.ex/p?{run}") == "https://h.ex/p"
    assert (
        oracle.py_canonicalize("https://h.ex/p?id=1&utm_a=2&utm_b=3&ref=4")
        == "https://h.ex/p?id=1"
    )
    assert oracle.py_canonicalize("https://h.ex/p?utm_a=1") == "https://h.ex/p"


def test_canonicalize_mid_params_spark_parity(spark):
    raws = [
        "https://H.EX/p?utm_source=x&id=5",
        "https://h.ex/p?id=1&utm_a=2&utm_b=3&ref=4",
        "HTTPS://h.ex:443/a/../b?ref=x&keep=1#frag",
    ]
    df = spark.createDataFrame([(r,) for r in raws], ["url_raw"])
    got = {
        r["url_raw"]: r["url_canon"]
        for r in urlgen.with_canonical(df).collect()
    }
    for r in raws:
        assert got[r] == oracle.py_canonicalize(r)


# Adversarial corpus for the three-way canonicalize/host contract: line
# terminators (passthrough + host ''), '#' whose fragment strip would be
# engine-divergent next to a terminator, Unicode one-to-many lowercase
# (U+0130 grows under lower()), ports, dot-segments, tracking runs,
# scheme-less and malformed shapes, empties.
_ADVERSARIAL_RAWS = [
    "http://h.ex/a\n",
    "http://h.ex/a\nb",
    "http://h.ex\ra",
    "http://h.ex#frag\nx",
    "\n",
    "http://\u0130.ex/x",
    "http://H.\u0130X:443/P?utm_a=1&id=2#f",
    "HTTPS://Host1.Example.COM:443/x/../o/5?id=5&utm_source=feed&ref=home#s",
    "http://h.ex:80",
    "http://h.ex:8080/a",
    "http://h.ex:4443/a",
    "http://:443/x",
    "http://h.ex?q=1/slash",
    "http:///nohost",
    "http://",
    "no-scheme-at-all",
    "1http://bad.scheme/x",
    "ht~tp://bad.chars/x",
    "",
    "ftp+ssh-1.x://Mixed.Case/path",
    "https://h.ex/p?utm_a=1&utm_b=2&utm_c=3",
    "https://h.ex/a/../b/../c",
]


def test_canonicalize_adversarial_three_way(spark):
    """with_canonical (staged primitives), inline canonicalize_expr (Spark
    dialect), and py_canonicalize/py_host agree on every adversarial raw —
    including NULL propagation. DuckDB agrees on the ASCII subset; non-ASCII
    hosts are out of the oracle contract (DuckDB's lower() maps U+0130 to
    'i' where Java/Python produce 'i'+U+0307 — real crawl hosts are IDNA
    punycode ASCII before they ever reach the frontier)."""
    import duckdb

    rows = [(r,) for r in _ADVERSARIAL_RAWS] + [(None,)]
    df = spark.createDataFrame(rows, ["url_raw"])
    staged = {
        r["url_raw"]: (r["url_canon"], r["host"])
        for r in urlgen.with_canonical(df).collect()
    }
    inline = {
        r["url_raw"]: (r["url_canon"], r["host"])
        for r in df.withColumn(
            "url_canon", F.expr(urlgen.canonicalize_expr("url_raw", "spark"))
        )
        .withColumn("host", F.expr(urlgen.host_expr("url_canon", "spark")))
        .collect()
    }
    assert staged[None] == (None, None)
    assert inline[None] == (None, None)
    for raw in _ADVERSARIAL_RAWS:
        want = oracle.py_canonicalize(raw)
        want_host = oracle.py_host(want)
        assert staged[raw] == (want, want_host), f"staged mismatch on {raw!r}"
        assert inline[raw] == (want, want_host), f"inline mismatch on {raw!r}"

    ascii_raws = [r for r in _ADVERSARIAL_RAWS if r.isascii()]
    con = duckdb.connect()
    canon = urlgen.canonicalize_expr("url_raw", "duckdb")
    host = urlgen.host_expr("url_canon", "duckdb")
    duck = {
        row[0]: (row[1], row[2])
        for row in con.execute(
            f"WITH raws AS (SELECT unnest(?) AS url_raw) "
            f"SELECT url_raw, url_canon, {host} AS host FROM ("
            f"SELECT url_raw, {canon} AS url_canon FROM raws)",
            [ascii_raws],
        ).fetchall()
    }
    for raw in ascii_raws:
        want = oracle.py_canonicalize(raw)
        assert duck[raw] == (want, oracle.py_host(want)), (
            f"duckdb mismatch on {raw!r}"
        )


def test_surt_adversarial_three_way(spark):
    """surt_expr (Spark), surt_expr (DuckDB, ASCII subset) and py_surt agree
    on the canonicalized adversarial corpus plus SURT-specific shapes
    (www-strip, non-default ports, deep subdomains, NULL propagation)."""
    import duckdb

    extra = [
        "https://www.example.com/",
        "https://sub.www.example.com:8080/a/b?q=1",
        "https://a.b.c.d.example.co.uk/deep/path",
        "https://www.ex/",
        "https://h.ex:4443/a",
    ]
    canons = [oracle.py_canonicalize(r) for r in _ADVERSARIAL_RAWS] + extra
    rows = [(c,) for c in canons] + [(None,)]
    df = spark.createDataFrame(rows, ["url_canon"])
    got = {
        r["url_canon"]: r["surt"]
        for r in df.withColumn(
            "surt", F.expr(urlgen.surt_expr("url_canon", "spark"))
        ).collect()
    }
    assert got[None] is None
    for c in canons:
        assert got[c] == oracle.py_surt(c), f"spark surt mismatch on {c!r}"
    # www-strip and port survival, pinned concretely
    assert got["https://www.example.com/"] == "com,example)/"
    assert (
        got["https://sub.www.example.com:8080/a/b?q=1"]
        == "com,example,www,sub:8080)/a/b?q=1"
    )

    ascii_canons = [c for c in canons if c.isascii()]
    con = duckdb.connect()
    duck = dict(
        con.execute(
            "SELECT url_canon, "
            + urlgen.surt_expr("url_canon", "duckdb")
            + " FROM (SELECT unnest(?) AS url_canon)",
            [ascii_canons],
        ).fetchall()
    )
    for c in ascii_canons:
        assert duck[c] == oracle.py_surt(c), f"duckdb surt mismatch on {c!r}"


def test_extract_links_keeps_fragment_hrefs(spark):
    pages = spark.createDataFrame(
        [("https://h.ex/page", '<a href="https://h.ex/doc#sec">d</a>'
          '<a href="/rel#x">r</a>')],
        ["url", "html_text"],
    )
    from language_diversity_common_crawler_spark.frontier import links

    got = {r["link_url"] for r in links.extract_links(pages).collect()}
    assert got == {"https://h.ex/doc", "https://h.ex/rel"}


def test_politeness_hot_host_skew_exact(spark):
    """The salted two-phase top-k must produce the exact per-host
    (priority DESC, url ASC) order when one host dwarfs the others —
    the skew condition the two-phase design exists for (one hot host
    with 5,000 URLs vs 50 cold hosts with 3 each; budget 5)."""
    urls = [(f"https://hot.ex/p/{i}", "hot.ex") for i in range(5000)]
    urls += [
        (f"https://cold{c}.ex/p/{i}", f"cold{c}.ex")
        for c in range(50)
        for i in range(3)
    ]
    df = spark.createDataFrame(urls, ["url_canon", "host"]).repartition(16)
    sched = scheduler.politeness_schedule(df, budget=5).collect()
    by_host = {}
    for r in sched:
        by_host.setdefault(r["host"], []).append(r)
    assert len(by_host["hot.ex"]) == 5
    assert all(len(v) == 3 for h, v in by_host.items() if h != "hot.ex")
    for host, rows in by_host.items():
        rows.sort(key=lambda r: r["slot"])
        want = sorted(
            [u for u, h in urls if h == host],
            key=lambda u: (-scheduler.py_priority(u), u),
        )[: len(rows)]
        assert [r["url_canon"] for r in rows] == want
        assert [r["slot"] for r in rows] == list(range(1, len(rows) + 1))


def test_seen_compaction_parity_and_bucketed_join(spark, tmp_path):
    """Periodic seen-set compaction (url_canon-bucketed rewrite) must not
    change crawl semantics, and the exact anti-join against the compacted
    table must read it WITHOUT an exchange on the seen side — the whole
    point of bucketing the 10^10-row set."""
    ckpt = str(tmp_path / "ckpt")
    crawl.init_crawl(spark, _spark_seeds(spark, 60), ckpt)
    rules = _spark_rules(spark)
    for _ in range(5):
        crawl.run_round(spark, ckpt, budget=2, rules=rules, compact_every=2)

    # identical order + seen set vs the sequential oracle
    oc = _oracle_run(5)
    assert _order_tuples(spark, ckpt) == sorted(
        oc.order, key=lambda t: (t[0], t[1], t[2])
    )
    st = crawl.ParquetStateBackend(spark, ckpt)
    c = st.latest_compact()
    assert c is not None and c >= 2
    # superseded compactions (full copies of the seen set) are reclaimed:
    # exactly one marker+table remains
    markers = [n for n in os.listdir(ckpt) if n.startswith("COMPACT-")]
    assert markers == [f"COMPACT-{c:04d}.json"]
    compact_dirs = [
        r for r in os.listdir(os.path.join(ckpt, "rounds"))
        if os.path.isdir(os.path.join(ckpt, "rounds", r, "seen_compact"))
    ]
    assert compact_dirs == [f"r={c:04d}"]
    last = crawl.latest_round(spark, ckpt)
    compacted, deltas = st.read_seen_split(last)
    assert compacted is not None
    full = compacted if deltas is None else compacted.unionByName(deltas)
    assert {r["url_canon"] for r in full.collect()} == oc.seen

    # a fresh session would re-register the table from its path; simulate
    # by dropping it and re-reading through the split API
    spark.sql(f"DROP TABLE {st._compact_table(c)}")
    compacted, _ = st.read_seen_split(last)
    assert compacted.count() > 0
    _assert_bucketed_antijoin(spark, compacted, oc.seen)


def _assert_bucketed_antijoin(spark, compacted, seen_urls) -> None:
    """Plan shape: disable broadcast so the join planner must pick SMJ,
    then assert the compacted side scans its buckets with no exchange
    (exactly one Exchange in the plan — the small probe side's)."""
    thresholds = {
        "spark.sql.autoBroadcastJoinThreshold": None,
        "spark.sql.adaptive.autoBroadcastJoinThreshold": None,
    }
    for k in thresholds:
        try:
            thresholds[k] = spark.conf.get(k)
        except Exception:
            thresholds[k] = None
        spark.conf.set(k, "-1")
    try:
        probe = spark.createDataFrame(
            [(u,) for u in sorted(seen_urls)[:5]]
            + [("https://nowhere.example.com/x",)],
            ["url_canon"],
        )
        anti = probe.join(compacted, "url_canon", "left_anti")
        plan = anti._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert plan.count("Exchange") == 1, plan
        assert anti.count() == 1
    finally:
        for k, v in thresholds.items():
            if v is not None:
                spark.conf.set(k, v)


def test_seen_compaction_sized_to_seen_set(spark, tmp_path, monkeypatch):
    """Compaction writes ceil(n_seen / SEEN_ROWS_PER_BUCKET) buckets, one
    parquet file each, records that count in its marker, and re-registers
    the table from the marker (not from a constant) after a DROP, keeping
    the exchange-free bucketed anti-join; the crawl still matches the
    sequential oracle."""
    import glob
    import json
    import math

    rows = 64
    monkeypatch.setattr(crawl, "SEEN_ROWS_PER_BUCKET", rows)
    ckpt = str(tmp_path / "ckpt")
    crawl.init_crawl(spark, _spark_seeds(spark, 60), ckpt)
    rules = _spark_rules(spark)
    for _ in range(4):
        crawl.run_round(spark, ckpt, budget=2, rules=rules, compact_every=2)

    oc = _oracle_run(4)
    assert _order_tuples(spark, ckpt) == sorted(
        oc.order, key=lambda t: (t[0], t[1], t[2])
    )
    st = crawl.ParquetStateBackend(spark, ckpt)
    c = st.latest_compact()
    assert c == 3
    n_seen = sum(st.read_manifest(k)["n_new"] for k in range(c + 1))
    with open(os.path.join(ckpt, f"COMPACT-{c:04d}.json")) as f:
        n_buckets = json.load(f)["n_buckets"]
    assert n_buckets == math.ceil(n_seen / rows) >= 4
    files = glob.glob(
        os.path.join(ckpt, "rounds", f"r={c:04d}", "seen_compact", "*.parquet"))
    assert len(files) == n_buckets

    compacted, deltas = st.read_seen_split(4)
    in_compacted = {r["url_canon"] for r in compacted.collect()}
    assert len(in_compacted) == n_seen
    assert in_compacted | {
        r["url_canon"] for r in deltas.collect()} == oc.seen

    spark.sql(f"DROP TABLE {st._compact_table(c)}")
    compacted, _ = st.read_seen_split(4)
    info = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(
            f"DESCRIBE TABLE EXTENDED {st._compact_table(c)}").collect()
    }
    assert int(info["Num Buckets"]) == n_buckets
    _assert_bucketed_antijoin(spark, compacted, in_compacted)


def test_filter_write_crash_leaves_round_uncommitted(
        spark, tmp_path, monkeypatch):
    """A fault in any surface write, of init_crawl (frontier, seen_delta,
    filter) or of a round (scheduled, seen_delta, filter, frontier),
    propagates and leaves that round without a manifest. Faulted at each
    write in turn on one checkpoint and then re-run, the crawl order and
    seen set equal the sequential oracle's."""
    ckpt = str(tmp_path / "ckpt")
    write = crawl.ParquetStateBackend.write

    def crash_at(surface, k, step):
        def failing_write(self, df, k, sub, count=False):
            if sub == surface:
                raise OSError(f"injected fault writing round {k}'s {sub}")
            return write(self, df, k, sub, count)

        with monkeypatch.context() as m:
            m.setattr(crawl.ParquetStateBackend, "write", failing_write)
            with pytest.raises(OSError, match=f"round {k}'s {surface}"):
                step()
        assert not os.path.exists(
            os.path.join(ckpt, f"MANIFEST-{k:04d}.json")), (surface, k)

    seeds = _spark_seeds(spark, 60)
    for surface in ("frontier", "seen_delta", "filter"):
        crash_at(surface, 0, lambda: crawl.init_crawl(spark, seeds, ckpt))
        assert crawl.latest_round(spark, ckpt) is None
    crawl.init_crawl(spark, seeds, ckpt)

    rules = _spark_rules(spark)
    for surface in ("scheduled", "seen_delta", "filter", "frontier"):
        crash_at(surface, 1, lambda: crawl.run_round(
            spark, ckpt, budget=2, rules=rules))
        assert crawl.latest_round(spark, ckpt) == 0

    for _ in range(2):
        crawl.run_round(spark, ckpt, budget=2, rules=rules)
    oc = _oracle_run(2)
    assert _order_tuples(spark, ckpt) == sorted(
        oc.order, key=lambda t: (t[0], t[1], t[2])
    )
    assert {r["url_canon"]
            for r in crawl.read_seen(spark, ckpt, 2).collect()} == oc.seen


def test_resume_refuses_checkpoint_of_other_filter_layout(spark, tmp_path):
    """A checkpoint whose state format names the current part_id
    derivation but another filter layout must not resume: its pinned
    reads of the `filter` columns it lacks would return NULL words, every
    candidate would probe new, and seen URLs would be crawled again.
    Refused: a format with no filter layout (written before the filter
    became one surface), and the layout that stored each bitset twice,
    as `bits BINARY` and as `words`."""
    ckpt = str(tmp_path / "ckpt")
    crawl.init_crawl(spark, _spark_seeds(spark, 20), ckpt)
    st = crawl.ParquetStateBackend(spark, ckpt)
    two_forms = ("part_id INT, bits BINARY, n_bits BIGINT, n_hashes INT, "
                 "n_keys BIGINT, words ARRAY<BIGINT>, n_new BIGINT, "
                 "fill_ratio DOUBLE, est_fpp DOUBLE, round INT")
    for layout in ({}, {"filter_layout": two_forms}):
        st.write_format({"part_id_hash": seen.PART_ID_HASH, **layout})
        with pytest.raises(ValueError, match="re-initialize"):
            crawl.run_round(spark, ckpt, budget=2)
        assert crawl.latest_round(spark, ckpt) == 0


def test_sitemaps_expr_three_way(spark):
    """sitemaps_expr (both dialects) and py_sitemaps agree on RFC 9309 §2.3
    edge shapes: any-case field name, no/extra whitespace, multiple lines,
    declarations inside a group (still file-global), none at all."""
    import duckdb

    from language_diversity_common_crawler_spark.frontier import robots

    bodies = [
        "User-agent: *\nDisallow: /p/\nSitemap: https://h.ex/sm.xml",
        "SITEMAP:https://h.ex/a.xml\nsitemap:  https://h.ex/b.xml  ",
        "User-agent: x\nSitemap: https://h.ex/in-group.xml\nAllow: /",
        "User-agent: *\nDisallow: /",
        "",
        # CRLF file (Java's multiline $ matches before \r\n; RE2/Python
        # need the explicit \r? — the exact three-way divergence pinned)
        "User-agent: *\r\nSitemap: https://h.ex/crlf.xml\r\nDisallow: /",
        "  Sitemap : https://h.ex/ws.xml # comment",
    ]
    rows = [(i, b) for i, b in enumerate(bodies)]
    df = spark.createDataFrame(rows, ["i", "robots_txt"])
    got = {
        r["i"]: list(r["sm"])
        for r in df.selectExpr(
            "i", robots.sitemaps_expr("robots_txt", "spark") + " AS sm"
        ).collect()
    }
    con = duckdb.connect()
    duck = dict(
        con.execute(
            "SELECT i, " + robots.sitemaps_expr("robots_txt", "duckdb")
            + " FROM (SELECT unnest(?) AS i, unnest(?) AS robots_txt)",
            [list(range(len(bodies))), bodies],
        ).fetchall()
    )
    for i, b in enumerate(bodies):
        want = robots.py_sitemaps(b)
        assert got[i] == want, (i, got[i], want)
        assert list(duck[i]) == want, (i, duck[i], want)
    assert got[1] == ["https://h.ex/a.xml", "https://h.ex/b.xml"]
    assert got[3] == [] and got[4] == []


# ---------------------------------------------------------------------------
# RFC 9309 §2.2.3 wildcards ('*' anywhere, trailing '$')
# ---------------------------------------------------------------------------

def test_robots_wildcard_patterns(spark):
    body = (
        "User-agent: *\n"
        "Disallow: /*.php$\n"
        "Disallow: /tmp*\n"
        "Allow: /tmp/keep\n"
        "Disallow: /lit$eral\n"   # '$' mid-pattern is literal
    )
    cand = spark.createDataFrame(
        [
            ("https://a.ex/index.php", "a.ex"),        # *.php$ -> blocked
            ("https://a.ex/index.php?x=1", "a.ex"),    # not anchored match
            ("https://a.ex/tmp/junk", "a.ex"),         # /tmp* -> blocked
            ("https://a.ex/tmp/keep/x", "a.ex"),       # Allow longer -> kept
            ("https://a.ex/lit$eral/x", "a.ex"),       # literal $ -> blocked
            ("https://a.ex/literal", "a.ex"),          # no match -> kept
        ],
        ["url_canon", "host"],
    )
    rules = robots.rules_from_bodies(
        spark.createDataFrame([("a.ex", body)], ["host", "robots_txt"])
    )
    kept = {
        r["url_canon"] for r in robots.filter_allowed(cand, rules).collect()
    }
    assert kept == {
        "https://a.ex/index.php?x=1",
        "https://a.ex/tmp/keep/x",
        "https://a.ex/literal",
    }
    # python mirror agrees on every candidate
    dis, alw = robots.parse_robots_txt(body)
    for r in cand.collect():
        assert robots.py_allowed(r["url_canon"], dis, alw) == (
            r["url_canon"] in kept
        ), r["url_canon"]


def test_robots_wildcard_spark_python_parity_fuzz(spark):
    # adversarial pattern soup: regex metachars, *, trailing/mid $,
    # empty-ish paths — Spark's JVM match and py_allowed must agree
    patterns = [
        "/a*b$", "/*.x$", "/q?y", "/p(1)", "/b[2]", "/c{3}", "/d|e",
        "/f\\g", "/*", "/$", "/exact$", "/pre",
    ]
    body = "User-agent: *\n" + "".join(
        f"Disallow: {p}\n" for p in patterns
    )
    paths = [
        "/a_middle_b", "/a_middle_b/tail", "/z.x", "/z.x/t", "/q?y",
        "/p(1)", "/b[2]", "/c{3}", "/d|e", "/f\\g", "/anything", "/",
        "/exact", "/exact/no", "/pre", "/prefix",
    ]
    cand = spark.createDataFrame(
        [(f"https://w.ex{p}", "w.ex") for p in paths], ["url_canon", "host"]
    )
    rules = robots.rules_from_bodies(
        spark.createDataFrame([("w.ex", body)], ["host", "robots_txt"])
    )
    kept = {
        r["url_canon"] for r in robots.filter_allowed(cand, rules).collect()
    }
    dis, alw = robots.parse_robots_txt(body)
    for p in paths:
        url = f"https://w.ex{p}"
        assert robots.py_allowed(url, dis, alw) == (url in kept), p


# ---------------------------------------------------------------------------
# registered domain (PSL-lite) + domain-grain politeness
# ---------------------------------------------------------------------------

def test_regdomain_spark_python_parity(spark):
    hosts = [
        "a.shop.co.uk", "x.y.example.com", "example.com", "co.uk",
        "deep.a.b.com.cn", "localhost", "shard1.news.org.au", "w.co.kr",
    ]
    df = spark.createDataFrame([(h,) for h in hosts], ["host"])
    got = {
        r["host"]: r["d"]
        for r in df.select(
            "host",
            F.expr(urlgen.regdomain_expr("host", "spark")).alias("d"),
        ).collect()
    }
    for h in hosts:
        assert got[h] == urlgen.py_regdomain(h), h


def test_domain_politeness_groups_subdomains(spark):
    # 6 subdomains of one registrable domain, budget 2: only 2 fetch
    # slots total (per-host politeness would have granted 6)
    from language_diversity_common_crawler_spark.frontier import scheduler

    cands = spark.createDataFrame(
        [(f"https://s{i}.shop.co.uk/p", f"s{i}.shop.co.uk")
         for i in range(6)],
        ["url_canon", "host"],
    ).withColumn("domain", F.expr(urlgen.regdomain_expr("host", "spark")))
    out = scheduler.politeness_schedule(
        cands, budget=2, host_col="domain"
    ).collect()
    assert len(out) == 2
    assert {r["domain"] for r in out} == {"shop.co.uk"}
    assert sorted(r["slot"] for r in out) == [1, 2]


def test_snapshot_url_diff_matches_python(spark):
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    got = {
        r["url"]: (r["a_day"], r["b_day"], r["status"])
        for r in entrymod.queries()["snapshot_url_diff"](spark, sf).collect()
    }
    log = entrymod._crawl_log_df(spark, sf).collect()
    split = entrymod._SNAPSHOT_SPLIT_DAY
    per: dict[str, dict] = {}
    for r in log:
        d = per.setdefault(r["url"], {"a": None, "b": None, "p": r["period"]})
        if r["crawl_day"] <= split:
            d["a"] = max(d["a"] or 0, r["crawl_day"])
        else:
            d["b"] = max(d["b"] or 0, r["crawl_day"])
    assert set(got) == set(per)
    statuses = set()
    for url, d in per.items():
        if d["a"] is None:
            want = "added"
        elif d["b"] is None:
            want = "removed"
        elif d["a"] - d["a"] % d["p"] != d["b"] - d["b"] % d["p"]:
            want = "changed"
        else:
            want = "unchanged"
        assert got[url] == (d["a"], d["b"], want), url
        statuses.add(want)
    # the synthetic log must exercise more than one class
    assert len(statuses) >= 2, statuses


# ---------------------------------------------------------------------------
# URL spam scoring
# ---------------------------------------------------------------------------

def test_url_spam_spark_python_parity(spark):
    urls = [
        "https://a.ex/",
        "https://a.ex/one/two/three/four/five/six",
        "https://a.ex/p?id=1&utm=2&x=3&y=4",
        "https://spam.ex/2024/01/02/0123456789/0123456789",
        "https://a.ex/" + "d" * 300,
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url_canon"])
    ex = urlgen.url_spam_exprs("url_canon", "spark")
    got = {
        r["url_canon"]: r
        for r in df.select(
            "url_canon", *[F.expr(e).alias(k) for k, e in ex.items()]
        ).collect()
    }
    for u in urls:
        want = urlgen.py_url_spam(u)
        for k, v in want.items():
            assert got[u][k] == v, (u, k, got[u][k], v)
    # the deep/parametrized/digit-soup URLs must actually score higher
    assert got[urls[1]]["spam_score"] > got[urls[0]]["spam_score"]
    assert got[urls[3]]["spam_score"] > got[urls[0]]["spam_score"]


def test_url_template_trap_detection(spark):
    # 1200 pagination URLs on one template + 3 one-off URLs: only the
    # template crosses the trap threshold; digit-bearing HOSTS must not
    # merge (host1/host2 are distinct sites, not one trap)
    urls = [(f"https://t.ex/page/{i}?cal=2024-{i % 12}", "t.ex")
            for i in range(1200)]
    urls += [(f"https://t.ex/{w}", "t.ex") for w in ("a", "b", "c")]
    urls += [(f"https://host{i}.ex/p/1", f"host{i}.ex") for i in range(5)]
    df = spark.createDataFrame(urls, ["url_canon", "host"])
    t = F.expr(urlgen.url_template_expr("url_canon", "spark"))
    agg = (
        df.select(t.alias("template"))
        .groupBy("template")
        .count()
        .collect()
    )
    by_t = {r["template"]: r["count"] for r in agg}
    assert by_t["https://t.ex/page/{n}?cal={n}-{n}"] == 1200
    # the five digit-hosts stay five separate templates
    for i in range(5):
        assert by_t[f"https://host{i}.ex/p/{{n}}"] == 1
    # python mirror agrees on the template key
    assert (
        urlgen.py_url_template("https://t.ex/page/7?cal=2024-7")
        == "https://t.ex/page/{n}?cal={n}-{n}"
    )
    assert urlgen.py_url_template("https://host3.ex/p/1") == (
        "https://host3.ex/p/{n}"
    )


def test_url_template_pathless_query_urls(spark):
    # canonicalize can emit path-less 'https://t.ex?page=2'; the query
    # must still be templated (a '[^/]*' prefix would swallow it and a
    # query-only pagination trap would never aggregate)
    urls = [(f"https://t.ex?page={i}",) for i in range(30)]
    df = spark.createDataFrame(urls, ["url_canon"])
    t = F.expr(urlgen.url_template_expr("url_canon", "spark"))
    agg = df.select(t.alias("template")).groupBy("template").count().collect()
    assert len(agg) == 1
    assert agg[0]["template"] == "https://t.ex?page={n}"
    assert agg[0]["count"] == 30
    assert urlgen.py_url_template("https://t.ex?page=7") == (
        "https://t.ex?page={n}"
    )
