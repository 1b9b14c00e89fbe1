"""Iterative crawl rounds over snapshot tables, with exact mid-crawl resume
(north rule: "resumable from checkpoint with per-partition lineage +
metrics").

Each round is one batch job over the frontier table:

    frontier_k  --politeness schedule-->  scheduled_k      (fetch slots)
    scheduled_k --link discovery------->  discovered_k     (pure function)
    discovered_k --bloom + anti-join--->  new_k            (vs URL-seen set)
    frontier_{k+1} = (frontier_k \\ scheduled_k) UNION new_k
    seen_{k+1}     = seen_k UNION new_k           (seen = ever-enqueued)

State between rounds is a set of immutable parquet snapshot directories —
the sandbox stand-in for Iceberg snapshot commits (same shape: append-only
deltas for the seen set, full small snapshot for the pending frontier, and a
manifest written LAST as the atomic commit marker; a crash mid-round leaves
no manifest, so resume re-runs the round from the previous committed state,
exactly like an uncommitted Iceberg snapshot). Per-round, per-hash-partition
lineage rows (row counts in/out by stage) read back as ``metrics``.
``init_crawl`` also records the checkpoint's state format (the ``part_id``
derivation, ``seen.PART_ID_HASH``, and the ``filter`` surface's layout),
and ``run_round`` refuses to resume a checkpoint whose format is missing
or differs: its seen set and filters are keyed by other partitions, or its
pinned filter reads would return NULL words, so the probe would miss seen
URLs.

A round pays a fixed cost per Spark job, not per URL, so the commit keeps
the job count down, and sizes what it writes to its data:

- The filter state commits as ONE uncached write of the ``filter``
  surface (``seen.commit_bloom``: one cogrouped Arrow UDF over the new
  URLs' hashes and the previous filter). Each partition's bitset is
  stored once, in the ``words`` form the probe reads, next to its
  lineage metrics. ``bloom``, ``bloom_words`` and ``metrics`` are column
  projections of it (``SURFACE_VIEWS``).
- Seen-set compaction writes ``ceil(n_seen / SEEN_ROWS_PER_BUCKET)``
  buckets, one file each.
- Every snapshot read is pinned to its surface's schema in
  ``SURFACE_SCHEMAS``, so no read starts a schema-inference job. The
  probe's geometry check is one small ``collect``.

A round with compaction runs 18 Spark jobs on 4 cores.

Everything that determines crawl order is a pure function of the data
(priority hash, url tiebreak, discovery condition) — never of partitioning
or wall clock — so the distributed rounds reproduce the sequential oracle's
crawl order and URL-seen set exactly (tests/test_frontier.py).

``run_round`` is the only round body. The benchmarks (``bench.py``,
``tools/scaling_bench.py``, perfbench's ``crawl`` workload) time it on a
committed round-0 checkpoint, one fresh copy per timed round.

The reference has no frontier (it fetches one hardcoded segment,
/root/reference/main.py:85-87); this is the BASELINE.json extension.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_60
from . import fsio
from . import robots as robots_mod
from . import scheduler, seen, urlgen

N_PARTS = seen.N_PARTS  # canonical hash-range partition count (seen.py)
DISCOVERY_FANOUT = 2
DISCOVERY_MOD = 3  # child kept iff md5_60('disc:'+child) % 3 != 0


# ---------------------------------------------------------------------------
# deterministic link discovery (pure function — mirrored in oracle.py)
# ---------------------------------------------------------------------------

def discover_children(
    scheduled: DataFrame, url_col: str = "url_canon"
) -> DataFrame:
    """Child URLs of fetched pages: ``<url-sans-query>/c<i>`` for i in
    1..FANOUT, kept iff a 60-bit hash of the child is nonzero mod
    DISCOVERY_MOD. Stand-in for real outlink extraction — deterministic so
    the sequential oracle reproduces it; swap with an href-extracting
    pandas UDF on real pages. Not deduplicated: the unseen chain dedups
    (seen.filter_unseen(dedupe=True)) in the one exchange it pays anyway."""
    base = F.regexp_replace(F.col(url_col), r"[?#].*$", "")
    children = F.array(
        *[F.concat(base, F.lit(f"/c{i}")) for i in range(1, DISCOVERY_FANOUT + 1)]
    )
    out = scheduled.select(
        F.col("host"), F.explode(children).alias(url_col)
    )
    keep = md5_60(F.concat(F.lit("disc:"), F.col(url_col))) % DISCOVERY_MOD != 0
    return out.filter(keep)


# ---------------------------------------------------------------------------
# snapshot state backends
# ---------------------------------------------------------------------------

# The one schema registry of the physical state surfaces (Spark DDL column
# lists). The parquet backend reads every snapshot with it — no
# schema-inference job per read — and the Iceberg backend declares its
# tables from it; a test checks the written parquet footers against it.
# ``filter`` rows carry their round; the Iceberg backend adds ``round`` to
# the others.
SURFACE_SCHEMAS = {
    "frontier": "url_canon STRING, host STRING",
    "scheduled": "host STRING, url_canon STRING, priority BIGINT, slot INT",
    "seen_delta": "url_canon STRING, host STRING, part_id INT",
    # seen.COMMIT_SCHEMA + round: the merged filter and the per-partition
    # lineage metrics, written in one pass
    "filter": ("part_id INT, words ARRAY<BIGINT>, n_bits BIGINT, "
               "n_hashes INT, n_keys BIGINT, n_new BIGINT, "
               "fill_ratio DOUBLE, est_fpp DOUBLE, round INT"),
}

# Readable names that are column projections of a physical surface:
# name -> (surface, SQL select list). Both backends' ``read`` resolve them
# through read_surface, so a read of ``bloom`` skips the metric columns of
# ``filter``. ``bloom_words``, the name the probe reads, is the same
# projection.
SURFACE_VIEWS = {
    "bloom": ("filter", tuple(seen.BLOOM_SCHEMA.names)),
    "bloom_words": ("filter", tuple(seen.BLOOM_SCHEMA.names)),
    "metrics": ("filter", ("part_id", "n_new", "n_keys AS bloom_keys",
                           "fill_ratio", "est_fpp", "round")),
}


def physical_surface(sub: str) -> str:
    """The physical surface that holds ``sub``."""
    return SURFACE_VIEWS[sub][0] if sub in SURFACE_VIEWS else sub


def read_surface(read_physical, k: int, sub: str) -> DataFrame:
    """Round k's ``sub``: ``read_physical(k, surface)``, projected to the
    view's columns when ``sub`` names a view."""
    if sub not in SURFACE_VIEWS:
        return read_physical(k, sub)
    surface, cols = SURFACE_VIEWS[sub]
    return read_physical(k, surface).selectExpr(*cols)


# seen-set rows per bucket of a compaction (compact_seen): one bucket, and
# one file, per ~4 Mi URLs, so the bucket count follows the seen set
SEEN_ROWS_PER_BUCKET = 1 << 22


def _rdir(ckpt: str, k: int, sub: str) -> str:
    return os.path.join(ckpt, "rounds", f"r={k:04d}", sub)


def _manifest_path(ckpt: str, k: int) -> str:
    return os.path.join(ckpt, f"MANIFEST-{k:04d}.json")


def _format_path(ckpt: str) -> str:
    return os.path.join(ckpt, "STATE_FORMAT.json")


class ParquetStateBackend:
    """Default crawl-state backend: one immutable parquet directory per
    (round, surface) plus a JSON manifest file written LAST as the atomic
    commit marker — the filesystem emulation of an Iceberg snapshot commit.
    All paths resolve through the Hadoop FileSystem API (fsio), so the
    checkpoint may be a local dir, hdfs:// or s3a:// URI alike. The
    Iceberg-native backend with the same contract is
    frontier.iceberg.IcebergStateBackend."""

    def __init__(self, spark: SparkSession, ckpt: str):
        self.spark = spark
        self.ckpt = ckpt

    def write(self, df: DataFrame, k: int, sub: str,
              count: bool = False) -> int | None:
        """Commit one state surface for round k; with ``count=True`` the
        row count rides the write job as an Observation (no extra scan)."""
        obs = None
        if count:
            obs = Observation(f"{sub}-{k}")
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        df.write.mode("overwrite").parquet(_rdir(self.ckpt, k, sub))
        return int(obs.get["n"]) if obs is not None else None

    def _scan(self, sub: str, *paths: str) -> DataFrame:
        """Snapshot scan pinned to the surface's registered schema."""
        return self.spark.read.schema(SURFACE_SCHEMAS[sub]).parquet(*paths)

    def _delta_paths(self, start: int, upto: int) -> list[str]:
        return [
            _rdir(self.ckpt, k, "seen_delta")
            for k in range(start, upto + 1)
            if fsio.exists(self.spark, _rdir(self.ckpt, k, "seen_delta"))
        ]

    def read(self, k: int, sub: str) -> DataFrame:
        return read_surface(
            lambda k, s: self._scan(s, _rdir(self.ckpt, k, s)), k, sub)

    def exists(self, k: int, sub: str) -> bool:
        return fsio.exists(
            self.spark, _rdir(self.ckpt, k, physical_surface(sub)))

    def read_seen_upto(self, upto: int) -> DataFrame:
        return self._scan(
            "seen_delta", *self._delta_paths(0, upto)
        ).select("url_canon")

    # -- compacted seen set (bucketed) ----------------------------------
    #
    # The per-round anti-join's big side is the seen set; joining against
    # a plain union of delta files reshuffles all 10^10 rows by url_canon
    # EVERY round. Periodic compaction rewrites the accumulated deltas
    # once into a table BUCKETED by url_canon; after that the anti-join
    # reads the bucketed scan with NO exchange on the big side (only the
    # small maybe-set shuffles, to the bucket count), and only the few
    # post-compaction deltas still join the slow way (they're small —
    # AQE broadcasts them). This is the parquet emulation of Iceberg's
    # `bucket(N, url_canon)` partition transform + storage-partitioned
    # join; compaction itself is Iceberg's rewrite_data_files.

    def _compact_marker(self, upto: int) -> str:
        return os.path.join(self.ckpt, f"COMPACT-{upto:04d}.json")

    def _compact_table(self, upto: int) -> str:
        import hashlib

        tag = hashlib.md5(self.ckpt.encode()).hexdigest()[:8]
        return f"ldcc_seen_compact_{tag}_{upto:04d}"

    def latest_compact(self) -> int | None:
        best = None
        for name in fsio.list_names(self.spark, self.ckpt):
            if name.startswith("COMPACT-") and name.endswith(".json"):
                k = int(name[len("COMPACT-"):-len(".json")])
                best = k if best is None else max(best, k)
        return best

    def compact_seen(self, upto: int) -> None:
        """Rewrite seen deltas 0..upto into one url_canon-bucketed table
        (marker written LAST — an interrupted compaction is invisible and
        simply re-runs). Deltas are disjoint by construction (each holds
        only genuinely-new URLs), so this is a straight rewrite.

        The bucket count follows the seen set: ``ceil(n_seen /
        SEEN_ROWS_PER_BUCKET)``, with ``n_seen`` the manifests' ``n_new``
        summed over rounds 0..upto. The rows are hash-partitioned by
        bucket first, so each bucket is written by one task as one file."""
        n_seen = sum(self.read_manifest(j)["n_new"] for j in range(upto + 1))
        n_buckets = max(1, -(-n_seen // SEEN_ROWS_PER_BUCKET))
        full = self._scan("seen_delta", *self._delta_paths(0, upto))
        path = _rdir(self.ckpt, upto, "seen_compact")
        (
            full.select("url_canon", "host", "part_id")
            .repartition(n_buckets, "url_canon")
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, "url_canon")
            .sortBy("url_canon")
            .option("path", path)
            .saveAsTable(self._compact_table(upto))
        )
        fsio.write_text(
            self.spark, self._compact_marker(upto),
            json.dumps({"upto": upto, "n_buckets": n_buckets}),
        )
        # superseded compactions are dead weight — each holds a FULL copy
        # of the seen set; reclaim them once the new marker is durable
        for name in fsio.list_names(self.spark, self.ckpt):
            if name.startswith("COMPACT-") and name.endswith(".json"):
                old = int(name[len("COMPACT-"):-len(".json")])
                if old < upto:
                    self.spark.sql(
                        f"DROP TABLE IF EXISTS {self._compact_table(old)}"
                    )
                    fsio.delete(
                        self.spark, _rdir(self.ckpt, old, "seen_compact")
                    )
                    fsio.delete(self.spark, self._compact_marker(old))

    def read_seen_split(
        self, upto: int
    ) -> tuple[DataFrame | None, DataFrame | None]:
        """(compacted, deltas) covering rounds 0..upto — compacted is the
        bucketed table of the latest compaction ≤ upto (None before any),
        deltas the union of rounds after it (None if none). A fresh
        session re-registers the bucketed table from its path, with the
        bucket count its marker records (idempotent DDL), so resume keeps
        the no-exchange join."""
        c = self.latest_compact()
        compacted = None
        start = 0
        if c is not None and c <= upto:
            name = self._compact_table(c)
            if not self.spark.catalog.tableExists(name):
                marker = json.loads(
                    fsio.read_text(self.spark, self._compact_marker(c)))
                self.spark.sql(
                    f"CREATE TABLE {name} "
                    f"({SURFACE_SCHEMAS['seen_delta']}) "
                    "USING PARQUET CLUSTERED BY (url_canon) "
                    "SORTED BY (url_canon) "
                    f"INTO {int(marker['n_buckets'])} BUCKETS "
                    f"LOCATION '{_rdir(self.ckpt, c, 'seen_compact')}'"
                )
            compacted = self.spark.table(name).select("url_canon")
            start = c + 1
        paths = self._delta_paths(start, upto)
        deltas = (
            self._scan("seen_delta", *paths).select("url_canon")
            if paths
            else None
        )
        return compacted, deltas

    def latest_round(self) -> int | None:
        best = None
        for name in fsio.list_names(self.spark, self.ckpt):
            if name.startswith("MANIFEST-") and name.endswith(".json"):
                k = int(name[len("MANIFEST-"):-len(".json")])
                best = k if best is None else max(best, k)
        return best

    def write_manifest(self, k: int, manifest: dict) -> None:
        fsio.write_text(
            self.spark, _manifest_path(self.ckpt, k), json.dumps(manifest)
        )

    def read_manifest(self, k: int) -> dict:
        return json.loads(
            fsio.read_text(self.spark, _manifest_path(self.ckpt, k))
        )

    def write_format(self, fmt: dict) -> None:
        fsio.write_text(self.spark, _format_path(self.ckpt), json.dumps(fmt))

    def read_format(self) -> dict:
        """The checkpoint's state format, {} for one written before the
        format was recorded."""
        path = _format_path(self.ckpt)
        if not fsio.exists(self.spark, path):
            return {}
        return json.loads(fsio.read_text(self.spark, path))

    def scheduled_with_rounds(self, last: int) -> DataFrame:
        """All committed scheduled snapshots 1..last as ONE multi-path scan
        with the round recovered from the snapshot path."""
        paths = [
            p
            for k in range(1, last + 1)
            for p in [_rdir(self.ckpt, k, "scheduled")]
            if fsio.exists(self.spark, p)
        ]
        if not paths:
            raise ValueError("no scheduled rounds committed")
        return self._scan("scheduled", *paths).withColumn(
            "round",
            F.regexp_extract(
                F.input_file_name(), r"r=(\d+)/scheduled", 1
            ).cast("int"),
        )


def _backend(spark: SparkSession, ckpt) -> ParquetStateBackend:
    """str checkpoints resolve to the parquet backend; a backend instance
    (e.g. iceberg.IcebergStateBackend) passes through."""
    return ParquetStateBackend(spark, ckpt) if isinstance(ckpt, str) else ckpt


def latest_round(spark: SparkSession, ckpt) -> int | None:
    """Highest committed round, or None if no init commit exists."""
    return _backend(spark, ckpt).latest_round()


def read_manifest(spark: SparkSession, ckpt, k: int) -> dict:
    return _backend(spark, ckpt).read_manifest(k)


def read_seen(spark: SparkSession, ckpt, upto: int) -> DataFrame:
    """Union of seen-set deltas for rounds 0..upto (append-only log, the
    Iceberg-snapshot shape — no rewrite of the 10^10-row set per round)."""
    return _backend(spark, ckpt).read_seen_upto(upto)


def _commit_bloom(st, k: int, new_urls: DataFrame, prev: DataFrame) -> None:
    """Commit round k's filter state (seen.commit_bloom) as ONE write of
    the ``filter`` surface: the merged words and the per-partition lineage
    metrics, which ``bloom``, ``bloom_words`` and ``metrics`` read back as
    column projections."""
    st.write(
        seen.commit_bloom(
            seen.with_url_hashes(new_urls.select("url_canon"),
                                 n_parts=N_PARTS),
            prev,
        ).withColumn("round", F.lit(k).cast("int")),
        k, "filter",
    )


def _state_format() -> dict:
    """What a checkpoint's stored state depends on beyond its schemas: the
    part_id derivation that keys seen_delta rows and the bloom filters, and
    the filter surface's layout. A schema-pinned read of a column a file
    lacks returns NULLs, so a checkpoint of another layout would probe NULL
    words, call every candidate new and crawl seen URLs again."""
    return {"part_id_hash": seen.PART_ID_HASH,
            "filter_layout": SURFACE_SCHEMAS["filter"]}


def _check_state_format(st, ckpt) -> None:
    got = st.read_format()
    if got != _state_format():
        raise ValueError(
            f"checkpoint {ckpt} was written with state format {got or None}"
            f", this code reads {_state_format()}: its part_ids or its "
            "filter layout differ, so the probe would miss seen URLs and "
            "crawl them again — re-initialize it with init_crawl on a "
            "fresh checkpoint"
        )


def init_crawl(spark: SparkSession, seeds: DataFrame, ckpt) -> None:
    """Round 0 commit: frontier = seeds, seen = seeds, nothing scheduled.
    ``seeds`` must have (url_canon, host). A NULL ``url_canon`` fails the
    frontier write, before any manifest: it would enter the seen set and
    the filter (``xxhash64`` of NULL is the seed, not NULL) and be
    scheduled as a fetch slot."""
    st = _backend(spark, ckpt)
    st.write_format(_state_format())
    url = F.col("url_canon")
    seeds = seeds.select(
        F.when(url.isNull(), F.raise_error(F.lit(
            "init_crawl: a seed row has a NULL url_canon — drop or fix it "
            "before seeding the crawl"
        ))).otherwise(url).alias("url_canon"),
        "host",
    ).dropDuplicates(["url_canon"])
    n = st.write(seeds, 0, "frontier", count=True)
    frontier = st.read(0, "frontier")
    st.write(
        seen.with_url_hashes(frontier, n_parts=N_PARTS).select(
            "url_canon", "host", "part_id"),
        0, "seen_delta",
    )
    _commit_bloom(
        st, 0, frontier, spark.createDataFrame([], seen.BLOOM_SCHEMA))
    st.write_manifest(
        0, {"round": 0, "n_frontier": n, "n_scheduled": 0, "n_new": n}
    )


def run_round(
    spark: SparkSession,
    ckpt: str,
    budget: int = 3,
    rules: DataFrame | None = None,
    compact_every: int | None = 8,
) -> dict:
    """Execute the next crawl round from the latest committed snapshot;
    commit scheduled/seen-delta/filter/frontier, manifest last. Returns
    the manifest dict. Idempotent on crash: an uncommitted round is simply
    re-run.

    The previous round's committed filter (``bloom_words``, a projection
    of the ``filter`` surface that ``init_crawl`` and each round write
    through ``_commit_bloom`` before their manifest) is read once: the
    seen-set probe tests against it — one filter covering every earlier
    round, never rebuilt from the (10^10-row) seen set — and the round's
    commit merges its new URLs into it.

    A parquet checkpoint is plain files, so a copy of it under another
    path resumes the same round: the compacted seen table re-registers
    itself from its marker under the copy's path (``read_seen_split``).

    ``compact_every``: rewrite the seen-delta log into a url_canon-bucketed
    table every N rounds (None disables). Against the bucketed table the
    exact anti-join has NO exchange on the (10^10-row) seen side; only the
    post-compaction deltas — at most N-1 small rounds — join unbucketed."""
    st = _backend(spark, ckpt)
    prev = st.latest_round()
    if prev is None:
        raise ValueError(f"no committed state under {ckpt}; call init_crawl first")
    _check_state_format(st, ckpt)
    k = prev + 1

    frontier = st.read(prev, "frontier")
    compacted, deltas = (
        st.read_seen_split(prev)
        if hasattr(st, "read_seen_split")
        else (None, None)
    )
    if compacted is None and deltas is None:
        deltas = st.read_seen_upto(prev)

    eligible = frontier
    if rules is not None:
        eligible = robots_mod.filter_allowed(eligible, rules)

    # manifest counts ride the snapshot writes as Observations — zero
    # extra jobs (the old shape re-scanned three snapshots it just wrote)
    sched = scheduler.politeness_schedule(eligible, budget).select(
        "host", "url_canon", "priority", "slot"
    )
    n_scheduled = st.write(sched, k, "scheduled", count=True)
    sched = st.read(k, "scheduled")

    # host is a pure function of url_canon — drop it before the unseen
    # chain so the dedup exchange / anti-join / union move only the URL
    # (filter_unseen's slim path), and re-attach it after with one regex
    discovered = discover_children(sched).select("url_canon")
    cand = seen.with_url_hashes(discovered, n_parts=N_PARTS)
    # exact check: bucketed compacted table first (exchange-free big side),
    # then the small post-compaction deltas (AQE broadcasts them). The
    # committed filter covers BOTH, so a URL seen only in a delta still
    # flags maybe_seen and is caught by the second anti-join.
    exact_base = compacted if compacted is not None else deltas
    prev_filter = st.read(prev, "bloom_words")
    new = seen.filter_unseen(cand, exact_base, bloom=prev_filter, dedupe=True)
    if compacted is not None and deltas is not None:
        new = new.join(deltas.select("url_canon"), "url_canon", "left_anti")

    n_new = st.write(
        new.select(
            "url_canon",
            urlgen.host_of_canon("url_canon").alias("host"),
            "part_id",
        ),
        k, "seen_delta", count=True,
    )
    new_urls = st.read(k, "seen_delta")

    # the merged filter, plus per-partition lineage metrics for this round
    # (scale observability: one row per hash partition, not per URL) with
    # the committed bloom's fill ratio / estimated fpp so operators see the
    # filter saturating
    _commit_bloom(st, k, new_urls, prev_filter)

    next_frontier = frontier.join(
        sched.select("url_canon"), "url_canon", "left_anti"
    ).unionByName(new_urls.select("url_canon", "host"))
    n_frontier = st.write(next_frontier, k, "frontier", count=True)

    manifest = {
        "round": k,
        "n_frontier": n_frontier,
        "n_scheduled": n_scheduled,
        "n_new": n_new,
    }
    st.write_manifest(k, manifest)  # commit marker, written LAST

    # post-commit maintenance (crash-safe: an interrupted compaction has
    # no marker and re-runs on the next qualifying round)
    if compact_every and hasattr(st, "compact_seen"):
        last_c = st.latest_compact()
        if k - (last_c if last_c is not None else -1) >= compact_every:
            st.compact_seen(k)
    return manifest


def crawl_order(spark: SparkSession, ckpt) -> DataFrame:
    """Total crawl order across committed rounds: (round, host, slot,
    url_canon, priority) ordered by (round, host, slot). ONE scan — the
    round number comes from the snapshot path (parquet backend) or the
    round partition column (Iceberg backend), never a per-round
    read+union loop."""
    st = _backend(spark, ckpt)
    last = st.latest_round()
    df = st.scheduled_with_rounds(last or 0)
    return df.select("round", "host", "slot", "url_canon", "priority").orderBy(
        "round", "host", "slot"
    )
