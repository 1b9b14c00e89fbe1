"""Partitioned URL-seen set: bloom-filter pre-filter + exact anti-join,
with a cuckoo-filter variant where deletions are needed (north rule).

Design for 10^10 URLs (SURVEY.md §4.3):

- The bitset is **partitioned by hash range**: ``part_id =
  pmod(xxhash64(url, 2), n_parts)``. Each partition owns an independent
  bloom filter over only its keys, stored as one row. The partition hash
  is independent of the probe hashes ``h1``/``h2``: a ``part_id`` taken
  from ``h1`` would pin the low bits of ``h1`` that the power-of-two probe
  mask keeps, and crowd every key of a partition into a fraction of its
  bit positions. At 1% fpp, 10^10 keys need ~12 GB of bitset total —
  partitioned over e.g. 4096 parts that is ~3 MB per task, loaded only by
  the task probing that hash range.
- There is **one encoding**, :data:`BLOOM_SCHEMA`: a partition's bitset is
  ``words ARRAY<BIGINT>``, where ``words[j]`` is the little-endian int64
  view of bytes ``8j..8j+7``, so bit ``idx`` lives in word ``idx >> 6`` at
  in-word position ``idx & 63``. Every function here builds, merges,
  commits, measures and probes that form; the numpy kernels run on its
  byte view (``words.view(np.uint8)``).
- There is **one probe**, :func:`probe_bloom_jvm`: the words are joined to
  candidates on ``part_id`` and tested in whole-stage-codegen arithmetic,
  with ZERO rows crossing the Python boundary. It is exact for
  power-of-two geometries only, the only ones :func:`build_bloom` builds.
- Membership math is double hashing (Kirsch-Mitzenmacher): bit index
  ``(h1 + i*h2) mod m`` for i in 0..k-1, numpy-vectorized over Arrow
  batches on the build side (no per-row Python).
- The bloom answer is only "definitely new" vs "maybe seen". Rows flagged
  maybe-seen go through an **exact** ``left_anti`` join against the seen-URL
  table; definitely-new rows skip that shuffle entirely. On a real crawl
  the overwhelming majority of candidate URLs are re-discoveries of seen
  URLs or brand-new — the bloom collapses the anti-join's probe side to the
  (small) maybe set, which is what makes the 10^10-row anti-join cheap.
- A crawl round commits its filter in one pass (:func:`commit_bloom`):
  the merged words and fill/fpp stats from one cogrouped Arrow UDF.
  :func:`build_bloom`, :func:`merge_bloom`, :func:`bloom_words` and
  :func:`bloom_stats` stay as the reference it is tested against; all of
  them share the same numpy bitset kernels.
- Deletions (e.g. recrawl-after-TTL) can't come out of a bloom filter,
  and compaction never removes a seen key. The :class:`CuckooFilter`
  variant supports ``delete`` in a per-partition ``binary`` row layout;
  it stays for that case (the north rule names it), though no crawl round
  uses it yet.

The reference has no URL-seen set at all (it re-reads whatever segment the
config names, /root/reference/main.py:85-87); this module is the frontier
extension mandated by BASELINE.json's north rule.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..plans.barrier import with_barrier_columns

# canonical hash-range partition count for the URL-seen set — every state
# producer/consumer (batch crawl rounds, streaming dedup state, bench jobs)
# must agree on this or probe against the wrong bitset slice
N_PARTS = 64

# default per-partition filter geometry: 1 Mi bits (128 KiB) and 7 probes.
# build_bloom's defaults, every crawl round's commit_bloom and the streaming
# dedup state use these, so the filters a crawl commits always merge by OR
N_BITS_PER_PART = 1 << 20
N_HASHES = 7

# largest filter set (bitset bytes) probe_bloom_jvm broadcast-joins, ~2x10^8
# keys at 1% fpp; a bigger one takes the hash-range shuffle-hash join
BROADCAST_MAX_BYTES = 256 << 20

# how part_id is derived (see with_url_hashes). Crawl checkpoints and the
# streaming dedup state record it, and refuse state written under another
# derivation: probing a URL in the wrong partition misses its bits
PART_ID_HASH = "pmod(xxhash64(url, 2), n_parts)"

BLOOM_SCHEMA = StructType(
    [
        StructField("part_id", IntegerType(), False),
        StructField("words", ArrayType(LongType(), False), False),
        StructField("n_bits", LongType(), False),
        StructField("n_hashes", IntegerType(), False),
        StructField("n_keys", LongType(), False),
    ]
)


def with_url_hashes(
    df: DataFrame, url_col: str = "url_canon", n_parts: int = 64
) -> DataFrame:
    """Attach (h1, h2, part_id) 64-bit hash columns, JVM-side (xxhash64 in
    whole-stage codegen — pure map, no shuffle). ``part_id`` comes from a
    third, independent hash (:data:`PART_ID_HASH`), so the keys of one
    partition still spread over every bit position of its filter."""
    return _with_probe_hashes(df, url_col).withColumn(
        "part_id",
        F.pmod(F.xxhash64(F.col(url_col), F.lit(2)), F.lit(n_parts)).cast("int"),
    )


def _with_probe_hashes(df: DataFrame, url_col: str) -> DataFrame:
    """The ``h1``/``h2`` of :func:`with_url_hashes`, recomputed after a
    dedup exchange that dropped them."""
    return df.withColumn("h1", F.xxhash64(F.col(url_col))).withColumn(
        "h2", F.xxhash64(F.col(url_col), F.lit(1))
    )


def _bit_indices(h1: np.ndarray, h2: np.ndarray, i: int, n_bits: int) -> np.ndarray:
    # uint64 wraparound arithmetic is well-defined; mod brings it into range
    return ((h1 + np.uint64(i) * h2) % np.uint64(n_bits)).astype(np.int64)


def _u64_col(tbl: pa.Table, name: str) -> np.ndarray:
    """Near-zero-copy view of a non-null int64 Arrow column as uint64
    (copies only when the column arrived in multiple chunks). Nulls are
    rejected loudly: pyarrow would otherwise convert the whole batch to
    float64 (NaN for nulls) and the uint64 reinterpretation would corrupt
    every hash in the batch — a silent bloom false-negative factory."""
    col = tbl.column(name)
    if col.null_count:
        raise ValueError(
            f"_u64_col: column {name!r} has {col.null_count} null(s) — "
            "hash columns must be non-null (null url_canon upstream?)"
        )
    return col.combine_chunks().to_numpy(zero_copy_only=False).view(np.uint64)


# -- bitset kernels: the one implementation of each step, shared by the
#    reference UDFs below, the one-pass commit (commit_bloom) and the
#    streaming dedup state (streaming/seen_state.py)

def _set_bits(
    bits: np.ndarray, n_bits: int, n_hashes: int,
    h1: np.ndarray, h2: np.ndarray,
) -> None:
    """Insert (h1, h2) keys into one bitset slice, in place."""
    for i in range(n_hashes):
        idx = _bit_indices(h1, h2, i, n_bits)
        np.bitwise_or.at(bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))


def _or_words(words: pa.ChunkedArray, n_bits: int) -> np.ndarray:
    """Bitwise OR of a ``words`` column's rows (all of ``n_bits``), as a
    new, writable array."""
    rows = pc.list_flatten(words).to_numpy().reshape(len(words), n_bits // 64)
    return np.bitwise_or.reduce(rows, axis=0)


def _bloom_row(part_id: int, words: np.ndarray, n_bits: int, n_hashes: int,
               n_keys: int) -> dict:
    """The :data:`BLOOM_SCHEMA` columns of one partition's filter row."""
    return {
        "part_id": pa.array([part_id], type=pa.int32()),
        "words": pa.ListArray.from_arrays(
            pa.array([0, words.size], type=pa.int32()), pa.array(words),
            type=pa.list_(pa.field("element", pa.int64(), nullable=False)),
        ),
        "n_bits": pa.array([n_bits], type=pa.int64()),
        "n_hashes": pa.array([n_hashes], type=pa.int32()),
        "n_keys": pa.array([n_keys], type=pa.int64()),
    }


def _fill_ratio(bits: np.ndarray, n_bits: int) -> float:
    return float(np.unpackbits(bits).sum()) / float(n_bits)


def _check_mergeable(fn: str, part_id: int, n_bits, n_hashes) -> None:
    """Filters merge by OR only when they share one geometry."""
    if len(set(n_bits)) > 1 or len(set(n_hashes)) > 1:
        raise ValueError(
            f"{fn}: incompatible filter geometries in part {part_id}: "
            f"n_bits={set(n_bits)} n_hashes={set(n_hashes)} — merging "
            "filters with different geometry would create false negatives"
        )


def build_bloom(
    hashed: DataFrame,
    n_bits_per_part: int = N_BITS_PER_PART,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """Per-partition bloom filters from a hashed URL DataFrame.

    ``n_bits_per_part`` default (1 Mi bits = 128 KiB) holds ~100k keys/part
    at ~1% fpp; size up with key count (m ≈ 9.6 n for 1% fpp). It must be
    a power of two and at least 64 — the only geometry the codegen probe
    (:func:`probe_bloom_jvm`) can test exactly.

    Arrow-native (``applyInArrow``): the grouped exchange carries only
    ``(part_id, h1, h2)`` — 20 bytes/row instead of full URL rows — and the
    hash columns reach numpy as zero-copy views of the Arrow buffers; no
    pandas conversion, no Python string objects.
    """
    if n_bits_per_part < 64 or n_bits_per_part & (n_bits_per_part - 1):
        raise ValueError(
            f"build_bloom: n_bits_per_part={n_bits_per_part} must be a power "
            "of two and at least 64 — probe_bloom_jvm cannot probe any "
            "other geometry"
        )

    def _build(tbl: pa.Table) -> pa.Table:
        words = np.zeros(n_bits_per_part // 64, dtype="<i8")
        _set_bits(words.view(np.uint8), n_bits_per_part, n_hashes,
                  _u64_col(tbl, "h1"), _u64_col(tbl, "h2"))
        return pa.table(_bloom_row(
            tbl.column("part_id")[0].as_py(), words, n_bits_per_part,
            n_hashes, tbl.num_rows,
        ))

    return (
        hashed.select("part_id", "h1", "h2")
        .groupBy("part_id")
        .applyInArrow(_build, BLOOM_SCHEMA)
    )


def _or_parts(fn: str, bloom: DataFrame) -> DataFrame:
    """One row per ``part_id``: the OR of the part's filter rows, which
    must share one geometry, with ``n_keys`` summed (an upper bound)."""

    def _merge(tbl: pa.Table) -> pa.Table:
        part_id = tbl.column("part_id")[0].as_py()
        nb = tbl.column("n_bits").to_pylist()
        nh = tbl.column("n_hashes").to_pylist()
        _check_mergeable(fn, part_id, nb, nh)
        return pa.table(_bloom_row(
            part_id, _or_words(tbl.column("words"), nb[0]), nb[0], nh[0],
            sum(tbl.column("n_keys").to_pylist()),
        ))

    return bloom.groupBy("part_id").applyInArrow(_merge, BLOOM_SCHEMA)


def merge_bloom(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR two compatible per-partition filter sets (e.g. snapshot + delta).
    Bloom filters of identical geometry merge by bitwise OR."""
    return _or_parts("merge_bloom", a.unionByName(b))


def bloom_stats(bloom: DataFrame) -> DataFrame:
    """Per-partition filter health: (part_id, n_keys, fill_ratio, est_fpp).

    ``est_fpp = fill_ratio ** n_hashes`` (probability all k probed bits are
    set). Surfaced into each round's metrics snapshot so operators see the
    seen-set saturating BEFORE false positives start silently dropping
    genuinely-new URLs — the signal to re-shard with more/bigger
    partitions."""

    def _stats(batches):
        for b in batches:
            fill = np.array([
                _fill_ratio(w.values.to_numpy().view(np.uint8), nb)
                for w, nb in zip(b.column("words"),
                                 b.column("n_bits").to_pylist())
            ])
            k = b.column("n_hashes").to_numpy()
            yield pa.RecordBatch.from_arrays(
                [b.column("part_id"), b.column("n_keys"),
                 pa.array(fill, type=pa.float64()),
                 pa.array(fill ** k, type=pa.float64())],
                names=["part_id", "n_keys", "fill_ratio", "est_fpp"],
            )

    return bloom.mapInArrow(
        _stats,
        "part_id int, n_keys long, fill_ratio double, est_fpp double",
    )


def _probe_hashes(
    bits: np.ndarray, n_bits: int, n_hashes: int,
    h1: np.ndarray, h2: np.ndarray,
) -> np.ndarray:
    """Vectorized membership test of (h1, h2) key batches against one
    bitset slice (the streaming dedup state's probe, and the reference
    the codegen probe is tested against)."""
    hit = np.ones(h1.size, dtype=bool)
    for i in range(n_hashes):
        idx = _bit_indices(h1, h2, i, n_bits)
        hit &= (bits[idx >> 3] & (1 << (idx & 7)).astype(np.uint8)) != 0
    return hit


def _dedupe_min_struct(
    flagged: DataFrame, dedupe_on: str, cols: list[str]
) -> DataFrame:
    """Post-probe dedup: a JVM hash aggregate keeping the deterministic
    ``min(struct(...))`` row per key, whatever order duplicates arrive in
    (a task retry elects the same survivor). ``h1``/``h2`` are pure
    functions of ``dedupe_on`` (with_url_hashes contract), so they are
    dropped before the exchange and recomputed after it; being
    group-constant they can never decide the struct-min comparison."""
    hash_cols = [c for c in ("h1", "h2") if c in cols]
    others = [
        c for c in flagged.columns if c != dedupe_on and c not in hash_cols
    ]
    agged = (
        flagged.drop(*hash_cols)
        .groupBy(dedupe_on)
        .agg(F.min(F.struct(*[F.col(c) for c in others])).alias("__rest"))
        .select(dedupe_on, "__rest.*")
    )
    if hash_cols:
        # identical recipe to with_url_hashes — group-constant, so exact
        agged = _with_probe_hashes(agged, dedupe_on)
    return agged.select(*cols, "maybe_seen")


def bloom_words(bloom: DataFrame) -> DataFrame:
    """The probe's filter set: one row per part, multiple rows per part
    (snapshot + delta) OR-merged in one grouped exchange, so the probe
    never needs a separate :func:`merge_bloom` pass."""
    return _or_parts("bloom_words", bloom)


COMMIT_SCHEMA = StructType(
    BLOOM_SCHEMA.fields
    + [
        StructField("n_new", LongType(), False),
        StructField("fill_ratio", DoubleType(), False),
        StructField("est_fpp", DoubleType(), False),
    ]
)


def commit_bloom(new_hashed: DataFrame, prev: DataFrame) -> DataFrame:
    """A round's whole filter commit in one pass: per ``part_id``, the
    merged filter (the :data:`BLOOM_SCHEMA` columns), ``n_new`` (the
    part's keys in ``new_hashed``), ``fill_ratio`` and ``est_fpp``.

    Equal bit for bit to the reference composition ``merge_bloom(prev,
    build_bloom(new_hashed))``, then :func:`bloom_stats` of the merge,
    plus a per-part count of ``new_hashed``: a part with no new keys
    carries its previous row forward with ``n_new`` 0, and ``prev`` may be
    empty (round 0). New keys go in at the default geometry
    (:data:`N_BITS_PER_PART`, :data:`N_HASHES`), which ``prev`` rows must
    share. It is one cogrouped ``applyInArrow`` over ``(part_id, h1, h2)``
    and the previous rows: the previous words are ORed, the new keys' bits
    set in place, and one bitset emitted, so the commit crosses the Python
    boundary once and reads back nothing it wrote."""

    def _commit(new: pa.Table, old: pa.Table) -> pa.Table:
        part_id = (new if new.num_rows else old).column("part_id")[0].as_py()
        if old.num_rows:
            nb = old.column("n_bits").to_pylist()
            nh = old.column("n_hashes").to_pylist()
            if new.num_rows:
                # the new keys are hashed at this geometry, as build_bloom
                # would, so the previous filter must share it
                nb.append(N_BITS_PER_PART)
                nh.append(N_HASHES)
            _check_mergeable("commit_bloom", part_id, nb, nh)
            n_bits, k = nb[0], nh[0]
            words = _or_words(old.column("words"), n_bits)
            n_keys = sum(old.column("n_keys").to_pylist())
        else:
            n_bits, k, n_keys = N_BITS_PER_PART, N_HASHES, 0
            words = np.zeros(n_bits // 64, dtype="<i8")
        bits = words.view(np.uint8)
        if new.num_rows:
            _set_bits(bits, n_bits, k, _u64_col(new, "h1"), _u64_col(new, "h2"))
        fill = _fill_ratio(bits, n_bits)
        return pa.table({
            **_bloom_row(part_id, words, n_bits, k, n_keys + new.num_rows),
            "n_new": pa.array([new.num_rows], type=pa.int64()),
            "fill_ratio": pa.array([fill], type=pa.float64()),
            "est_fpp": pa.array([fill ** int(k)], type=pa.float64()),
        })

    return (
        new_hashed.select("part_id", "h1", "h2")
        .groupBy("part_id")
        .cogroup(prev.select(*BLOOM_SCHEMA.names).groupBy("part_id"))
        .applyInArrow(_commit, COMMIT_SCHEMA)
    )


def _filter_geometry(fn: str, bloom: DataFrame) -> tuple[int, int, int]:
    """``(n_bits, n_hashes, total_bits)`` of a filter set from
    one small ``collect()`` of ``(part_id, n_bits, n_hashes)``: the probe
    needs the geometry as literals and the size to choose broadcast or
    shuffle-hash. Refuses an empty set, mixed geometries and duplicate
    ``part_id`` rows."""
    rows = bloom.select("part_id", "n_bits", "n_hashes").collect()
    if not rows:
        raise ValueError(f"{fn}: empty filter set — no geometry to probe")
    nb = {int(r["n_bits"]) for r in rows}
    nh = {int(r["n_hashes"]) for r in rows}
    if len(nb) > 1 or len(nh) > 1:
        raise ValueError(
            f"{fn}: mixed filter geometries (n_bits {sorted(nb)}, n_hashes "
            f"{sorted(nh)}) — merge_bloom first"
        )
    n_parts = len({r["part_id"] for r in rows})
    if n_parts != len(rows):
        raise ValueError(
            f"{fn}: filter set has {len(rows)} rows over {n_parts} "
            "partitions — a duplicate part_id would duplicate candidate rows "
            "through the probe join; pre-merge it with bloom_words"
        )
    return nb.pop(), nh.pop(), sum(int(r["n_bits"]) for r in rows)


def _bloom_hit_expr(n_bits: int, n_hashes: int, words_col: str):
    """Whole-stage-codegen membership test against a joined ``words``
    column — the same double-hashing bits :func:`_probe_hashes` probes,
    as pure JVM integer arithmetic (zero Python boundary).

    ANSI-safe wraparound: numpy computes ``(h1 + i*h2) mod 2^64 mod m``
    in uint64; for power-of-two ``m`` that equals
    ``((h1 & (m-1)) + i*(h2 & (m-1))) & (m-1)`` with intermediates
    ≤ (m-1)·k — no int64 overflow, so the expression is exact under
    ANSI mode (Spark 4 default) where a raw ``h1 + i*h2`` would throw
    ARITHMETIC_OVERFLOW. A missing partition row (NULL ``words``) probes
    NULL through ``element_at`` and coalesces to false: definitely new."""
    if n_bits & (n_bits - 1):
        raise ValueError(
            f"_bloom_hit_expr: n_bits={n_bits} must be a power of two — "
            "uint64 modulo by a non-power-of-two cannot be reproduced "
            "exactly in signed JVM arithmetic; rebuild the filter with "
            "build_bloom, which only builds power-of-two geometries"
        )
    mask = n_bits - 1
    terms = []
    for i in range(n_hashes):
        idx = f"(((h1 & {mask}) + {i} * (h2 & {mask})) & {mask})"
        word = (
            f"element_at({words_col}, "
            f"cast(shiftright({idx}, 6) as int) + 1)"
        )
        terms.append(
            f"((shiftright({word}, cast(({idx} & 63) as int)) & 1) = 1)"
        )
    return F.coalesce(F.expr(" AND ".join(terms)), F.lit(False))


def probe_bloom_jvm(
    candidates: DataFrame,
    bloom: DataFrame,
    dedupe_on: str | None = None,
    broadcast: bool | None = None,
    geometry: tuple[int, int, int] | None = None,
) -> DataFrame:
    """Flag each candidate row ``maybe_seen``: the filter set (one row per
    part: :func:`bloom_words`, or a committed ``bloom_words`` snapshot) is
    joined on ``part_id`` and :func:`_bloom_hit_expr` tests membership
    inside whole-stage codegen. No Python/Arrow boundary — BASELINE.md's
    stage diagnosis measured the earlier Arrow probe as the round's
    weakest-scaling stage. ``candidates`` carry (h1, h2, part_id) from
    :func:`with_url_hashes`; output = their columns + ``maybe_seen``.

    Filter sets within :data:`BROADCAST_MAX_BYTES` are broadcast: the
    probe fuses into the upstream map stage, zero exchange. A 10^10-key
    set (~12 GB over e.g. 4096 parts) takes a shuffle-hash join on
    ``part_id``: each task's hash map holds only its ~3 MB slices.
    ``broadcast`` forces one of the two. ``geometry`` = ``(n_bits,
    n_hashes, total_bits)`` from :func:`_filter_geometry` skips that
    collect when the caller already ran it. ``dedupe_on`` drops duplicate
    candidates after the probe (:func:`_dedupe_min_struct`).

    Candidates carrying a pre-existing ``maybe_seen`` column raise (the
    output barrier appends, it does not replace)."""
    if geometry is None:
        geometry = _filter_geometry("probe_bloom_jvm", bloom)
    n_bits, n_hashes, total_bits = geometry
    if broadcast is None:
        broadcast = total_bits // 8 <= BROADCAST_MAX_BYTES

    cols = candidates.columns
    if "__bf_words" in cols:
        raise ValueError("probe_bloom_jvm: candidate column __bf_words collides")
    w = bloom.select("part_id", F.col("words").alias("__bf_words"))
    side = F.broadcast(w) if broadcast else w.hint("shuffle_hash")
    # maybe_seen goes through the no-op Generate barrier (plans/barrier.py):
    # a downstream filter(~maybe_seen) / filter(maybe_seen) would otherwise
    # be pushed below this projection with the whole probe expression
    # substituted — 2k copies of the h1/h2 index arithmetic (and of
    # whatever expressions feed h1/h2 if the upstream stage is fused) in a
    # single Filter method. Behind the barrier the probe is evaluated once
    # and downstream predicates see an attribute.
    joined = candidates.join(side, on="part_id", how="left")
    flagged = with_barrier_columns(
        joined,
        {"maybe_seen": _bloom_hit_expr(n_bits, n_hashes, "__bf_words")},
    ).select(*cols, "maybe_seen")
    if dedupe_on is None:
        return flagged
    return _dedupe_min_struct(flagged, dedupe_on, cols)


def filter_unseen(
    candidates: DataFrame,
    seen_urls: DataFrame,
    bloom: DataFrame,
    url_col: str = "url_canon",
    dedupe: bool = False,
) -> DataFrame:
    """Exact unseen set: bloom pre-filter, then a precise anti-join.

    ``seen_urls`` is the exact table (a ``url_canon`` column at minimum),
    ``bloom`` its filter set, one row per part. Definitely-new rows (bloom miss)
    bypass the anti-join; only the maybe-seen remainder is joined.
    ``dedupe=True`` also drops duplicate candidate URLs in one exchange:

    - **slim candidates** — EXACTLY ``(url_col, h1, h2, part_id)``, all
      pure functions of the URL, so any survivor is value-identical —
      within the broadcast budget: probe first (fused into the upstream
      map stage), then ``dropDuplicates``. Measured at 2 pinned cores on
      3M URLs: probe-first 9.9 s vs dedup-first 12.2 s.
    - **slim candidates over the budget** (a 10^10-URL frontier): dedup
      first on ``(url, part_id)``, then the shuffle-hash probe.
    - **other candidates**: probe, then :func:`_dedupe_min_struct`.

    Slim paths recompute ``h1``/``h2`` after the exchange. Callers with
    derivable companion columns (host of url_canon) drop them before this
    call and recompute them after (``urlgen.host_of_canon``).

    The geometry check runs the filter's plan — a full build for a
    computed filter set — so the filter is persisted first and the probe
    reuses it."""
    bloom = bloom.persist(StorageLevel.MEMORY_AND_DISK)
    geometry = _filter_geometry("filter_unseen", bloom)
    slim = dedupe and set(candidates.columns) == {
        url_col, "h1", "h2", "part_id"
    }
    if not slim:
        flagged = probe_bloom_jvm(
            candidates, bloom, dedupe_on=url_col if dedupe else None,
            geometry=geometry,
        )
    elif geometry[2] // 8 <= BROADCAST_MAX_BYTES:
        flagged = _with_probe_hashes(
            probe_bloom_jvm(candidates, bloom, geometry=geometry)
            .select(url_col, "part_id", "maybe_seen")
            .dropDuplicates([url_col]),
            url_col,
        ).select(*candidates.columns, "maybe_seen")
    else:
        flagged = probe_bloom_jvm(
            _with_probe_hashes(
                candidates.select(url_col, "part_id").dropDuplicates([url_col]),
                url_col,
            ),
            bloom, geometry=geometry,
        ).select(*candidates.columns, "maybe_seen")
    # the two branches below would otherwise re-execute the probe (and
    # everything upstream) once each — persist the probe output; the
    # ContextCleaner unpersists it when the DataFrame is GC'd. LAZY persist deliberately (measured, interleaved
    # A/B at pinned 2 and 8 cores): an eager count() here costs 9-15% per
    # round — the barrier splits the round into two sequential jobs and
    # kills stage overlap — while the feared cache-population race between
    # the branches does not materialize (stage scheduling populates the
    # cache once; lazy also beat no-persist-at-all, so the dedup is real).
    flagged = flagged.persist(StorageLevel.MEMORY_AND_DISK)
    definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = maybe.join(seen_urls.select(url_col), on=url_col, how="left_anti")
    return definitely_new.unionByName(confirmed_new)


# ---------------------------------------------------------------------------
# Cuckoo filter — deletion-capable variant (north rule: "cuckoo-filter
# fallback for deletions"). Same partitioned layout: one serialized filter
# per hash-range partition.
# ---------------------------------------------------------------------------

class CuckooFilter:
    """Bucketed cuckoo filter (4 slots/bucket, 16-bit fingerprints).

    Standard construction (Fan et al., CoNEXT'14): a key hashes to bucket
    ``i1 = h mod n`` and its alternate ``i2 = i1 XOR hash(fp)``; membership
    checks both buckets for the fingerprint; delete removes one copy, which
    bloom filters cannot do. Contains/delete are numpy-vectorized over
    batches; insert uses the bounded kick loop.
    """

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, n_buckets: int = 1 << 14, table: np.ndarray | None = None):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of 2"
        self.n_buckets = n_buckets
        self.table = (
            table
            if table is not None
            else np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)
        )

    # fingerprint: 16-bit, never 0 (0 marks an empty slot)
    @staticmethod
    def _fingerprint(h: np.ndarray) -> np.ndarray:
        fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp[fp == 0] = 1
        return fp

    def _alt_index(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        # MurmurHash-style fingerprint scramble for the partner bucket
        scrambled = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & np.uint64(
            0xFFFFFFFF
        )
        return (idx ^ scrambled.astype(np.int64)) % self.n_buckets

    def _indices(self, h: np.ndarray):
        fp = self._fingerprint(h)
        i1 = (h % np.uint64(self.n_buckets)).astype(np.int64)
        i2 = self._alt_index(i1, fp)
        return fp, i1, i2

    def insert(self, h64: np.ndarray) -> int:
        """Insert a batch of uint64 hashes; returns number that FAILED
        (table too full). Idempotency is NOT guaranteed (multiset), matching
        standard cuckoo semantics — callers dedupe first."""
        fp, i1, i2 = self._indices(h64.view(np.uint64))
        failed = 0
        for f, a, b in zip(fp.tolist(), i1.tolist(), i2.tolist()):
            if not self._insert_one(np.uint16(f), a, b):
                failed += 1
        return failed

    def _insert_one(self, f: np.uint16, a: int, b: int) -> bool:
        for idx in (a, b):
            row = self.table[idx]
            empty = np.nonzero(row == 0)[0]
            if empty.size:
                row[empty[0]] = f
                return True
        # kick loop
        idx = a
        rng_state = int(f)  # deterministic "random" slot choice
        for _ in range(self.MAX_KICKS):
            rng_state = (rng_state * 1103515245 + 12345) & 0x7FFFFFFF
            slot = rng_state % self.SLOTS
            f, self.table[idx, slot] = self.table[idx, slot], f
            idx = int(
                self._alt_index(
                    np.array([idx], dtype=np.int64), np.array([f], dtype=np.uint16)
                )[0]
            )
            row = self.table[idx]
            empty = np.nonzero(row == 0)[0]
            if empty.size:
                row[empty[0]] = f
                return True
        return False

    def contains(self, h64: np.ndarray) -> np.ndarray:
        fp, i1, i2 = self._indices(h64.view(np.uint64))
        fcol = fp[:, None]
        return ((self.table[i1] == fcol) | (self.table[i2] == fcol)).any(axis=1)

    def delete(self, h64: np.ndarray) -> np.ndarray:
        """Delete one copy of each hash's fingerprint; returns boolean
        array of which deletions found a copy."""
        fp, i1, i2 = self._indices(h64.view(np.uint64))
        out = np.zeros(len(fp), dtype=bool)
        for j, (f, a, b) in enumerate(zip(fp.tolist(), i1.tolist(), i2.tolist())):
            for idx in (a, b):
                row = self.table[idx]
                hit = np.nonzero(row == f)[0]
                if hit.size:
                    row[hit[0]] = 0
                    out[j] = True
                    break
        return out

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, n_buckets: int) -> "CuckooFilter":
        table = (
            np.frombuffer(data, dtype=np.uint16).reshape(n_buckets, cls.SLOTS).copy()
        )
        return cls(n_buckets, table)


CUCKOO_SCHEMA = StructType(
    [
        StructField("part_id", IntegerType(), False),
        StructField("table", BinaryType(), False),
        StructField("n_buckets", IntegerType(), False),
        StructField("n_keys", LongType(), False),
    ]
)


def build_cuckoo(hashed: DataFrame, n_buckets: int = 1 << 14) -> DataFrame:
    """Per-partition cuckoo filters (deletion-capable seen set).
    Arrow-native like :func:`build_bloom`: the grouped exchange carries
    only ``(part_id, h1)``."""

    def _build(tbl: pa.Table) -> pa.Table:
        cf = CuckooFilter(n_buckets)
        h = np.unique(_u64_col(tbl, "h1"))
        failed = cf.insert(h)
        if failed:
            raise ValueError(
                f"build_cuckoo: partition "
                f"{tbl.column('part_id')[0].as_py()} "
                f"overflowed — {failed}/{len(h)} keys failed to insert at "
                f"n_buckets={n_buckets} ({n_buckets * CuckooFilter.SLOTS} "
                "slots). A lossy cuckoo filter has false negatives, which "
                "the seen-set must never have; size n_buckets to ~keys/3"
            )
        return pa.table(
            {
                "part_id": pa.array(
                    [tbl.column("part_id")[0].as_py()], type=pa.int32()
                ),
                "table": pa.array([cf.to_bytes()], type=pa.binary()),
                "n_buckets": pa.array([n_buckets], type=pa.int32()),
                "n_keys": pa.array([len(h)], type=pa.int64()),
            }
        )

    return (
        hashed.select("part_id", "h1")
        .groupBy("part_id")
        .applyInArrow(_build, CUCKOO_SCHEMA)
    )


def probe_cuckoo(candidates: DataFrame, cuckoo: DataFrame) -> DataFrame:
    """``maybe_seen`` flag from the cuckoo variant (same output contract as
    :func:`probe_bloom_jvm`), cogrouped on ``part_id`` so each task loads
    one partition's table."""
    out_schema = StructType(
        candidates.schema.fields + [StructField("maybe_seen", BooleanType(), False)]
    )

    def _probe(cand: pa.Table, filt: pa.Table) -> pa.Table:
        cand = cand.combine_chunks()
        if filt.num_rows == 0 or cand.num_rows == 0:
            hit = np.zeros(cand.num_rows, dtype=bool)
        elif filt.num_rows > 1:
            raise ValueError(
                f"probe_cuckoo: {filt.num_rows} filter rows for part_id "
                f"{filt.column('part_id')[0].as_py()} — combine filters first"
            )
        else:
            cf = CuckooFilter.from_bytes(
                filt.column("table")[0].as_py(),
                filt.column("n_buckets")[0].as_py(),
            )
            hit = cf.contains(_u64_col(cand, "h1"))
        return cand.append_column(
            "maybe_seen", pa.array(hit, type=pa.bool_())
        )

    return (
        candidates.groupBy("part_id")
        .cogroup(cuckoo.groupBy("part_id"))
        .applyInArrow(_probe, out_schema)
    )
