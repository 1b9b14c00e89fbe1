"""Streaming URL-seen dedup as a custom stateful operator
(applyInPandasWithState) — the streaming form of the frontier's
partitioned bloom URL-seen set.

Built-in ``dropDuplicates`` on a stream keeps every key in exact state
forever (unbounded memory at 10^10 URLs). This operator instead keeps ONE
bloom bitset per hash-range partition as the group state — memory is fixed
at ``n_bits/8`` bytes per partition regardless of URL count, the bounded-
memory trade every real crawler makes (false positives drop a URL that was
never seen, at the configured fpp; false negatives cannot happen).

The grouping key is ``part_id = pmod(xxhash64(url, 2), n_parts)`` — the
SAME partitioning as the batch seen-set (frontier/seen.py), but the
stored forms differ: the batch filter stores each partition's bitset as
``words ARRAY<BIGINT>``, the stream state as ``bits BINARY``. A snapshot
of one could seed the other only through a conversion, which no code
here does. Bit math is the batch filter's own kernels (Kirsch-Mitzenmacher
double hashing, numpy-vectorized per batch).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..frontier.seen import (
    N_BITS_PER_PART,
    N_HASHES,
    N_PARTS,
    PART_ID_HASH,
    _probe_hashes,
    _set_bits,
    with_url_hashes,
)

OUT_SCHEMA = StructType(
    [
        StructField("part_id", IntegerType(), False),
        StructField("url_canon", StringType(), False),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("bits", BinaryType(), True),
        StructField("n_keys", LongType(), True),
        StructField("n_bits", LongType(), True),
        StructField("n_hashes", IntegerType(), True),
        # seen.PART_ID_HASH of the query that built the state
        StructField("part_id_hash", StringType(), True),
    ]
)


def streaming_unseen_urls(
    url_stream: DataFrame,
    url_col: str = "url_canon",
    n_parts: int = N_PARTS,
) -> DataFrame:
    """First occurrence of each URL across the whole stream, approximate
    (bloom): emits a row the first time a URL's bits were not all set.
    Each partition's filter has the batch seen set's default geometry
    (``N_BITS_PER_PART`` bits, ``N_HASHES`` probes).

    Deterministic — the same stream replayed yields the same output
    (exactly-once via the query checkpoint)."""
    hashed = with_url_hashes(url_stream, url_col=url_col, n_parts=n_parts)

    def _dedup(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (bits_b, n_keys, st_bits, st_hashes, st_part) = state.get
            if st_part != PART_ID_HASH:
                raise ValueError(
                    "streaming_unseen_urls: checkpointed state was keyed by "
                    f"part_id = {st_part}, not {PART_ID_HASH} — start the "
                    "query on a fresh checkpoint (probing a URL in another "
                    "partition's filter would miss its bits)"
                )
            if st_bits != N_BITS_PER_PART or st_hashes != N_HASHES:
                raise ValueError(
                    "streaming_unseen_urls: checkpointed state was built "
                    f"with n_bits={st_bits}, n_hashes={st_hashes} but this "
                    f"code uses n_bits={N_BITS_PER_PART}, "
                    f"n_hashes={N_HASHES} — geometry must not change "
                    "across restarts (membership would silently corrupt)"
                )
            bits = np.frombuffer(bits_b, dtype=np.uint8).copy()
        else:
            bits = np.zeros(N_BITS_PER_PART // 8, dtype=np.uint8)
            n_keys = 0
        part_id = int(key[0])
        for pdf in pdfs:
            h1 = pdf["h1"].to_numpy(dtype=np.int64).view(np.uint64)
            h2 = pdf["h2"].to_numpy(dtype=np.int64).view(np.uint64)
            # membership test then insert, row-vectorized per batch; rows
            # duplicated WITHIN the batch dedupe against each other through
            # sequential bit-set (stable original order preserved by a
            # first-occurrence mask on the url itself)
            first_in_batch = ~pdf[url_col].duplicated().to_numpy()
            maybe_seen = _probe_hashes(bits, N_BITS_PER_PART, N_HASHES, h1, h2)
            new_mask = (~maybe_seen) & first_in_batch
            _set_bits(bits, N_BITS_PER_PART, N_HASHES, h1, h2)
            n_keys += int(new_mask.sum())
            out = pdf.loc[new_mask, [url_col]]
            if len(out):
                yield pd.DataFrame(
                    {"part_id": part_id, "url_canon": out[url_col].values}
                )
        state.update(
            (bits.tobytes(), n_keys, N_BITS_PER_PART, N_HASHES, PART_ID_HASH)
        )

    return hashed.groupBy("part_id").applyInPandasWithState(
        _dedup,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
