"""WET-format export: extracted text re-serialized as WARC ``conversion``
records — the artifact Common Crawl itself publishes for the extraction
the reference performs (its ``wet_parser`` consumes exactly this shape;
the north star names the pipeline "WET-style text extraction").

A WET shard is a WARC file whose records are ``WARC-Type: conversion``
with a ``text/plain`` UTF-8 payload, one gzip member per record (the same
resynchronizable layout ``sources/warc.py`` reads and writes). Completing
ingest → extract → export lets a reference user round-trip: real
``.warc.gz`` in, language-filtered ``.warc.wet.gz`` out.

Two writers, mirroring the repo's sink convention (sinks/dat.py,
sinks/parity_log.py):

- :func:`write_wet_gz` — driver-side golden-artifact writer (collect a
  SMALL DataFrame; tests and fixtures).
- :func:`write_wet_files` — the distributed path: each task serializes
  its partition into ONE ``part-NNNNN.warc.wet.gz`` shard, exactly how
  CC's own WET shards map 1:1 to WARC segment files. Implemented as
  ``mapInPandas`` returning a one-row manifest per shard (path, records,
  bytes) — the action that triggers the job is the manifest collect, and
  no text rows ever return to the driver. Shards are written with plain
  ``open()``: on a cluster point ``out_dir`` at shared/mounted storage
  (object-store streams would swap in an fsspec/Hadoop-FS open here).
"""

from __future__ import annotations

import gzip
import hashlib
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame

WET_MANIFEST_SCHEMA = "path string, n_records bigint, n_bytes bigint"


def wet_record_bytes(
    url: str, warc_ts, text: str, refers_to: str | None = None
) -> bytes:
    """One WARC ``conversion`` record (headers + UTF-8 payload + record
    separator). The record id is a deterministic UUID-shaped digest of
    (url, payload) so re-runs emit byte-identical shards — the same
    reproducibility rule as every other artifact in this repo."""
    payload = (text or "").encode("utf-8")
    digest = hashlib.sha1(payload).hexdigest()
    rec_uuid = hashlib.md5(
        (url or "").encode("utf-8") + b"\x00" + payload
    ).hexdigest()
    rec_id = (
        f"<urn:uuid:{rec_uuid[:8]}-{rec_uuid[8:12]}-{rec_uuid[12:16]}-"
        f"{rec_uuid[16:20]}-{rec_uuid[20:32]}>"
    )
    # NaT passes isinstance(·, datetime) but fails strftime — the != self
    # check treats it as missing (one dateless record must not kill a
    # task); the epoch fallback keeps output deterministic
    if isinstance(warc_ts, datetime) and warc_ts == warc_ts:
        ts = warc_ts
    else:
        ts = datetime(2020, 1, 1, tzinfo=timezone.utc)
    if ts.tzinfo is not None:
        # the 'Z' suffix asserts UTC — convert, don't just relabel
        # (naive timestamps are taken as UTC: the session factory pins
        # spark.sql.session.timeZone=UTC, so Arrow hands UTC wall times)
        ts = ts.astimezone(timezone.utc)
    date = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
    headers = [
        ("WARC-Type", "conversion"),
        ("WARC-Target-URI", url or ""),
        ("WARC-Date", date),
        ("WARC-Record-ID", rec_id),
        ("WARC-Block-Digest", f"sha1:{digest}"),
        ("Content-Type", "text/plain"),
        ("Content-Length", str(len(payload))),
    ]
    if refers_to:
        headers.insert(4, ("WARC-Refers-To", refers_to))
    head = b"\r\n".join(
        [b"WARC/1.0"] + [f"{k}: {v}".encode("utf-8") for k, v in headers]
    )
    return head + b"\r\n\r\n" + payload + b"\r\n\r\n"


def write_wet_gz(path: str, rows) -> int:
    """Driver-side writer: ``rows`` is an iterable of (url, warc_ts, text)
    — e.g. ``df.collect()`` of a SMALL golden DataFrame. One gzip member
    per record. Returns the record count."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    n = 0
    with open(path, "wb") as f:
        for url, warc_ts, text in rows:
            f.write(gzip.compress(wet_record_bytes(url, warc_ts, text), mtime=0))
            n += 1
    return n


def write_wet_files(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """Distributed WET export: one shard per partition. Returns the
    manifest DataFrame (path, n_records, n_bytes) — collect it to run the
    job; only |partitions| manifest rows reach the driver."""
    import pandas as pd

    src = df.select(url_col, ts_col, text_col)

    def _write(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.wet.gz")
        # stream each compressed member straight to disk — never hold the
        # shard in memory (a CC-sized partition is ~1 GB compressed)
        f = None
        n = 0
        n_bytes = 0
        for pdf in batches:
            for url, ts, text in zip(
                pdf[url_col], pdf[ts_col], pdf[text_col]
            ):
                if f is None:
                    os.makedirs(out_dir, exist_ok=True)
                    f = open(path, "wb")
                member = gzip.compress(wet_record_bytes(url, ts, text), mtime=0)
                f.write(member)
                n += 1
                n_bytes += len(member)
        if f is None:
            return
        f.close()
        yield pd.DataFrame(
            {"path": [path], "n_records": [n], "n_bytes": [n_bytes]}
        )

    return src.mapInPandas(_write, WET_MANIFEST_SCHEMA)
