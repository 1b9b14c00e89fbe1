"""WARC ingest tests (S1/S2): synthetic ``.warc.gz`` round-trip to the
pages schema, byte-identical payloads, and the parsed table feeding the
extract pipeline end-to-end — the reference's real input path
(/root/reference/src/main.py:63-65,97) re-expressed as
binaryFile + mapInPandas."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from language_diversity_common_crawler_spark.sources import pages as pg
from language_diversity_common_crawler_spark.sources import warc


def _fixture_records(n=40, seed=7):
    rows = pg.generate_pages(n, seed=seed)
    recs = []
    for r in rows:
        recs.append(
            {
                "url": r["url"],
                "body": r["html"],
                "warc_date": r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
                "record_id": r["warc_record_id"],
                "http_charset": r["http_charset"],
                "accept_language": r["accept_language"],
            }
        )
    return rows, recs


def test_iter_warc_records_pure(tmp_path):
    """Pure-python record walk: every record back, in order, with exact
    header fields and byte-identical bodies."""
    rows, recs = _fixture_records()
    path = str(tmp_path / "CC-MAIN-20230921073711-20230921103711-00003.warc.gz")
    warc.write_warc_gz(path, recs)
    with open(path, "rb") as f:
        parsed = list(warc.iter_warc_records(f.read()))
    assert len(parsed) == len(rows)
    for row, rec in zip(rows, parsed):
        assert rec["warc_type"] == "response"
        assert rec["url"] == row["url"]
        assert rec["warc_record_id"] == row["warc_record_id"]
        assert rec["html"] == row["html"]  # byte identity
        assert rec["accept_language"] == row["accept_language"]
        expect_cs = row["http_charset"]
        assert rec["http_charset"] == (expect_cs if expect_cs else None)
    assert warc.segment_of(path) == "00003"


def test_iter_warc_uncompressed_and_resync():
    """Plain (non-gz) WARC bytes parse too, and a stray prefix before the
    first WARC/ version line is skipped (resynchronization)."""
    _, recs = _fixture_records(n=3)
    blob = b"garbage-prefix\r\n" + b"".join(
        warc.build_record_bytes(**r) for r in recs
    )
    parsed = list(warc.iter_warc_records(blob))
    assert [p["url"] for p in parsed] == [r["url"] for r in recs]


def test_warc_pages_dataframe_roundtrip(spark, tmp_path):
    """binaryFile + mapInPandas: multi-file parse, schema, byte-identical
    html, segment from the CC filename template."""
    rows, recs = _fixture_records(n=30)
    for i in range(3):
        warc.write_warc_gz(
            str(
                tmp_path
                / f"CC-MAIN-20230921073711-20230921103711-{i:05d}.warc.gz"
            ),
            recs[i::3],
        )
    df = warc.warc_pages(spark, str(tmp_path / "*.warc.gz"))
    got = {r["url"]: r for r in df.collect()}
    assert len(got) == len(rows)
    for row in rows:
        g = got[row["url"]]
        assert bytes(g["html"]) == row["html"]
        assert g["warc_record_id"] == row["warc_record_id"]
        assert g["content_length"] is not None
        assert g["segment"] in {"00000", "00001", "00002"}
        assert g["warc_ts"].replace(tzinfo=None) == row["warc_ts"].replace(
            tzinfo=None
        )


def test_warc_pages_empty_glob_raises(spark, tmp_path):
    """A shard glob that matches no file fails loudly at the reader; it
    must never read as an empty pages table."""
    rows, recs = _fixture_records(n=4)
    warc.write_warc_gz(
        str(tmp_path / "CC-MAIN-20230921073711-20230921103711-00000.warc.gz"),
        recs,
    )
    assert warc.warc_pages(spark, str(tmp_path / "*.warc.gz")).count() == len(
        rows
    )
    with pytest.raises(FileNotFoundError, match=r"matches the shard glob"):
        warc.warc_pages(spark, str(tmp_path / "*.warc.wet.gz"))


def test_warc_to_extract_pipeline(spark, tmp_path):
    """Parsed WARC rows drive the full extract pipeline: the model
    predictions match running the same pipeline on the equivalent
    synthesized pages table (same html bytes -> same text -> same langs)."""
    from language_diversity_common_crawler_spark.plans.pipeline import (
        extract_pipeline,
    )

    n = 30
    rows, recs = _fixture_records(n=n)
    path = str(tmp_path / "CC-MAIN-20230921073711-20230921103711-00000.warc.gz")
    warc.write_warc_gz(path, recs)
    parsed = warc.warc_pages(spark, path)
    out = extract_pipeline(parsed).select(
        "url", "content", "df_lang", "li_lang", "cld_lang"
    )
    ref = extract_pipeline(pg.pages_df(spark, n, seed=7)).select(
        "url", "content", "df_lang", "li_lang", "cld_lang"
    )
    a = sorted(tuple(r) for r in out.collect())
    b = sorted(tuple(r) for r in ref.collect())
    assert a == b and len(a) > 0


def test_fixture_from_documents_idempotent(tmp_path):
    out = str(tmp_path / "wfx")
    warc.write_fixture_from_documents("/root/testdata/sf0.001", out, n_files=4)
    import glob
    import os

    files = sorted(glob.glob(f"{out}/*.warc.gz"))
    assert len(files) == 4
    mtimes = [os.path.getmtime(f) for f in files]
    warc.write_fixture_from_documents("/root/testdata/sf0.001", out, n_files=4)
    assert [os.path.getmtime(f) for f in files] == mtimes  # _DONE short-circuit


def test_multi_member_gzip_layout(tmp_path):
    """Each record is its own gzip member (CC layout) — the file is a valid
    multi-member stream AND each member is independently decompressible."""
    _, recs = _fixture_records(n=4)
    path = str(tmp_path / "x-00000.warc.gz")
    warc.write_warc_gz(path, recs)
    with open(path, "rb") as f:
        data = f.read()
    # member boundaries = gzip magic occurrences at member starts
    starts = [i for i in range(len(data) - 1) if data[i : i + 2] == b"\x1f\x8b"
              and (i == 0 or data[i + 2] == 8)]
    assert len(starts) >= 4
    first = gzip.decompress(data[starts[0] : starts[1]])
    assert first.startswith(b"WARC/1.0\r\n")


def test_warc_pages_stream(spark, tmp_path):
    """Streaming ingest: .warc.gz files arriving in a directory become
    micro-batches through the SAME parser; availableNow drains the
    directory with one file per trigger and the union of batches equals
    the batch reader's output."""
    rows, recs = _fixture_records(n=20)
    src = tmp_path / "incoming"
    src.mkdir()
    for i in range(2):
        warc.write_warc_gz(
            str(src / f"CC-MAIN-x-{i:05d}.warc.gz"), recs[i::2]
        )
    stream = warc.warc_pages_stream(spark, str(src))
    assert stream.isStreaming
    out = str(tmp_path / "out")
    batches = []

    def _sink(df, batch_id):
        batches.append(df.count())
        df.write.mode("overwrite").parquet(f"{out}/batch={batch_id:05d}")

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) == 2 and sum(batches) == len(rows)
    got = {r["url"]: bytes(r["html"]) for r in spark.read.parquet(
        f"{out}/batch=*").collect()}
    assert got == {r["url"]: r["html"] for r in rows}


def test_warc_roundtrip_property():
    """Hypothesis: arbitrary binary bodies + header inputs survive
    build_record_bytes -> iter_warc_records byte-identically."""
    hypothesis = pytest.importorskip("hypothesis")
    given, settings = hypothesis.given, hypothesis.settings
    st = hypothesis.strategies

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.binary(max_size=300),
                st.text(
                    alphabet=st.characters(
                        min_codepoint=33, max_codepoint=126
                    ),
                    min_size=1, max_size=40,
                ),
                st.one_of(st.none(), st.sampled_from(
                    ["utf-8", "iso-8859-1", "GBK"])),
            ),
            min_size=1, max_size=6,
        )
    )
    def inner(items):
        recs = [
            {
                "url": f"https://h.ex/{i}/{u}",
                "body": body,
                "warc_date": "2023-09-21T07:37:11Z",
                "record_id": f"<urn:uuid:{i:032x}>",
                "http_charset": cs,
                "accept_language": None,
            }
            for i, (body, u, cs) in enumerate(items)
        ]
        blob = b"".join(warc.build_record_bytes(**r) for r in recs)
        parsed = list(warc.iter_warc_records(blob))
        assert len(parsed) == len(recs)
        for r, p in zip(recs, parsed):
            assert p["html"] == r["body"]
            assert p["url"] == r["url"]
            cs = r["http_charset"]
            assert p["http_charset"] == (cs.lower() if cs else None)

    inner()


@pytest.mark.parametrize(
    "name,expect",
    [
        ("CC-MAIN-20230921073711-20230921103711-00042.warc.gz", "00042"),
        ("/a/b/seg-00007.warc", "00007"),
        ("plain.warc.gz", "plain"),
    ],
)
def test_segment_of(name, expect):
    assert warc.segment_of(name) == expect
