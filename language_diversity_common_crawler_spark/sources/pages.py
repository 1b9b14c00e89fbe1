"""Deterministic synthetic `pages` table (FIXTURES.md §1).

Schema per BASELINE.json input_hint:
    pages(url string, warc_ts timestamp, html binary, text string,
          lang string)
plus header-derived fixture columns the reference reads from WARC records
(warc_extraction.py:17,30,43,57; decoding.py:14-17):
    http_charset, accept_language, warc_record_id, content_length (string —
    the reference keeps it a string), segment (5-digit), and the golden
    `text`/`lang` labels.

Generation is PURE python `random.Random(seed)` — no wall clock, no numpy
global state — so every run and both sides of every test see identical
bytes. The `text` column is the golden output: reference decode
(functions/decode.py, mirroring decoding.py:4-55) + html→text
(functions/boilerplate.py) applied to the generated html bytes — the
byte-identity anchor.

Charset matrix exercises every branch of the fallback chain
(decoding.py:37-55): see _CHARSET_PLANS.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta, timezone

from ..functions.boilerplate import html_to_text
from ..functions.decode import decode_bytes
from ..functions.langspec import LANGS, MODEL_MARKERS

# Words per language that the three models actually key on, plus neutral
# filler so documents have realistic marker densities.
_LANG_WORDS: dict[str, list[str]] = {}
for _lang in LANGS:
    ws: list[str] = []
    for _m in MODEL_MARKERS.values():
        ws.extend(w.strip() for w in _m[_lang])
    _LANG_WORDS[_lang] = sorted(set(ws))

_FILLER = [
    "alpha", "bravo", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "kilo", "lima", "mike", "november", "oscar", "papa",
]

# (declared_http_charset, encode_codec, marker_char_to_inject, expect_drop)
# Each plan exercises one branch of decoding.py:37-55.
_CHARSET_PLANS = [
    (None, "utf-8", "", False),              # default utf-8 (decoding.py:14-17)
    ("utf-8", "utf-8", "", False),           # plain utf-8
    ("utf-7", "utf-8", "", False),           # utf-7 treated as utf-8
    ("iso-8859-1", "iso-8859-1", "", False),  # latin-1 total decode
    ("windows-1251", "utf-8", "‘", False),  # cp1251 fails on 0x98 → utf-8
    ("gbk", "gb18030", "\U0001F600", False),  # gb18030-only char → fallback
    ("shift_jis", "shift_jisx0213", "①", False),  # x0213-only char
    ("euc-jp", "euc_jisx0213", "①", False),       # x0213-only char
    ("utf-8", "iso-8859-1", "é", False),  # invalid utf-8 → iso-8859-1
    ("ascii", "utf-8", "é", True),       # not in chain → sentinel/drop
]


def _sentence(rng: random.Random, lang: str, n_words: int) -> str:
    words = []
    lw = _LANG_WORDS[lang]
    for _ in range(n_words):
        pool = lw if rng.random() < 0.45 else _FILLER
        words.append(rng.choice(pool))
    return " ".join(words)


def _zipf_host(rng: random.Random, n_hosts: int = 50, s: float = 1.2) -> int:
    # inverse-CDF over precomputed zipf weights (deterministic)
    global _ZIPF_CDF
    if "_ZIPF_CDF" not in globals() or len(_ZIPF_CDF) != n_hosts:
        w = [1.0 / ((i + 1) ** s) for i in range(n_hosts)]
        tot = sum(w)
        acc, cdf = 0.0, []
        for x in w:
            acc += x / tot
            cdf.append(acc)
        _ZIPF_CDF = cdf
    u = rng.random()
    for i, c in enumerate(_ZIPF_CDF):
        if u <= c:
            return i
    return n_hosts - 1


def generate_pages(n: int, seed: int = 42, n_hosts: int = 50) -> list[dict]:
    """n deterministic page rows (list of plain dicts)."""
    rng = random.Random(seed)
    base_ts = datetime(2023, 9, 21, 7, 37, 11, tzinfo=timezone.utc)
    rows = []
    for i in range(n):
        lang = LANGS[rng.randrange(len(LANGS))] if rng.random() < 0.9 else "un"
        host_i = _zipf_host(rng, n_hosts)
        tld = ["com", "de", "jp", "ru", "cn"][host_i % 5]
        url = f"https://host{host_i}.example.{tld}/p/{i}"
        seg = f"{(i % 6):05d}"

        declared, codec, inject, expect_drop = _CHARSET_PLANS[
            i % len(_CHARSET_PLANS)
        ]
        body_lang = lang if lang != "un" else "en"
        body = _sentence(rng, body_lang, rng.randrange(20, 80))
        if lang == "un":
            body = " ".join(rng.choice(_FILLER) for _ in range(5))
        if inject:
            body = body + " " + inject

        meta_variant = i % 3  # 0: meta name=language, 1: html lang, 2: none
        meta_html = (
            f'<meta name="language" content="{body_lang}">' if meta_variant == 0
            else ""
        )
        lang_attr = f' lang="{body_lang}"' if meta_variant == 1 else ""
        html_str = (
            f"<html{lang_attr}><head>{meta_html}<title>Page {i}</title>"
            f"<style>.x{{color:red}}</style></head><body>"
            f"<nav>home | about | contact</nav>"
            f"<header>Site {host_i}</header>"
            f"<div><p>{body}</p></div>"
            f"<script>var x = {i};</script>"
            f"<footer>(c) example {tld}</footer></body></html>"
        )
        try:
            html_bytes = html_str.encode(codec)
        except UnicodeEncodeError:
            html_bytes = html_str.encode("utf-8")
            declared = "utf-8"

        accept_language = None if i % 7 == 0 else f"{body_lang}-XX,{body_lang};q=0.9"

        decoded = decode_bytes(html_bytes, declared)
        golden_text = html_to_text(decoded) if decoded is not None else None
        if expect_drop:
            assert decoded is None, f"plan expected drop for row {i}"

        rows.append(
            {
                "url": url,
                "warc_ts": base_ts + timedelta(seconds=i),
                "html": html_bytes,
                "text": golden_text,
                "lang": lang,
                "http_charset": declared,
                "accept_language": accept_language,
                "warc_record_id": f"<urn:uuid:{i:032x}>",
                "content_length": str(len(html_bytes)),
                "segment": seg,
            }
        )
    return rows


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "http_charset string, accept_language string, warc_record_id string, "
    "content_length string, segment string"
)


def pages_df(spark, n: int, seed: int = 42, n_partitions: int | None = None):
    """Synthesize as a Spark DataFrame (partitioned for parallel tests)."""
    rows = generate_pages(n, seed)
    df = spark.createDataFrame([tuple(r.values()) for r in rows], PAGES_SCHEMA)
    if n_partitions:
        df = df.repartition(n_partitions)
    return df


def write_golden_extract_parquet(path: str, n: int, seed: int = 42) -> str:
    """Expected extract-pipeline output as a parquet file (driver-side
    pyarrow — no Spark): for every page whose decode succeeds, the golden
    ``content`` (the generator's byte-identity text) and the three
    L4-normalized model predictions computed by the same pure functions the
    UDFs run (langspec.predict_py; normalization per
    language_identification_handler.py:37). This is the DuckDB oracle for
    the ``pages_extract_pipeline`` driver query — the UDF chain itself is
    not SQL-expressible, so the oracle replays it in Python once and the
    comparison is against the materialized table. Idempotent per path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..functions.langspec import MODELS, predict_py

    if os.path.exists(path):
        return path
    cols: dict[str, list] = {
        "url": [], "segment": [], "content": [],
        "df_lang": [], "li_lang": [], "cld_lang": [],
    }
    for row in generate_pages(n, seed):
        if row["text"] is None:  # F1 decode-drop
            continue
        # predict_py output is already L4-normalized (langspec returns
        # 'un' for the unknown/sentinel cases)
        langs = [predict_py(m, row["text"])[0] for m in MODELS]
        cols["url"].append(row["url"])
        cols["segment"].append(row["segment"])
        cols["content"].append(row["text"])
        cols["df_lang"].append(langs[0])
        cols["li_lang"].append(langs[1])
        cols["cld_lang"].append(langs[2])
    tmp = path + ".tmp"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, path)
    return path
