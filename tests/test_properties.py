"""Seeded property-based tests (hypothesis) over the PURE functions —
cheap invariants SURVEY.md §5.3 calls for. No SparkSession needed: these
exercise the exact same functions the UDFs and the sequential oracle run.
"""

from __future__ import annotations

import os
import sys

from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from language_diversity_common_crawler_spark.frontier import oracle  # noqa: E402
from language_diversity_common_crawler_spark.frontier.robots import (  # noqa: E402
    parse_robots_txt,
    py_allowed,
)
from language_diversity_common_crawler_spark.frontier.seen import (  # noqa: E402
    CuckooFilter,
)
from language_diversity_common_crawler_spark.functions.decode import (  # noqa: E402
    decode_bytes,
)
from language_diversity_common_crawler_spark.functions.langspec import (  # noqa: E402
    MODELS,
    predict_py,
)

CHARSETS = [None, "utf-8", "utf-7", "iso-8859-1", "gbk", "gb18030",
            "shift_jis", "euc-jp", "windows-1251", "ascii", "bogus-charset"]


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=256), st.sampled_from(CHARSETS))
def test_decode_never_raises(body, charset):
    """The decode chain must be total: any bytes + any charset yields a
    str or None, never an exception (one bad record must not kill a job)."""
    out = decode_bytes(body, charset)
    assert out is None or isinstance(out, str)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=256))
def test_decode_iso_8859_1_total(body):
    """iso-8859-1 maps every byte — with that charset decode never fails."""
    assert isinstance(decode_bytes(body, "iso-8859-1"), str)


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=300), st.sampled_from(MODELS))
def test_langid_models_total_and_deterministic(text, model):
    """Every model yields (lang, precision) for any text, and is a pure
    function (same input → same output — the byte-identity prerequisite)."""
    a = predict_py(model, text)
    b = predict_py(model, text)
    assert a == b
    assert isinstance(a[0], str) and len(a[0]) >= 2
    assert isinstance(a[1], float)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=120))
def test_canonicalize_idempotent(path_bit):
    """canonicalize(canonicalize(u)) == canonicalize(u) for well-formed
    URLs — the frontier relies on canonical form being a fixed point so
    the seen-set key is stable across rediscoveries."""
    url = "HTTP://Example.COM:80/" + "".join(
        c for c in path_bit if c.isalnum() or c in "/._-"
    )
    once = oracle.py_canonicalize(url)
    assert oracle.py_canonicalize(once) == once


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=60),
       st.sampled_from(["\n", "\r"]),
       st.text(alphabet=st.characters(codec="utf-8"), max_size=60))
def test_canonicalize_terminator_passthrough(a, term, b):
    """Any input containing a raw line terminator passes through unchanged
    and yields host '' — the cross-engine contract that sidesteps
    Java/RE2/Python '$' divergence (canonicalize_expr CONTRACT note)."""
    url = a + term + b
    assert oracle.py_canonicalize(url) == url
    assert oracle.py_host(url) == ""


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=2**62), min_size=1,
                max_size=300, unique=True))
def test_cuckoo_no_false_negatives(keys):
    import numpy as np

    cf = CuckooFilter(n_buckets=1 << 10)
    arr = np.array(keys, dtype=np.uint64)
    failed = cf.insert(arr)
    assert failed == 0
    assert cf.contains(arr).all()


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.sampled_from(["/a", "/a/b", "/priv", "/x/y", "/"]),
             max_size=4),
    st.lists(st.sampled_from(["/a/b/ok", "/priv/pub"]), max_size=2),
    st.sampled_from(["/a", "/a/b/c", "/priv/x", "/other", "/a/b/ok/z"]),
)
def test_robots_longest_match(disallow, allow, path):
    """py_allowed semantics (REP longest-match): the most specific matching
    rule wins; Allow wins ties; no matching Disallow means allowed."""
    url = "https://h.ex" + path
    got = py_allowed(url, disallow, allow)
    max_dis = max((len(p) for p in disallow if path.startswith(p)), default=0)
    max_alw = max((len(p) for p in allow if path.startswith(p)), default=0)
    assert got == (max_dis == 0 or max_alw >= max_dis)


def test_robots_parse_multi_group():
    body = (
        "User-agent: googlebot\nDisallow: /g/\n\n"
        "User-agent: *\nDisallow: /all/\nAllow: /all/ok\n"
    )
    dis, alw = parse_robots_txt(body, user_agent="mybot")
    assert "/all/" in dis and "/all/ok" in alw
    assert "/g/" not in dis


def test_robots_specific_group_overrides_wildcard():
    """RFC 9309 §2.2.1: when a group names the crawler, ONLY that group
    applies — wildcard rules must not merge in."""
    body = (
        "User-agent: *\nDisallow: /all/\n\n"
        "User-agent: mybot\nDisallow: /mine/\nCrawl-delay: 7\n"
    )
    dis, alw = parse_robots_txt(body, user_agent="mybot")
    assert dis == ["/mine/"] and alw == []
    from language_diversity_common_crawler_spark.frontier.robots import (
        parse_crawl_delay,
    )

    assert parse_crawl_delay(body, user_agent="mybot") == 7
    # a crawler not named anywhere falls back to the wildcard group
    dis2, _ = parse_robots_txt(body, user_agent="otherbot")
    assert dis2 == ["/all/"]


def test_robots_multi_ua_header_and_preamble():
    """Consecutive UA lines share one group; fields before any UA line
    belong to no group; specific-group selection unions all groups that
    name the UA."""
    body = (
        "Sitemap: https://h.ex/s.xml\n"
        "User-agent: a\nUser-agent: mybot\nDisallow: /one/\n\n"
        "User-agent: mybot\nDisallow: /two/\n\n"
        "User-agent: *\nDisallow: /wild/\n"
    )
    dis, _ = parse_robots_txt(body, user_agent="mybot")
    assert dis == ["/one/", "/two/"]


# ---------------------------------------------------------------------------
# diversity-index quantization: DuckDB twin == pure-Python reference
# ---------------------------------------------------------------------------

@given(
    st.lists(
        st.tuples(st.sampled_from("abcdefgh"), st.integers(1, 500)),
        min_size=1, max_size=8, unique_by=lambda t: t[0],
    )
)
@settings(max_examples=40, deadline=None)
def test_diversity_sql_twin_matches_python_reference(lang_counts):
    """For ANY language count multiset the DuckDB dialect twin reproduces
    the per-term-quantized Shannon/Simpson exactly as a plain-Python
    implementation of the documented formula — the cross-engine
    determinism claim operators/diversity.py makes, fuzzed."""
    import math

    import duckdb

    from language_diversity_common_crawler_spark.operators import diversity

    def round_half_away(x):
        # DuckDB round() and Spark round() are HALF_UP (away from zero for
        # the nonnegative values here); Python's round() is banker's.
        return math.floor(x + 0.5)

    total = sum(c for _, c in lang_counts)
    slc_milli = sum(
        round_half_away(c * math.log2(c) * 1000.0) for _, c in lang_counts
    )
    sc2 = sum(c * c for _, c in lang_counts)
    exp_shannon = round_half_away(
        (math.log2(total) - (slc_milli / 1000.0) / total) * 1000.0
    )
    exp_simpson = round_half_away((1.0 - sc2 / (total * total)) * 1000.0)

    con = duckdb.connect()
    con.execute("CREATE TABLE docs (source VARCHAR, lang VARCHAR)")
    con.executemany(
        "INSERT INTO docs VALUES ('s', ?)",
        [(lang,) for lang, c in lang_counts for _ in range(c)],
    )
    sql = diversity.sql_diversity_metrics(
        "SELECT source, lang FROM docs", "lang", ["source"]
    )
    row = con.execute(sql).fetchone()
    assert row[1] == len(lang_counts)
    assert row[2] == total
    assert row[3] == exp_shannon
    assert row[4] == exp_simpson


@given(
    st.integers(0, 200),                      # doc length
    st.tuples(st.integers(1, 50), st.integers(1, 50)).filter(
        lambda t: t[1] <= t[0]                # stride <= width (no gaps)
    ),
)
@settings(max_examples=60, deadline=None)
def test_document_chunks_start_set_properties(n, ws):
    """For ANY (length, width, stride >= ... <= width): the DuckDB twin's
    chunk set covers every character, each chunk after the first extends
    past its predecessor's end (no wholly-contained duplicates), and
    starts are exactly 0, stride, 2*stride, ..."""
    import duckdb

    from language_diversity_common_crawler_spark.functions.text_analysis import (
        sql_document_chunks,
    )

    width, stride = ws
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO docs VALUES (1, ?)", [("x" * n) if n else ""])
    rows = con.execute(
        sql_document_chunks("docs", width=width, stride=stride)
    ).fetchall()
    rows.sort(key=lambda r: r[1])
    # one chunk minimum, contiguous indices
    assert [r[1] for r in rows] == list(range(len(rows)))
    ends = [min(r[1] * stride + r[3], max(n, 0)) for r in rows]
    assert ends[-1] == n or (n == 0 and ends[-1] == 0)   # full coverage
    for prev, cur in zip(ends, ends[1:]):
        assert cur > prev, (n, width, stride, ends)       # no contained chunk


# arbitrary JSON-ish values (bounded depth) for the WAT envelope fuzz
_json_val = st.recursive(
    st.none() | st.booleans() | st.integers() | st.floats(allow_nan=False)
    | st.text(max_size=8),
    lambda children: st.lists(children, max_size=3)
    | st.dictionaries(st.text(max_size=6), children, max_size=3),
    max_leaves=8,
)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=128))
def test_wat_links_of_total_on_bytes(payload):
    """_links_of must be total on arbitrary bytes: (uri-or-None, list),
    never an exception — one mojibake WAT record must not kill a task."""
    from language_diversity_common_crawler_spark.sources.wat import _links_of

    uri, links = _links_of(payload)
    assert uri is None or isinstance(uri, (str, int, float, bool, list, dict))
    assert isinstance(links, list)


@settings(max_examples=200, deadline=None)
@given(_json_val, _json_val)
def test_wat_links_of_total_on_json(links_val, hdr_val):
    """Any JSON shape in the Links slot (or the header slot) degrades to
    an empty/partial link list, never an exception."""
    import json as _json

    from language_diversity_common_crawler_spark.sources.wat import _links_of

    env = {"Envelope": {
        "WARC-Header-Metadata": hdr_val,
        "Payload-Metadata": {"HTTP-Response-Metadata": {
            "HTML-Metadata": {"Links": links_val}}},
    }}
    try:
        payload = _json.dumps(env).encode()
    except (TypeError, ValueError):
        return  # unserializable combos are not reachable from real WAT
    uri, links = _links_of(payload)
    assert isinstance(links, list)


@settings(max_examples=100, deadline=None)
@given(_json_val)
def test_wat_row_fields_always_string_or_none(links_val):
    """The field-level guards: whatever JSON sits in Links, every row the
    parse function would emit has str-or-None href/anchor/path and a str
    href — the Arrow cast to the string schema can never see an object."""
    import json as _json

    from language_diversity_common_crawler_spark.sources import wat

    env = {"Envelope": {
        "WARC-Header-Metadata": {"WARC-Target-URI": "https://a.ex/1"},
        "Payload-Metadata": {"HTTP-Response-Metadata": {
            "HTML-Metadata": {"Links": links_val}}},
    }}
    try:
        payload = _json.dumps(env).encode()
    except (TypeError, ValueError):
        return
    _, links = wat._links_of(payload)
    for ln in links[:64]:
        if not isinstance(ln, dict):
            continue
        href = ln.get("url")
        if not isinstance(href, str) or not href:
            continue  # the parse fn skips these rows
        anchor = ln.get("text")
        lpath = ln.get("path")
        assert isinstance(href, str)
        assert anchor is None or isinstance(anchor, (str, int, float, bool,
                                                     list, dict))
        # the emit path coerces non-str anchor/path to None
        emitted_anchor = anchor if isinstance(anchor, str) else None
        emitted_path = lpath if isinstance(lpath, str) else None
        assert emitted_anchor is None or isinstance(emitted_anchor, str)
        assert emitted_path is None or isinstance(emitted_path, str)
