"""Seeded, fixed-size inputs for the benchmark workloads.

Every generator is a pure function of ``seed`` (``random.Random(seed)``,
no wall clock, no global state), and no size depends on the core count.
"""

from __future__ import annotations

import bisect
import random

# Fixed input sizes (never scaled by cpus).
CRAWL_SEED_URLS = 3000
CRAWL_HOSTS = 1500
CRAWL_ROBOTS_SHARE = 0.2
CRAWL_DUP_SHARE = 0.1
CRAWL_BUDGET = 3
CRAWL_COMPACT_EVERY = 2

EXTRACT_PAGES = 3000      # 6 segments of ~500 pages (sources.pages layout)

CORPUS_DOCS = 1000
DEDUP_DOCS = 150

N_LANGS = 12
N_SOURCES = 8

# smoke sizes for the self-test (selftest.py): same shapes, tiny inputs
SMOKE_SIZES = {"CRAWL_SEED_URLS": 300, "CRAWL_HOSTS": 150,
               "EXTRACT_PAGES": 300, "CORPUS_DOCS": 300, "DEDUP_DOCS": 100}


def use_smoke_sizes() -> None:
    globals().update(SMOKE_SIZES)

ROBOTS_BODY = (
    "User-agent: *\n"
    "Disallow: /private/\n"
    "Allow: /private/open/\n"
    "Disallow: /tmp\n"
)


def _zipf_cdf(n: int, s: float) -> list[float]:
    w = [1.0 / ((i + 1) ** s) for i in range(n)]
    tot = sum(w)
    acc, cdf = 0.0, []
    for x in w:
        acc += x / tot
        cdf.append(acc)
    cdf[-1] = 1.0
    return cdf


def _draw(rng: random.Random, cdf: list[float]) -> int:
    return bisect.bisect_left(cdf, rng.random())


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------

def _messy(rng: random.Random, host: str, path: str) -> str:
    """One raw spelling of ``https://<host><path>``: mixed-case scheme and
    host, default port, dot-segments, tracking params, fragments — every
    rewrite the canonicalizer undoes."""
    scheme = rng.choice(["https", "HTTPS", "Https"])
    h = host if rng.random() < 0.5 else host.upper()
    port = ":443" if rng.random() < 0.3 else ""
    p = path
    if rng.random() < 0.15:
        p = "/x/.." + p
    q = ""
    r = rng.random()
    if r < 0.2:
        q = "?utm_source=feed&utm_medium=rss"
    elif r < 0.3:
        q = f"?id={rng.randrange(1000)}&ref=home"
    frag = "#top" if rng.random() < 0.2 else ""
    return f"{scheme}://{h}{port}{p}{q}{frag}"


def crawl_inputs(seed: int) -> tuple[list[str], dict[str, str]]:
    """(raw seed URLs, {host: robots.txt body}).

    ``CRAWL_SEED_URLS`` URLs over ``CRAWL_HOSTS`` Zipf-skewed hosts; about
    ``CRAWL_DUP_SHARE`` of them are another spelling of an earlier URL
    (same canonical form); ``CRAWL_ROBOTS_SHARE`` of the hosts carry a
    robots body."""
    rng = random.Random(seed)
    cdf = _zipf_cdf(CRAWL_HOSTS, 1.1)
    hosts = [f"h{i}.s{seed % 97}.example.{('com', 'de', 'jp', 'ru')[i % 4]}"
             for i in range(CRAWL_HOSTS)]
    canon: list[tuple[str, str]] = []
    raw: list[str] = []
    for i in range(CRAWL_SEED_URLS):
        if canon and rng.random() < CRAWL_DUP_SHARE:
            host, path = canon[rng.randrange(len(canon))]
        else:
            host = hosts[_draw(rng, cdf)]
            kind = rng.random()
            if kind < 0.15:
                path = f"/private/p{i}"
            elif kind < 0.2:
                path = f"/private/open/p{i}"
            elif kind < 0.25:
                path = f"/tmp{i}"
            else:
                path = f"/a/p{i}"
            canon.append((host, path))
        raw.append(_messy(rng, host, path))
    robots = {
        h: ROBOTS_BODY for h in hosts if rng.random() < CRAWL_ROBOTS_SHARE
    }
    return raw, robots


# ---------------------------------------------------------------------------
# corpus / dedup documents
# ---------------------------------------------------------------------------

_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "da",
        "fe", "gu", "hi", "jo", "be"]


def _vocab(rng: random.Random, n_words: int) -> list[str]:
    return [
        "".join(rng.choice(_SYL) for _ in range(rng.randrange(2, 5)))
        for _ in range(n_words)
    ]


BOILERPLATE_LINES = [
    "cookie settings accept all cookies",
    "subscribe to our newsletter today",
    "all rights reserved by the publisher",
    "share this page with your friends",
    "read more stories from our archive",
    "skip to main content navigation",
]


def documents(seed: int, n: int) -> dict[str, list]:
    """Column dict ``(doc_id, text, lang, source)`` of ``n`` documents.

    Shares (of the rows): 5% exact duplicates of an earlier doc, 10%
    near-duplicates (an earlier doc with a few words replaced), and 40%
    carry one of a few shared boilerplate lines. Texts are multi-line
    (newline-separated), 50-150 alphabetic words, so the Gopher gates pass
    most of them; 3% are too short and fail the word-count gate."""
    rng = random.Random(seed)
    langs = [f"l{j:02d}" for j in range(N_LANGS)]
    lang_cdf = _zipf_cdf(N_LANGS, 0.8)
    vocab = {lg: _vocab(rng, 300) for lg in langs}
    ids, texts, lgs, srcs = [], [], [], []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            j = rng.randrange(len(texts))
            text, lang = texts[j], lgs[j]
        elif i > 10 and r < 0.15:
            j = rng.randrange(len(texts))
            lang = lgs[j]
            words = texts[j].replace("\n", " \n ").split(" ")
            for _ in range(3):
                k = rng.randrange(len(words))
                if words[k] != "\n":
                    words[k] = rng.choice(vocab[lang])
            text = " ".join(words).replace(" \n ", "\n")
        else:
            lang = langs[_draw(rng, lang_cdf)]
            n_words = rng.randrange(8, 20) if rng.random() < 0.03 else \
                rng.randrange(50, 150)
            words = [rng.choice(vocab[lang]) for _ in range(n_words)]
            lines, pos = [], 0
            while pos < len(words):
                step = rng.randrange(8, 20)
                lines.append(" ".join(words[pos:pos + step]))
                pos += step
            if rng.random() < 0.4:
                lines.append(rng.choice(BOILERPLATE_LINES))
            text = "\n".join(lines)
        ids.append(i * 7919 + seed % 1000)
        texts.append(text)
        lgs.append(lang)
        srcs.append(f"src{rng.randrange(N_SOURCES)}")
    return {"doc_id": ids, "text": texts, "lang": lgs, "source": srcs}
