"""Seeded input generator for the benchmark.

Everything here is a pure function of ``seed`` (plus fixed constants),
written with the standard library only, so nothing in the program under
test can change what is measured. Each generated item records the answer
the program must produce for it:

- crawl pages carry ``golden``: the main-content text the page embeds,
  in the extractor's output format (``## heading`` lines, blocks joined
  by a blank line);
- deep-nesting pages carry the golden of the same page without the
  extra ``<div>`` nesting;
- the recrawl delta records which urls changed and which are new;
- corpus docs carry the ``drop_reason`` they were built to get, and
  survivors their expected ``clean_text``.
"""

from __future__ import annotations

import bisect
import math
import random
import statistics
import zlib
from dataclasses import dataclass, field

# 1-letter words are not tokens for the dedup tokenizer (\w\w+), so the
# vocabulary has none; the mean word length stays inside Gopher's 3..10.
_VOCAB = (
    "the of and to in is that for it with as on be at by this from or an are "
    "was but not have had they which one you were all she there would their "
    "we him been has when who will more no if out so said what up its about "
    "into than them can only other new some could time these two may then do "
    "first any my now such like our over me even most made after also did "
    "many before must through back years where much your way well down should "
    "because each just those people how too brain study data model result "
    "analysis method signal region cortex network sample measure effect group "
    "task response image scan voxel activation stimulus memory learning "
    "language attention emotion subject trial session cohort baseline "
    "contrast pathway neuron synapse receptor dopamine serotonin thalamus "
    "amygdala hippocampus cerebellum frontal parietal temporal occipital "
    "lesion imaging protocol dataset estimate variance regression factor "
    "control patient healthy clinical score rating scale behavior motor "
    "visual auditory reward decision working spatial verbal semantic lexical "
    "reading speech hearing vision movement coordination plasticity "
    "development aging disease disorder treatment therapy outcome follow "
    "sensitivity specificity accuracy validity reliability correlation "
    "significant robust consistent evidence finding report review survey "
    "meta across within between during while among under above below"
).split()

_BASE_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

# Crawl traffic as FIXTURES.md describes the engine's input: HTML
# payload sizes log-normal with a median of about 50 KB and a tail to
# about 2 MB, and about 1% of domains owning about 50% of rows. Sigma
# 1.12 puts the top stratum of an 800-page crawl near the 2 MB cap; the
# reference fixture HTML (180-636 KB) falls at the 87th-99th percentile.
PAGE_MEDIAN = 50_000
PAGE_SIGMA = 1.12
PAGE_MAX = 2_000_000
SHELL_BYTES = 2_500  # about the size of the boilerplate shell
N_DOMAINS = 500
DOMAIN_ZIPF = 1.2  # top 5 of 500 domains draw 49% of urls
DEEP_PAGES = 4  # seed-independent pages nested past the recursion limit
DEEP_NESTING = 1000  # extra <div> levels around their main content
PDF_FRAC = 0.05
CHANGED_FRAC = 0.10  # recrawl: pages with new main content
NEW_FRAC = 0.05  # recrawl: new urls


# ---------------------------------------------------------------- text


def _sentence(rng: random.Random, lo: int = 8, hi: int = 22) -> str:
    n = rng.randint(lo, hi)
    ws = rng.choices(_VOCAB, k=n)
    ws[0] = ws[0].capitalize()
    if n > 9:
        ws[rng.randrange(3, n - 3)] += ","
    return " ".join(ws) + "."


def sentence_pool(rng: random.Random, n: int) -> list[str]:
    return [_sentence(rng) for _ in range(n)]


def _heading(rng: random.Random) -> str:
    return " ".join(w.capitalize() for w in rng.sample(_VOCAB, rng.randint(2, 5)))


# ---------------------------------------------------------------- pages


@dataclass
class Page:
    url: str
    ts_us: int
    html: bytes
    lang: str | None
    golden: str
    kind: str  # html | pdf
    deep: bool = False


@dataclass
class Crawl:
    pages: list[Page]
    # recrawl bookkeeping (empty for a first crawl)
    changed: set = field(default_factory=set)
    new: set = field(default_factory=set)


def _zipf_cdf(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k**s
        out.append(acc)
    return [c / acc for c in out]


_DOMAIN_CDF = _zipf_cdf(N_DOMAINS, DOMAIN_ZIPF)


def _domain(rng: random.Random) -> str:
    rank = bisect.bisect_left(_DOMAIN_CDF, rng.random()) + 1
    return f"d{rank:03d}.example.org"


def _main_content(rng: random.Random, pool: list[str], n_bytes: int):
    """(html fragment, golden text) of an article body: whole sections
    until it holds at least ``n_bytes`` of HTML (at least one)."""
    html: list[str] = []
    golden: list[str] = []
    size = 0
    while not html or size < n_bytes:
        h = _heading(rng)
        html.append(f"<h2>{h}</h2>")
        golden.append(f"## {h}")
        for _ in range(rng.randint(2, 6)):
            sents = rng.choices(pool, k=rng.randint(3, 8))
            text = " ".join(sents)
            if rng.random() < 0.3:
                # inline markup: text is kept, tags are not
                i = rng.randrange(len(sents))
                sents[i] = f"<em>{sents[i]}</em>"
            html.append("<p>" + " ".join(sents) + "</p>")
            golden.append(text)
            size += len(html[-1])
    return "".join(html), "\n\n".join(golden)


def _links(rng: random.Random, n: int, prefix: str) -> str:
    return "".join(
        f'<li><a href="/{prefix}/{i}">{rng.choice(_VOCAB).capitalize()}</a></li>'
        for i in range(n)
    )


def _html_shell(rng: random.Random, site: str, body: str, nest: int = 0) -> bytes:
    title = _heading(rng)
    comments = "".join(
        f'<div class="comment"><p>{rng.choice(_VOCAB).capitalize()} '
        f"{rng.choice(_VOCAB)} {rng.choice(_VOCAB)}.</p></div>"
        for _ in range(rng.randint(1, 4))
    )
    article = "<div>" * nest + body + "</div>" * nest
    page = (
        "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">"
        f"<title>{title}</title><link rel=\"stylesheet\" href=\"/s.css\">"
        "<script>window.dataLayer=window.dataLayer||[];</script>"
        "<style>.post-body{max-width:40em}</style></head><body>"
        f'<header class="masthead"><a href="/">{site}</a></header>'
        f'<nav class="menu"><ul>{_links(rng, rng.randint(4, 9), "topic")}</ul></nav>'
        '<div class="cookie-consent">This site uses cookies. '
        '<a href="/privacy">Privacy</a> <a href="/ok">Accept</a></div>'
        f'<div class="sidebar widget"><ul>{_links(rng, 8, "tag")}</ul></div>'
        f'<main><article class="post-body">{article}</article>'
        f'<section class="comments">{comments}</section></main>'
        f'<div class="related">Related: <ul>{_links(rng, 5, "post")}</ul></div>'
        f"<footer>Copyright 2024 {site}. <a href=\"/terms\">Terms</a></footer>"
        "</body></html>"
    )
    return page.encode("utf-8")


def _pdf(rng: random.Random, pool: list[str]) -> tuple[bytes, str]:
    """Single-page PDF of positioned text lines; blocks are separated
    by a gap wider than the extractor's block threshold."""
    ops = ["BT /F1 11 Tf"]
    golden: list[str] = []
    y = 760.0
    for _ in range(rng.randint(2, 8)):
        lines = [_sentence(rng, 5, 10) for _ in range(rng.randint(2, 6))]
        for ln in lines:
            ops.append(f"1 0 0 1 72 {y:.1f} Tm ({ln}) Tj")
            y -= 13.0
        golden.append(" ".join(lines))
        y -= 26.0
    ops.append("ET")
    content = "\n".join(ops).encode("latin-1")
    filt = b""
    if rng.random() < 0.5:
        content = zlib.compress(content)
        filt = b" /Filter /FlateDecode"
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + filt
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    return pdf, "\n\n".join(golden)


_LANGS = ["en"] * 16 + ["de", "es", "fr"] + [None]


def page_sizes(rng: random.Random, n: int) -> list[int]:
    """``n`` HTML payload sizes from the log-normal above, one from each
    of ``n`` equally likely strata, shuffled: every seed gets the same
    shape, tail included, so the crawl's bytes barely move between
    seeds."""
    z = statistics.NormalDist().inv_cdf
    sizes = [
        min(PAGE_MAX, round(PAGE_MEDIAN * math.exp(PAGE_SIGMA * z((k + rng.random()) / n))))
        for k in range(n)
    ]
    rng.shuffle(sizes)
    return sizes


def _page(rng: random.Random, pool: list[str], url: str, ts_us: int, kind: str,
          n_bytes: int) -> Page:
    lang = rng.choice(_LANGS)
    if kind == "pdf":
        payload, golden = _pdf(rng, pool)
    else:
        body, golden = _main_content(rng, pool, n_bytes - SHELL_BYTES)
        payload = _html_shell(rng, url.split("/")[2], body)
    return Page(url, ts_us, payload, lang, golden, kind)


def deep_pages() -> list[Page]:
    """Pages whose main content sits under DEEP_NESTING extra <div>
    levels. Seed-independent: the same pages in every run."""
    rng = random.Random(992)
    pool = sentence_pool(rng, 200)
    out = []
    for i in range(DEEP_PAGES):
        body, golden = _main_content(rng, pool, 3_000)
        html = _html_shell(rng, "deep.example.org", body, nest=DEEP_NESTING + i)
        url = f"https://deep.example.org/nested/{i:02d}"
        out.append(Page(url, _BASE_EPOCH_US, html, "en", golden, "html", deep=True))
    return out


def crawl(seed: int, n_pages: int, with_deep: bool = True) -> Crawl:
    """A first crawl of ``n_pages`` seeded pages, exactly
    ``round(PDF_FRAC * n_pages)`` of them PDFs, plus the
    seed-independent deep-nesting pages when ``with_deep``."""
    rng = random.Random(seed * 7919 + 1)
    pool = sentence_pool(rng, 3000)
    n_pdf = round(PDF_FRAC * n_pages)
    kinds = ["pdf"] * n_pdf + ["html"] * (n_pages - n_pdf)
    rng.shuffle(kinds)
    sizes = iter(page_sizes(rng, n_pages - n_pdf))
    pages = []
    for i, kind in enumerate(kinds):
        url = f"https://{_domain(rng)}/{rng.choice(_VOCAB)}/{seed}-{i:06d}"
        ts = _BASE_EPOCH_US + i * 7_000_000
        pages.append(_page(rng, pool, url, ts, kind, next(sizes) if kind == "html" else 0))
    if with_deep:
        pages.extend(deep_pages())
    return Crawl(pages)


def recrawl(seed: int, base: Crawl) -> Crawl:
    """The next crawl of ``base``'s urls: exactly ``round(CHANGED_FRAC *
    n)`` pages get new main content of about their old size,
    ``round(NEW_FRAC * n)`` new urls are added, every other page is
    byte-identical."""
    rng = random.Random(seed * 104729 + 2)
    pool = sentence_pool(rng, 1500)
    n = len(base.pages)
    changed = set(rng.sample(range(n), round(CHANGED_FRAC * n)))
    pages = []
    for i, p in enumerate(base.pages):
        if i in changed:
            pages.append(_page(rng, pool, p.url, p.ts_us + 86_400_000_000, p.kind, len(p.html)))
        else:
            pages.append(p)
    n_new = round(NEW_FRAC * n)
    sizes = page_sizes(rng, n_new)
    new_urls = set()
    for j in range(n_new):
        url = f"https://{_domain(rng)}/added/{seed}-n{j:06d}"
        kind = "pdf" if j % round(1 / PDF_FRAC) == 0 else "html"
        pages.append(_page(rng, pool, url, _BASE_EPOCH_US + j, kind, sizes[j]))
        new_urls.add(url)
    return Crawl(pages, {base.pages[i].url for i in changed}, new_urls)


# ---------------------------------------------------------------- corpus


@dataclass
class Doc:
    doc_id: int
    text: str | None
    expect: str  # drop_reason, or "kept"
    clean: str | None = None  # expected clean_text of kept docs
    pii: tuple = ()  # planted PII strings


@dataclass
class Corpus:
    docs: list[Doc]
    near_pairs: list[tuple[int, int]]  # (original, copy)
    pii: list[str]


def _prose_lines(rng: random.Random, n_lines: int) -> list[str]:
    return [
        " ".join(_sentence(rng) for _ in range(rng.randint(3, 5)))
        for _ in range(n_lines)
    ]


def _exact_words(rng: random.Random, n: int) -> str:
    """Prose of exactly ``n`` words, every sentence terminated."""
    out: list[str] = []
    while n > 0:
        k = min(n, rng.randint(8, 16))
        if 0 < n - k < 3:
            k = n
        ws = rng.choices(_VOCAB, k=k)
        ws[0] = ws[0].capitalize()
        out.append(" ".join(ws) + ".")
        n -= k
    return " ".join(out)


_SHARED_LINES = [
    "Share this article with your colleagues and friends today.",
    "Subscribe to our weekly newsletter for more stories like this one.",
    "All rights reserved by the original authors and their publishers.",
    "Please cite this work when you use these results in your research.",
]


def _pii_line(rng: random.Random) -> tuple[str, list[tuple[str, str]]]:
    user = rng.choice(_VOCAB) + "." + rng.choice(_VOCAB)
    email = f"{user}{rng.randrange(10, 99)}@lab{rng.randrange(100)}.example.edu"
    phone = f"{rng.randrange(200, 999)}-{rng.randrange(200, 999)}-{rng.randrange(1000, 9999)}"
    ssn = f"{rng.randrange(100, 899)}-{rng.randrange(10, 99)}-{rng.randrange(1000, 9999)}"
    ip = f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
    line = (
        f"Contact the study team at {email} or call {phone} during office hours, "
        f"participant record {ssn} was logged from host {ip} for the audit."
    )
    return line, [(email, "<EMAIL>"), (phone, "<PHONE>"), (ssn, "<SSN>"), (ip, "<IP>")]


def _mutate_tokens(rng: random.Random, text: str, n: int) -> str:
    """Replace ``n`` words (away from the line ends) by other words."""
    words = text.split(" ")
    for i in rng.sample(range(5, len(words) - 5), n):
        old = words[i]
        punct = old[-1] if old[-1] in ",." else ""
        new = rng.choice([w for w in _VOCAB if w != old.rstrip(",.").lower()])
        words[i] = new + punct
    return " ".join(words)


def corpus(seed: int, n_good: int = 400, n_exact_groups: int = 30,
           n_near: int = 40, n_substr_pairs: int = 10, n_fail_each: int = 6) -> Corpus:
    """Extracted-style documents with planted structure; ids are
    assigned in a seeded shuffled order, so a planted duplicate's
    original always has the smaller id (the program keeps the min id).
    """
    rng = random.Random(seed * 15485863 + 3)
    recs: list[dict] = []  # {text, expect, group}
    pii_all: list[str] = []

    def good_text() -> tuple[str, list]:
        lines = _prose_lines(rng, rng.randint(3, 6))
        subs: list = []
        if rng.random() < 0.25:
            pl, subs = _pii_line(rng)
            lines.insert(rng.randrange(len(lines) + 1), pl)
        if rng.random() < 0.3:
            lines.insert(rng.randrange(len(lines) + 1), rng.choice(_SHARED_LINES))
        return "\n".join(lines), subs

    for _ in range(n_good):
        t, subs = good_text()
        recs.append({"text": t, "expect": "kept", "subs": subs})
    for g in range(n_exact_groups):
        t, subs = good_text()
        size = 2 + g % 3  # groups of 2, 3 and 4 copies
        recs.append({"text": t, "expect": "kept", "subs": subs, "exact": g, "first": True})
        for _ in range(size - 1):
            recs.append({"text": t, "expect": "exact_dup", "exact": g})
    for k in range(n_near):
        # one long line per doc: ~250 tokens, 2 substituted words give a
        # 3-shingle Jaccard of about 0.95
        t = " ".join(_sentence(rng) for _ in range(16))
        recs.append({"text": t, "expect": "kept", "subs": [], "near": k, "first": True})
        recs.append({"text": _mutate_tokens(rng, t, 2), "expect": "near_dup", "near": k})
    for _ in range(n_substr_pairs):
        # 160 shared + 100 own words: ~58% of the 20-token windows are
        # duplicated (> 0.5), 3-shingle Jaccard ~0.44 (< 0.7, not near-dup)
        shared = _exact_words(rng, 160)
        for _ in range(2):
            recs.append({"text": shared + "\n" + _exact_words(rng, 100),
                         "expect": "substr_dup"})
    # docs failing exactly one filter rule
    for _ in range(n_fail_each):
        recs.append({"text": None, "expect": "null_text"})
        # C4: fewer than 3 sentences (long run-on text, gopher-clean)
        words = rng.choices(_VOCAB, k=80)
        recs.append({"text": " ".join(words[:40]) + ". " + " ".join(words[40:]) + ".",
                     "expect": "c4_filter"})
        t = "\n".join(_prose_lines(rng, 3))
        recs.append({"text": t + "\nLorem ipsum dolor sit amet appears in this draft.",
                     "expect": "c4_filter"})
        recs.append({"text": t.replace(".", ". {", 1) + " }", "expect": "c4_filter"})
        # Gopher: under 50 words (still 3 sentences)
        recs.append({"text": " ".join(_sentence(rng, 5, 7) for _ in range(3)),
                     "expect": "gopher_filter"})
        # Gopher: fewer than 80% alphabetic words
        sents = []
        for _ in range(6):
            ws = [str(rng.randrange(10, 999)) if rng.random() < 0.4 else w
                  for w in rng.choices(_VOCAB, k=12)]
            ws[0] = "Value"
            sents.append(" ".join(ws) + ".")
        recs.append({"text": " ".join(sents), "expect": "gopher_filter"})
        # Gopher: mean word length above 10
        long_words = [w for w in _VOCAB if len(w) >= 11]
        recs.append({"text": " ".join(
            " ".join(rng.choices(long_words, k=12)).capitalize() + "." for _ in range(6)),
            "expect": "gopher_filter"})
        # Gopher: >= 30% of lines end in an ellipsis
        lines = _prose_lines(rng, 4)
        lines[1] += ".."
        lines[3] += ".."
        recs.append({"text": "\n".join(lines), "expect": "gopher_filter"})
    order = list(range(len(recs)))
    rng.shuffle(order)
    # ids: a planted group's first member gets the group's smallest id
    ids = sorted(rng.sample(range(1, 50 * len(recs)), len(recs)))
    id_of = {}
    groups: dict = {}
    for rank, ri in enumerate(order):
        r = recs[ri]
        key = ("e", r["exact"]) if "exact" in r else ("n", r["near"]) if "near" in r else None
        if key is None:
            id_of[ri] = ids[rank]
        else:
            groups.setdefault(key, []).append((ri, ids[rank]))
    for members in groups.values():
        # first-planted record (the original) takes the smallest id
        members_sorted = sorted(members, key=lambda m: (not recs[m[0]].get("first"), m[0]))
        for (ri, _), gid in zip(members_sorted, sorted(i for _, i in members)):
            id_of[ri] = gid
    docs = []
    near_pairs = []
    orig_id = {}
    for ri, r in enumerate(recs):
        if "near" in r and r.get("first"):
            orig_id[r["near"]] = id_of[ri]
    for ri, r in enumerate(recs):
        d = Doc(id_of[ri], r["text"], r["expect"])
        if "near" in r and not r.get("first"):
            near_pairs.append((orig_id[r["near"]], d.doc_id))
        subs = r.get("subs") or []
        d.pii = tuple(s for s, _ in subs)
        pii_all.extend(d.pii)
        docs.append(d)
    _expected_clean(docs, {id_of[ri]: recs[ri].get("subs") or [] for ri in range(len(recs))})
    docs.sort(key=lambda d: d.doc_id)
    return Corpus(docs, near_pairs, pii_all)


def _expected_clean(docs: list[Doc], subs: dict) -> None:
    """Expected clean_text of kept docs: lines shared by more than one
    line-dedup input doc (every doc that survives the doc-level
    filters and dedup, substr_dup docs included) are removed, then each
    planted PII string becomes its placeholder."""
    line_dedup_input = [d for d in docs if d.expect in ("kept", "substr_dup")]
    freq: dict[str, int] = {}
    for d in line_dedup_input:
        for key in {ln.strip() for ln in d.text.split("\n") if ln.strip()}:
            freq[key] = freq.get(key, 0) + 1
    for d in docs:
        if d.expect != "kept":
            continue
        lines = [ln for ln in d.text.split("\n") if not (ln.strip() and freq[ln.strip()] > 1)]
        clean = "\n".join(lines)
        for s, placeholder in subs[d.doc_id]:
            clean = clean.replace(s, placeholder)
        d.clean = clean
