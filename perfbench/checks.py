"""Correctness checks, computed apart from the program.

Each checker takes plain Python rows read back from the program's
outputs and the generator's expectations, and returns
``(problems, failed)``: ``problems`` lists every mismatch (empty means
correct), ``failed`` counts operations that failed in the way the
benchmark tolerates (a deep-nesting page coming back as an error row).
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

_TOKEN = re.compile(r"\w\w+")


def _first(problems: list[str], limit: int = 5) -> list[str]:
    return problems[:limit] + ([f"... {len(problems) - limit} more"] if len(problems) > limit else [])


def check_crawl_full(pages, results, manifest, lineage) -> tuple[list[str], int]:
    """``results``: rows (url, text, error); ``manifest``: rows (url,
    input_md5); ``lineage``: rows (input_count,)."""
    problems: list[str] = []
    failed = 0
    by_url = {}
    counts = Counter(r["url"] for r in results)
    for url, n in counts.items():
        if n != 1:
            problems.append(f"results: {url} appears {n} times")
    for r in results:
        by_url[r["url"]] = r
    for p in pages:
        r = by_url.get(p.url)
        if r is None:
            problems.append(f"results: {p.url} missing")
            continue
        if r["text"] == p.golden:
            continue
        if p.deep and r["error"] is not None and r["text"] is None:
            failed += 1  # the known deep-nesting fault
            continue
        problems.append(f"results: {p.url} text differs from golden (error={r['error']!r})")
    extra = set(by_url) - {p.url for p in pages}
    if extra:
        problems.append(f"results: {len(extra)} urls that were not input")
    md5 = {}
    for m in manifest:
        if m["url"] in md5:
            problems.append(f"manifest: {m['url']} appears twice")
        md5[m["url"]] = m["input_md5"]
    for p in pages:
        want = hashlib.md5(p.html).hexdigest()
        if md5.get(p.url) != want:
            problems.append(f"manifest: {p.url} input_md5 {md5.get(p.url)!r} != {want}")
    total = sum(r["input_count"] for r in lineage)
    if total != len(pages):
        problems.append(f"lineage: input_count sums to {total}, not {len(pages)}")
    return _first(problems), failed


def check_recrawl(new_crawl, latest, run_lineage, tables) -> tuple[list[str], int]:
    """``latest``: rows (url, text) of the latest result per url;
    ``run_lineage``: rows (input_count,) of the timed run only;
    ``tables``: {table: (n_snapshots, n_rows, n_distinct_keys)}."""
    problems: list[str] = []
    counts = Counter(r["url"] for r in latest)
    by_url = {r["url"]: r["text"] for r in latest}
    for url, n in counts.items():
        if n != 1:
            problems.append(f"latest: {url} appears {n} times")
    for p in new_crawl.pages:
        if p.url not in by_url:
            problems.append(f"latest: {p.url} missing")
        elif by_url[p.url] != p.golden:
            problems.append(f"latest: {p.url} text differs from the new crawl's golden")
    if set(by_url) - {p.url for p in new_crawl.pages}:
        problems.append("latest: urls that were never crawled")
    want = len(new_crawl.changed) + len(new_crawl.new)
    got = sum(r["input_count"] for r in run_lineage)
    if got != want:
        problems.append(f"run extracted {got} rows, expected changed+new = {want}")
    for table, (n_snap, n_rows, n_keys) in tables.items():
        if n_snap != 1:
            problems.append(f"{table}: {n_snap} snapshots after compaction, expected 1")
        if n_rows != n_keys:
            problems.append(f"{table}: {n_rows} rows for {n_keys} keys")
    return _first(problems), 0


def shingles(text: str, k: int = 3) -> set[str]:
    toks = _TOKEN.findall(text.lower())
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def check_planted_near_dups(corpus, min_planted: float = 0.9, max_other: float = 0.7) -> list[str]:
    """Confirms the generator's near-duplicate plan by exact 3-shingle
    Jaccard: planted copies are >= ``min_planted`` to their original,
    and no other pair of docs that reach the dedup stage is
    >= ``max_other`` (pairs are found through a shingle index)."""
    problems: list[str] = []
    docs = {d.doc_id: d for d in corpus.docs}
    sh = {
        d.doc_id: shingles(d.text)
        for d in corpus.docs
        if d.text is not None and d.expect in ("kept", "near_dup", "substr_dup")
    }
    for orig, copy in corpus.near_pairs:
        j = jaccard(sh[orig], sh[copy])
        if j < min_planted:
            problems.append(f"planted near-dup {copy}~{orig} has Jaccard {j:.3f}")
    planted = set(corpus.near_pairs)
    index: dict[str, list[int]] = {}
    for i, s in sh.items():
        for g in s:
            index.setdefault(g, []).append(i)
    seen = set()
    for ids in index.values():
        for a in ids:
            for b in ids:
                if a < b and (a, b) not in seen:
                    seen.add((a, b))
                    if (a, b) in planted or docs[a].text == docs[b].text:
                        continue
                    j = jaccard(sh[a], sh[b])
                    if j >= max_other:
                        problems.append(f"unplanted pair {a},{b} has Jaccard {j:.3f}")
    return _first(problems)


def check_corpus_prep(corpus, tagged, clean, report) -> tuple[list[str], int]:
    """``tagged``: rows (doc_id, drop_reason); ``clean``: rows (doc_id,
    clean_text); ``report``: rows (reason, n_docs)."""
    problems: list[str] = []
    reason = {r["doc_id"]: r["drop_reason"] or "kept" for r in tagged}
    for d in corpus.docs:
        got = reason.get(d.doc_id)
        if got != d.expect:
            problems.append(f"doc {d.doc_id}: drop_reason {got!r}, planted {d.expect!r}")
    if len(reason) != len(corpus.docs):
        problems.append(f"tagged has {len(reason)} docs, input has {len(corpus.docs)}")
    want_clean = {d.doc_id: d.clean for d in corpus.docs if d.expect == "kept"}
    got_clean = {r["doc_id"]: r["clean_text"] for r in clean}
    if set(got_clean) != set(want_clean):
        problems.append(
            f"clean corpus ids differ: {len(set(got_clean) - set(want_clean))} extra, "
            f"{len(set(want_clean) - set(got_clean))} missing"
        )
    for i, text in got_clean.items():
        if i in want_clean and text != want_clean[i]:
            problems.append(f"doc {i}: clean_text differs from expected")
    for text in got_clean.values():
        for s in corpus.pii:
            if text is not None and s in text:
                problems.append(f"PII string {s!r} survives in clean_text")
    rep = {r["reason"]: r["n_docs"] for r in report}
    if sum(rep.values()) != len(corpus.docs):
        problems.append(f"report sums to {sum(rep.values())}, input has {len(corpus.docs)}")
    want_rep = Counter(d.expect for d in corpus.docs)
    if rep != dict(want_rep):
        problems.append(f"report {rep} != planted {dict(want_rep)}")
    return _first(problems), 0
