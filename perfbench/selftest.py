"""Self-tests of the correctness checks: each checker passes the
output the generator expects and fails a deliberately wrong one (one
flipped byte of text, one missing url, one wrongly merged cluster).
Needs no Spark.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


def flip(text: str) -> str:
    i = len(text) // 2
    return text[:i] + chr(ord(text[i]) ^ 1) + text[i + 1 :]


def crawl_outputs(pages):
    results = [
        {"url": p.url, "text": None if p.deep else p.golden,
         "error": "RecursionError: maximum recursion depth exceeded" if p.deep else None}
        for p in pages
    ]
    manifest = [{"url": p.url, "input_md5": hashlib.md5(p.html).hexdigest()} for p in pages]
    lineage = [{"input_count": len(pages)}]
    return results, manifest, lineage


def corpus_outputs(corpus):
    tagged = [{"doc_id": d.doc_id, "drop_reason": None if d.expect == "kept" else d.expect}
              for d in corpus.docs]
    clean = [{"doc_id": d.doc_id, "clean_text": d.clean} for d in corpus.docs if d.expect == "kept"]
    counts: dict[str, int] = {}
    for d in corpus.docs:
        counts[d.expect] = counts.get(d.expect, 0) + 1
    report = [{"reason": k, "n_docs": v} for k, v in counts.items()]
    return tagged, clean, report


def expect(label: str, problems: list[str], should_fail: bool) -> bool:
    ok = bool(problems) == should_fail
    print(f"{'ok  ' if ok else 'FAIL'} {label}: {problems[:1] if problems else 'passes'}")
    return ok


def main() -> int:
    ok = True
    crawl = gen.crawl(7, 60)
    res, man, lin = crawl_outputs(crawl.pages)
    probs, failed = checks.check_crawl_full(crawl.pages, res, man, lin)
    ok &= expect("crawl_full expected output", probs, False)
    ok &= expect("crawl_full deep pages counted as failed",
                 [] if failed == gen.DEEP_PAGES else [f"failed={failed}"], False)
    bad = [dict(r) for r in res]
    bad[3]["text"] = flip(bad[3]["text"])
    ok &= expect("crawl_full flipped byte", checks.check_crawl_full(crawl.pages, bad, man, lin)[0], True)
    ok &= expect("crawl_full missing url",
                 checks.check_crawl_full(crawl.pages, res[1:], man, lin)[0], True)
    bad_md5 = [dict(m) for m in man]
    bad_md5[0]["input_md5"] = flip(bad_md5[0]["input_md5"])
    ok &= expect("crawl_full wrong input_md5",
                 checks.check_crawl_full(crawl.pages, res, bad_md5, lin)[0], True)

    base = gen.crawl(7, 60, with_deep=False)
    new = gen.recrawl(7, base)
    latest = [{"url": p.url, "text": p.golden} for p in new.pages]
    run_lin = [{"input_count": len(new.changed) + len(new.new)}]
    tables = {"results": (1, len(new.pages), len(new.pages))}
    ok &= expect("recrawl expected output",
                 checks.check_recrawl(new, latest, run_lin, tables)[0], False)
    bad = [dict(r) for r in latest]
    bad[5]["text"] = flip(bad[5]["text"])
    ok &= expect("recrawl flipped byte", checks.check_recrawl(new, bad, run_lin, tables)[0], True)
    ok &= expect("recrawl missing url",
                 checks.check_recrawl(new, latest[:-1], run_lin, tables)[0], True)
    ok &= expect("recrawl uncompacted table",
                 checks.check_recrawl(new, latest, run_lin, {"runs": (17, 17, 17)})[0], True)

    corpus = gen.corpus(7, n_good=40, n_exact_groups=4, n_near=4, n_substr_pairs=2, n_fail_each=1)
    ok &= expect("planted near-dups", checks.check_planted_near_dups(corpus), False)
    tagged, clean, report = corpus_outputs(corpus)
    ok &= expect("corpus_prep expected output",
                 checks.check_corpus_prep(corpus, tagged, clean, report)[0], False)
    # a wrongly merged cluster: a kept doc reported as a near-duplicate
    victim = next(d.doc_id for d in corpus.docs if d.expect == "kept")
    merged = [dict(t, drop_reason="near_dup") if t["doc_id"] == victim else t for t in tagged]
    ok &= expect("corpus_prep wrongly merged cluster",
                 checks.check_corpus_prep(corpus, merged, clean, report)[0], True)
    bad = [dict(c) for c in clean]
    bad[0]["clean_text"] = flip(bad[0]["clean_text"])
    ok &= expect("corpus_prep flipped byte",
                 checks.check_corpus_prep(corpus, tagged, bad, report)[0], True)
    pii_doc = next(d for d in corpus.docs if d.pii and d.expect == "kept")
    leaked = [dict(c, clean_text=c["clean_text"] + " " + pii_doc.pii[0])
              if c["doc_id"] == pii_doc.doc_id else c for c in clean]
    ok &= expect("corpus_prep leaked PII",
                 checks.check_corpus_prep(corpus, tagged, leaked, report)[0], True)
    print("all self-tests passed" if ok else "SELF-TEST FAILURES")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
