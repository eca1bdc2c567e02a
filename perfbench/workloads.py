"""The workloads and the recrawl journey: what each sets up, times,
checks and traces.

A round is one timed call of the program on the workload's inputs,
preceded by an untimed reset of its output location and followed by
an untimed check of everything it wrote. Lazy DataFrames are timed by
writing their whole output to the ``noop`` sink: ``count()`` would let
Catalyst prune the computed columns and time less than a user pays.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
from spans import Tracer, dir_stats

from neurostore_text_extraction_spark.functions.html_extract import extract_document
from neurostore_text_extraction_spark.operators import dedup, extract, webtext
from neurostore_text_extraction_spark.operators import incremental, textquality
from neurostore_text_extraction_spark.plans import corpus_prep as corpus_prep_mod
from neurostore_text_extraction_spark.plans import pipeline
from neurostore_text_extraction_spark.sources.catalog import Catalog

CRAWL_PAGES = 800
CHUNKS = 16  # input files per crawl; also the recrawl store's snapshot count
TABLES = {
    "results": ["url", "config_hash"],
    "manifest": ["url", "input_md5", "config_hash"],
    "lineage": ["run_id", "partition_id"],
    "runs": ["run_id"],
}


def to_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


# Untimed calls on the real inputs before the first timed round. Round
# times keep falling over the first calls in a process as the JVM
# compiles the hot paths (corpus_prep: 24, 12, 10, 9, 8.5 s), so one
# warm-up call leaves the timed rounds on the steep part of that curve.
WARMUP_CALLS = 2


def warm_up(wl) -> float:
    t = time.perf_counter()
    for _ in range(WARMUP_CALLS):
        wl.reset()
        wl.call()
    return time.perf_counter() - t


def write_pages(pages: list, path: str, n_files: int = CHUNKS) -> list[str]:
    """Pages as ``n_files`` parquet files in the engine's pages schema."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    per = -(-len(pages) // n_files)
    files = []
    for k in range(n_files):
        chunk = pages[k * per : (k + 1) * per]
        if not chunk:
            break
        table = pa.table(
            {
                "url": pa.array([p.url for p in chunk], pa.string()),
                "warc_ts": pa.array([p.ts_us for p in chunk], pa.timestamp("us", tz="UTC")),
                "html": pa.array([p.html for p in chunk], pa.binary()),
                "text": pa.array([None] * len(chunk), pa.string()),
                "lang": pa.array([p.lang for p in chunk], pa.string()),
            }
        )
        f = os.path.join(path, f"part-{k:03d}.parquet")
        pq.write_table(table, f)
        files.append(f)
    return files


def rows(df, *cols) -> list[dict]:
    return df.select(*cols).toArrow().to_pylist()


class Workload:
    """Base: ``setup`` builds inputs and warms up; a round is ``reset``
    (untimed), ``call`` (timed), ``check`` (untimed, returns failed
    operations, problems and output bytes); ``layers`` takes the traced
    run's standalone layer measurements."""

    def __init__(self, spark, seed: int, work: str, tracer: Tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.warmup_s = 0.0
        self.setup_problems: list[str] = []
        self.layer_problems: list[str] = []

    def patch(self) -> None:
        """Wrap the program's public calls in spans (traced rounds)."""

    def unpatch(self) -> None:
        pass

    def event_metrics(self, log) -> dict[str, float]:
        """Layer metrics that need the parsed event log."""
        return {}


# ----------------------------------------------------------- crawl layers


def _patch_crawl(tracer: Tracer) -> None:
    tracer.wrap(pipeline, "unprocessed", "incremental.unprocessed")
    tracer.wrap(pipeline, "extract_pages", "extract.extract_pages")
    tracer.wrap(Catalog, "maybe_compact", "catalog.compact")
    append = Catalog.append

    def traced_append(self, df, table, partition_by=None):
        inside = tracer.current() == "catalog.compact"
        with tracer.span("catalog.compact_write" if inside else f"catalog.append_{table}"):
            dest = append(self, df, table, partition_by)
        n, size = dir_stats(dest)
        tracer.add("catalog.files_written", n)
        tracer.add("catalog.mb_written", size / 1e6)
        return dest

    traced_append.__perfbench_orig__ = append
    Catalog.append = traced_append


def _unpatch_crawl() -> None:
    Tracer.unwrap(pipeline, "unprocessed")
    Tracer.unwrap(pipeline, "extract_pages")
    for attr in ("maybe_compact", "append"):
        Tracer.unwrap(Catalog, attr)


class CrawlFull(Workload):
    """A fresh crawl into an empty store, called the way
    ``scripts/submit_extract.py`` calls ``run_extraction`` by default
    (salt off, resume on, default auto-compaction)."""

    root_span = "plans.pipeline"

    def setup(self) -> None:
        self.crawl = gen.crawl(self.seed, CRAWL_PAGES)
        self.pages_dir = os.path.join(self.work, "pages")
        write_pages(self.crawl.pages, self.pages_dir)
        self.store = os.path.join(self.work, "store")
        self.attempted = len(self.crawl.pages)
        self.warmup_s = warm_up(self)

    def reset(self) -> None:
        shutil.rmtree(self.store, ignore_errors=True)

    def call(self) -> None:
        pipeline.run_extraction(
            self.spark, self.spark.read.parquet(self.pages_dir), self.store, salt=False
        )

    def check(self):
        cat = Catalog(self.store)
        problems, failed = checks.check_crawl_full(
            self.crawl.pages,
            rows(cat.read(self.spark, "results"), "url", "text", "error"),
            rows(cat.read(self.spark, "manifest"), "url", "input_md5"),
            rows(cat.read(self.spark, "lineage"), "input_count"),
        )
        return failed, problems, dir_stats(self.store)[1]

    def patch(self) -> None:
        _patch_crawl(self.tracer)

    def unpatch(self) -> None:
        _unpatch_crawl()

    def span_metrics(self, per: int) -> dict[str, float]:
        tr, root = self.tracer, self.root_span
        m = {
            "pipeline.self_s": tr.self_time(root),
            "catalog.files_written": tr.counters.get("catalog.files_written", 0.0),
            "catalog.mb_written": tr.counters.get("catalog.mb_written", 0.0),
        }
        for t in TABLES:
            m[f"catalog.append_{t}_s"] = tr.total(f"catalog.append_{t}", root)
        return {k: v / per for k, v in m.items()}

    def layers(self) -> dict[str, float]:
        m: dict[str, float] = {}
        html_ms, all_ms, pdf_ms = [], [], []
        failed = 0
        # Once it has run a job, the Spark client leaves this process at a
        # recursion limit of 3000; Python workers keep the default 1000.
        limit = sys.getrecursionlimit()
        sys.setrecursionlimit(1000)
        try:
            for p in self.crawl.pages:
                t = time.perf_counter()
                try:
                    extract_document(p.html, p.lang)
                except RecursionError:
                    failed += 1
                ms = (time.perf_counter() - t) * 1e3
                all_ms.append(ms)
                (pdf_ms if p.kind == "pdf" else html_ms).append(ms)
        finally:
            sys.setrecursionlimit(limit)
        q = statistics.quantiles(html_ms, n=100)
        m["html_extract.doc_ms_p50"] = statistics.median(html_ms)
        m["html_extract.doc_ms_p99"] = q[98]
        m["html_extract.failed_docs"] = failed
        m["pdf_extract.doc_ms_p50"] = statistics.median(pdf_ms)
        one_core = len(all_ms) / (sum(all_ms) / 1e3)
        m["html_extract.docs_per_s_1core"] = one_core
        pages = self.spark.read.parquet(self.pages_dir)
        with self.tracer.span("extract.stage"):
            m["extract.stage_s"] = timed(
                lambda: to_noop(extract.extract_pages(pages, salt=False)))
        with self.tracer.span("extract.salted_stage"):
            m["extract.salted_stage_s"] = timed(
                lambda: to_noop(extract.extract_pages(pages, salt=True)))
        cores = self.spark.sparkContext.defaultParallelism
        m["extract.parallel_eff"] = (len(all_ms) / m["extract.stage_s"]) / (cores * one_core)
        self.kernel_s = sum(all_ms) / 1e3
        recrawl = Recrawl(self.spark, self.seed, self.work, self.tracer)
        self.layer_problems = recrawl.build()
        rm, problems = recrawl.run()
        self.layer_problems += problems
        m.update(rm)
        return m

    def event_metrics(self, log) -> dict[str, float]:
        stage_run = log.run_s(log.stages_for("extract.stage"))
        return {"extract.boundary_s": stage_run - self.kernel_s}


class Recrawl:
    """The next crawl of the same urls onto a store that holds the first
    crawl as 16 snapshots: changed and new pages are re-extracted, and
    the append crosses the auto-compaction threshold (16), so the call
    rewrites all four tables. Measured and checked in the traced run of
    ``crawl_full``: committing 16 snapshots costs 16 pipeline runs of
    set-up, too much to repeat in every timed run."""

    def __init__(self, spark, seed: int, work: str, tracer: Tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        base = gen.crawl(seed, CRAWL_PAGES, with_deep=False)
        self.new = gen.recrawl(seed, base)
        self.base_files = write_pages(base.pages, os.path.join(work, "base_pages"))
        self.new_dir = os.path.join(work, "new_pages")
        write_pages(self.new.pages, self.new_dir, CHUNKS + 1)
        self.template = os.path.join(work, "template")
        self.store = os.path.join(work, "recrawl_store")
        self.cfg = incremental.config_hash(pipeline.EXTRACTOR_VERSION, None)

    def build(self) -> list[str]:
        """Commit the first crawl as 16 snapshots, one call after
        another: the catalog has a single writer."""
        for f in self.base_files:
            pipeline.run_extraction(self.spark, self.spark.read.parquet(f),
                                    self.template, salt=False)
        snaps = {t: len(Catalog(self.template).snapshots(t)) for t in TABLES}
        if set(snaps.values()) != {CHUNKS}:
            return [f"recrawl template snapshots {snaps}, expected {CHUNKS}"]
        return []

    def reset(self) -> None:
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.template, self.store)

    def run(self) -> tuple[dict[str, float], list[str]]:
        """One traced recrawl and its checks, then the 16-snapshot
        manifest read and the anti-join alone."""
        from pyspark.sql import functions as F

        self.reset()
        self.tracer.counters.clear()
        _patch_crawl(self.tracer)
        try:
            with self.tracer.span("recrawl"):
                t = time.perf_counter()
                result = pipeline.run_extraction(
                    self.spark, self.spark.read.parquet(self.new_dir), self.store, salt=False
                )
                run_s = time.perf_counter() - t
        finally:
            _unpatch_crawl()
        cat = Catalog(self.store)
        tables = {}
        for table, keys in TABLES.items():
            df = cat.read(self.spark, table)
            tables[table] = (
                len(cat.snapshots(table)),
                df.count(),
                df.select(*keys).distinct().count(),
            )
        problems, _ = checks.check_recrawl(
            self.new,
            rows(pipeline.read_results(self.spark, self.store), "url", "text"),
            rows(cat.read(self.spark, "lineage").where(F.col("run_id") == result.run_id),
                 "input_count"),
            tables,
        )
        with self.tracer.span("catalog.read"):
            read_s = timed(lambda: to_noop(Catalog(self.template).read(self.spark, "manifest")))
        manifest = Catalog(self.template).read(self.spark, "manifest")
        todo = incremental.unprocessed(self.spark.read.parquet(self.new_dir), manifest, self.cfg)
        with self.tracer.span("incremental.todo"):
            todo_s = timed(lambda: to_noop(todo))
        m = {
            "recrawl.run_s": run_s,
            "recrawl.mb_written": self.tracer.counters.get("catalog.mb_written", 0.0),
            "catalog.compact_s": self.tracer.total("catalog.compact", "recrawl"),
            "catalog.read_s": read_s,
            "incremental.todo_s": todo_s,
            "incremental.n_todo": todo.count(),
        }
        return m, problems


class CorpusPrep(Workload):
    """``prepare_training_corpus`` with its defaults over extracted-style
    docs with planted duplicates, filter failures and PII; the clean
    corpus and the report are written out."""

    root_span = "plans.corpus_prep"

    def _write_corpus(self, corpus, path: str) -> None:
        pq.write_table(
            pa.table({
                "doc_id": pa.array([d.doc_id for d in corpus.docs], pa.int64()),
                "text": pa.array([d.text for d in corpus.docs], pa.string()),
            }),
            path,
        )

    def setup(self) -> None:
        self.corpus = gen.corpus(self.seed)
        self.setup_problems += checks.check_planted_near_dups(self.corpus)
        self.docs_path = os.path.join(self.work, "docs.parquet")
        self._write_corpus(self.corpus, self.docs_path)
        self.out = os.path.join(self.work, "out")
        self.attempted = len(self.corpus.docs)
        self.warmup_s = warm_up(self)

    def _prepare(self, docs_path: str, out: str):
        res = corpus_prep_mod.prepare_training_corpus(self.spark.read.parquet(docs_path))
        res.clean.write.parquet(os.path.join(out, "clean"))
        res.report.write.parquet(os.path.join(out, "report"))
        return res

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def call(self) -> None:
        self.res = self._prepare(self.docs_path, self.out)

    def check(self):
        read = self.spark.read.parquet
        problems, failed = checks.check_corpus_prep(
            self.corpus,
            rows(self.res.tagged, "doc_id", "drop_reason"),
            rows(read(os.path.join(self.out, "clean")), "doc_id", "clean_text"),
            rows(read(os.path.join(self.out, "report")), "reason", "n_docs"),
        )
        return failed, problems, dir_stats(self.out)[1]

    _WRAPPED = [
        (dedup, "exact_duplicates", "dedup.exact_duplicates"),
        (dedup, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
        (dedup, "connected_components_star", "dedup.connected_components_star"),
        (dedup, "substr_dup_stats", "dedup.substr_dup_stats"),
        (corpus_prep_mod, "line_dedup", "webtext.line_dedup"),
        (corpus_prep_mod, "pii_scrub", "webtext.pii_scrub"),
    ]

    def patch(self) -> None:
        for owner, attr, name in self._WRAPPED:
            self.tracer.wrap(owner, attr, name)

    def unpatch(self) -> None:
        for owner, attr, _ in self._WRAPPED:
            Tracer.unwrap(owner, attr)

    def span_metrics(self, per: int) -> dict[str, float]:
        return {"corpus_prep.self_s": self.tracer.self_time(self.root_span) / per}

    def layers(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        docs = self.spark.read.parquet(self.docs_path).where(F.col("text").isNotNull())
        m: dict[str, float] = {}
        with self.tracer.span("dedup.minhash"):
            m["dedup.minhash_pairs_s"] = timed(lambda: to_noop(dedup.minhash_lsh_pairs(docs)))
        pairs = dedup.minhash_lsh_pairs(docs).localCheckpoint(eager=True)
        n_pairs = pairs.count()
        near = pairs.where(F.col("est_jaccard") >= 0.7).localCheckpoint(eager=True)
        m["dedup.candidate_pairs"] = n_pairs
        m["dedup.pair_yield"] = near.count() / n_pairs if n_pairs else 0.0
        with self.tracer.span("dedup.cc"):
            m["dedup.cc_s"] = timed(lambda: to_noop(dedup.connected_components_star(near)))
        with self.tracer.span("dedup.substr"):
            m["dedup.substr_s"] = timed(lambda: to_noop(dedup.substr_dup_stats(docs)))
        with self.tracer.span("dedup.exact"):
            m["dedup.exact_s"] = timed(lambda: to_noop(dedup.exact_duplicates(docs)))
        with self.tracer.span("webtext.line_dedup"):
            m["webtext.line_dedup_s"] = timed(lambda: to_noop(webtext.line_dedup(docs)))
        with self.tracer.span("webtext.pii_scrub"):
            m["webtext.pii_scrub_s"] = timed(lambda: to_noop(webtext.pii_scrub(docs)))
        with self.tracer.span("textquality.filters"):
            m["textquality.filters_s"] = timed(
                lambda: to_noop(textquality.c4_gopher_filters(docs)))
        return m


WORKLOADS = {
    "crawl_full": CrawlFull,
    "corpus_prep": CorpusPrep,
}
