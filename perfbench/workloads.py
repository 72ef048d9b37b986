"""The benchmark's workloads, driven through the package's public entry
points.

Each workload has a set-up (inputs and warm-up), one repeatable
operation, an output check for every operation, and the hooks its traced
run needs: which public functions to wrap, and the counters to read from
the program's own outputs after each traced operation.
"""

from __future__ import annotations

import importlib
import os
import shutil

import pyarrow.parquet as pq

from perfbench import inputs


class CheckFailed(Exception):
    """An operation's output differs from what the workload expects."""


def expect(ok: bool, what) -> None:
    if not ok:
        raise CheckFailed(what)


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


class CrawlWide:
    """The crawl loop (`plans.crawl.run_batch`) on a wide fixture web.

    Set-up bootstraps snapshot 0 and runs batch 1 (the warm-up). Every
    operation rolls HEAD back to snapshot 1 and runs batch 2 again, so
    each operation does identical work, from select to committed
    snapshot, whatever the run length."""

    name = "crawl_wide"
    item = "pages fetched"
    BATCH = 2

    def __init__(self, size: str, seed: int, work: str) -> None:
        from who_focus_crawler_spark.sources.fixture_web import UNIT_WEB, WebConfig
        from who_focus_crawler_spark.sources.golden import run_golden

        if size == "tiny":
            web = UNIT_WEB
        else:
            n_hosts = 500
            web = WebConfig(
                n_hosts=n_hosts,
                n_pages=200_000,
                seed_hosts=inputs.crawl_seed_hosts(n_hosts, seed, share=0.9),
                select_k=32,
                politeness_k=16,
                hot_host_frac=0.2,
                max_batches=self.BATCH,
            )
        self.web = web
        self.ckpt = os.path.join(work, "checkpoint")
        self.golden = run_golden(web, max_batches=self.BATCH)
        self.golden_fetched = sum(
            1 for r in self.golden.crawl_order if r[1] == self.BATCH
        )

    def setup(self, spark) -> None:
        from who_focus_crawler_spark.plans import crawl

        self.spark = spark
        self.crawl = crawl
        self.cfg = crawl.CrawlConfig(web=self.web, checkpoint_dir=self.ckpt)
        self.catalog = crawl.bootstrap(spark, self.cfg)
        st = crawl.run_batch(spark, self.cfg, self.catalog)
        self.pages_setup = st["fetched"]
        self.base = self.catalog.head()
        self.ckpt_bytes_per_page = None

    def op(self) -> int:
        if self.catalog.head() != self.base:
            self.catalog.rollback_to(self.base)
        self.stats = self.crawl.run_batch(self.spark, self.cfg, self.catalog)
        return self.stats["fetched"]

    def check(self) -> None:
        from who_focus_crawler_spark import schemas

        cat, spark = self.catalog, self.spark
        expect(self.stats["batch"] == self.BATCH, self.stats)
        expect(self.stats["fetched"] == self.golden_fetched,
               (self.stats, self.golden_fetched))
        rows = cat.read_table(spark, "crawl_order", schemas.CRAWL_ORDER).collect()
        got = sorted(
            (r.seq, r.batch, r.canon_url, r.host, r.depth, r.seed_id) for r in rows
        )
        expect(got == self.golden.crawl_order, "crawl_order differs from golden")
        seen = {r.canon_url for r in cat.read_table(
            spark, "url_seen", schemas.URL_SEEN).select("canon_url").collect()}
        expect(seen == self.golden.url_seen, "url_seen differs from golden")
        if self.ckpt_bytes_per_page is None:
            # storage amplification of the live crawl: measured once, right
            # after the first operation, before any rollback leaves orphans
            self.ckpt_bytes_per_page = dir_bytes(self.ckpt)[1] / (
                self.pages_setup + self.stats["fetched"])

    # ------------------------------------------------------------ traced run
    def trace_targets(self, tracer) -> None:
        from who_focus_crawler_spark.checkpoint.snapshot import SnapshotCatalog
        from who_focus_crawler_spark.operators import discover, politeness
        from who_focus_crawler_spark.plans import crawl

        wrap = tracer.wrap
        wrap(crawl, "bootstrap", "plans.crawl")
        wrap(crawl, "run_batch", "plans.crawl")

        def commit_done(sp, args, kwargs, out) -> None:
            catalog = args[0]
            sid = args[1]
            n, size = dir_bytes(str(catalog.root / "data"))
            before = getattr(catalog, "_perfbench_bytes", (0, 0))
            catalog._perfbench_bytes = (n, size)
            sp["files_written"] = n - before[0]
            sp["bytes_written"] = size - before[1]
            manifest = catalog.manifest(sid)
            sp["manifest_bytes"] = os.path.getsize(catalog._manifest_path(sid))
            sp["files_live"] = sum(
                dir_bytes(p)[0] for files in manifest["tables"].values() for p in files
            )

        wrap(SnapshotCatalog, "commit", "checkpoint.snapshot", after=commit_done)
        wrap(SnapshotCatalog, "read_table", "checkpoint.snapshot")
        wrap(SnapshotCatalog, "state", "checkpoint.snapshot")
        for fn in ("select_candidates", "merge_frontier"):
            wrap(crawl, fn, "operators.frontier")
        for fn in ("refresh_robots_cache", "apply_robots"):
            wrap(crawl, fn, "operators.robots")
        for fn in ("apply_politeness", "assign_seq"):
            wrap(crawl, fn, "operators.politeness")
        wrap(crawl, "fetch_and_extract", "operators.fetch")
        wrap(crawl, "discover_links", "operators.discover")
        for fn in ("dedup_in_batch", "dedup_against_seen", "update_seen_filters"):
            wrap(crawl, fn, "operators.dedup")

        wrap(discover, "canonicalize_df", "functions.urls", after=tracer.count_rows)
        wrap(politeness, "global_row_number", "operators.sequencer")

    def traced_counters(self) -> dict:
        """Counters of the last operation, from the committed tables."""
        from pyspark.sql import functions as F

        from who_focus_crawler_spark import schemas

        cat, spark = self.catalog, self.spark
        m = (
            cat.read_table(spark, "metrics", schemas.METRICS)
            .filter(F.col("batch") == self.BATCH)
            .agg(*[F.sum(c).alias(c) for c in (
                "scheduled", "blocked_robots", "admitted", "deferred",
                "discovered", "new_urls")])
            .collect()[0]
        )
        frontier_rows = cat.read_table(spark, "frontier", schemas.FRONTIER).count()
        return {
            "operators.frontier.rows_selected": self.stats["selected"],
            "operators.frontier.frontier_rows": frontier_rows,
            "operators.robots.blocked": m["blocked_robots"],
            "operators.politeness.admitted_ratio": m["admitted"] / m["scheduled"],
            "operators.politeness.deferred": m["deferred"],
            "operators.fetch.pages": self.stats["fetched"],
            "operators.discover.links": m["discovered"],
            "operators.dedup.new_ratio": m["new_urls"] / m["discovered"],
            "checkpoint.snapshot.ckpt_bytes_per_page": self.ckpt_bytes_per_page,
        }


class BatchJobs:
    """The two offline Spark jobs beside the crawl loop, one after the
    other in each operation:

    - `bench.run_frontier_pipeline` over `bench.synth_frontier`'s messy-URL
      frontier (C1 canonicalize, C2 hash, C4 anti-join dedup against the
      1/3 pre-seen URLs, C6 top-8 per host, C9 `global_row_number`);
    - `jobs/corpus.py::run_corpus_pipeline` with default stages (exact
      dedup, MinHash-LSH near-dup clusters, PII redaction, language and
      quality gates) over a generated documents table, writing the kept
      corpus.

    Set-up generates both inputs and runs each pipeline once, with the
    same output check as an operation."""

    name = "batch_jobs"
    item = "input rows (frontier URLs + documents)"
    HOSTS = 997  # bench.synth_frontier spreads URLs over 997 hosts
    PER_HOST = 8  # bench.run_frontier_pipeline admits the top 8 per host

    def __init__(self, size: str, seed: int, work: str) -> None:
        self.n_orders, self.expand, self.n_docs = (
            (15_000, 1, 200) if size == "tiny" else (10_000, 2, 1_000)
        )
        self.seed = seed
        self.work = work
        self.input_dir = os.path.join(work, "input")
        self.kept_dir = os.path.join(work, "kept")
        self.kept_ids: frozenset | None = None
        self.bench = importlib.import_module("bench")
        self.corpus = importlib.import_module("jobs.corpus")

    def setup(self, spark) -> None:
        bench = self.bench
        self.spark = spark
        inputs.write_orders(self.input_dir, self.n_orders, self.seed)
        docs_path = inputs.write_documents(self.input_dir, self.n_docs, self.seed)
        self.frontier = bench.synth_frontier(
            spark, self.input_dir, self.expand,
            uid_offset=inputs.frontier_uid_offset(self.seed),
        ).persist()
        self.n_urls = self.frontier.count()
        self.docs = spark.read.parquet(docs_path).select("doc_id", "text").persist()
        self.doc_ids = frozenset(r.doc_id for r in self.docs.select("doc_id").collect())
        # warm-up: each pipeline once. The frontier pipeline's output is
        # captured for the DuckDB reconstruction check (run after the timed
        # operations). The corpus pipeline's first draw compiles plans and
        # starts its Python workers, which later draws do not repeat; it is
        # run on the whole table, as its fixed cost (~38 Spark jobs) is the
        # same on a sample
        captured = []
        orig = bench.global_row_number

        def capture(*args, **kwargs):
            out = orig(*args, **kwargs)
            captured.append(out)
            return out

        bench.global_row_number = capture
        try:
            self.admitted = bench.run_frontier_pipeline(spark, self.frontier)
        finally:
            bench.global_row_number = orig
        self.admitted_rows = sorted(
            tuple(r) for r in captured[0].select("seq", "canon_url", "host").collect()
        )
        self.stats = self.corpus.run_corpus_pipeline(self.docs, output=self.kept_dir)
        self.check()

    def op(self) -> int:
        self.admitted = self.bench.run_frontier_pipeline(self.spark, self.frontier)
        shutil.rmtree(self.kept_dir, ignore_errors=True)
        self.stats = self.corpus.run_corpus_pipeline(self.docs, output=self.kept_dir)
        return self.n_urls + self.stats["n_input"]

    def check(self) -> None:
        expect(self.admitted == self.HOSTS * self.PER_HOST, self.admitted)
        s = self.stats
        expect(s["n_input"] == len(self.doc_ids), s)
        expect(0 < s["n_kept"] <= s["n_after_exact_dedup"] <= s["n_input"], s)
        kept = pq.read_table(self.kept_dir, columns=["doc_id"]).column(0).to_pylist()
        expect(len(kept) == s["n_kept"] == len(set(kept)), "kept ids not unique")
        kept = frozenset(kept)
        expect(kept <= self.doc_ids, "kept ids not a subset of the input")
        if self.kept_ids is None:
            self.kept_ids = kept
        expect(kept == self.kept_ids, "kept set differs between draws")

    def final_check(self) -> None:
        """The warm-up's admitted (seq, canon_url, host) rows equal an
        independent DuckDB reconstruction of the same generated input."""
        from perfbench.oracle import frontier_admitted

        want = frontier_admitted(
            os.path.join(self.input_dir, "orders.parquet"), self.expand,
            inputs.frontier_uid_offset(self.seed), self.HOSTS, self.PER_HOST,
        )
        expect(self.admitted_rows == want, "frontier differs from DuckDB")

    # ------------------------------------------------------------ traced run
    def trace_targets(self, tracer) -> None:
        from who_focus_crawler_spark.corpus import clusters, dedup

        bench = self.bench
        wrap = tracer.wrap
        wrap(bench, "run_frontier_pipeline", "bench")

        wrap(bench, "canonicalize_df", "functions.urls", after=tracer.count_rows)
        wrap(bench, "global_row_number", "operators.sequencer")
        wrap(self.corpus, "run_corpus_pipeline", "jobs.corpus")
        wrap(dedup, "exact_dedup_keep", "corpus.dedup")

        wrap(dedup, "minhash_lsh_pairs", "corpus.dedup", after=tracer.count_rows)
        wrap(clusters, "dedup_keep", "corpus.clusters")

    def traced_counters(self) -> dict:
        return {"jobs.corpus.kept_ratio": self.stats["n_kept"] / self.stats["n_input"]}


WORKLOADS = {w.name: w for w in (CrawlWide, BatchJobs)}
