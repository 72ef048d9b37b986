"""The crawl engine's main loop (SURVEY.md §3.1).

One driver-side iteration = one fetch batch = one committed snapshot:

  frontier scan → C6 select (window over host) → C8 robots (broadcast join
  + pandas UDF) → C7 politeness (window) → C9 sequencing (deterministic
  total order) → C10+C11 fetch+extract (mapInPandas) → C12 discovery
  (posexplode + canonicalize) → C4 dedup (bloom fast path + exact
  anti-join) → C5 merge → C16 metrics → C14 snapshot commit.

Determinism contract: given the same seed list, politeness budget, and
fixture web, `crawl_order`, `url_seen`, and every span sequence are
byte-identical to the sequential golden crawler (sources/golden.py) at any
parallelism level — verified by tests/e2e + tests/prop.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from who_focus_crawler_spark import schemas
from who_focus_crawler_spark.checkpoint.snapshot import SnapshotCatalog
from who_focus_crawler_spark.operators.dedup import (
    build_seen_filters,
    dedup_against_seen,
    dedup_in_batch,
    part_id,
    update_seen_filters,
)
from who_focus_crawler_spark.operators.discover import discover_links
from who_focus_crawler_spark.operators.fetch import fetch_and_extract
from who_focus_crawler_spark.operators.frontier import (
    age_boosted_view,
    bootstrap_frontier,
    merge_frontier,
    select_candidates,
)
from who_focus_crawler_spark.operators.politeness import apply_politeness, assign_seq
from who_focus_crawler_spark.operators.robots import apply_robots, refresh_robots_cache
from who_focus_crawler_spark.session import codegen_counters, scoped_conf
from who_focus_crawler_spark.sources.fixture_web import WebConfig, seed_urls


@dataclass
class CrawlConfig:
    web: WebConfig
    checkpoint_dir: str
    num_buckets: int = 32
    use_bloom: bool = True
    filter_kind: str = "bloom"  # or "cuckoo" (operators/cuckoo.py)
    salt: int = 16  # C17: sub-partitions per host in the selection window
    max_batches: int | None = None  # default: web.max_batches
    # Frontier hygiene: drop discovered links whose structural trap
    # score (functions/traps.py) reaches this threshold BEFORE they
    # enter dedup/merge. None (default) disables gating — the golden
    # replay crawls the fixture web unfiltered.
    trap_threshold: int | None = None
    # Discovery channel 2 (operators/sitemap.py): at bootstrap, fetch
    # the seed hosts' sitemap.xml and enqueue listed URLs (depth 1,
    # sitemap priority) alongside the seeds. Off by default — goldens
    # crawl by link discovery only.
    use_sitemaps: bool = False
    # OPIC-adaptive prioritization (operators/hostrank.py::opic): each
    # batch, host importance is computed ONLINE from the link edges the
    # crawl itself has observed (frontier parent → target, parents
    # resolved through url_seen) and added to selection priority as a
    # sub-unit bonus — BFS depth order is preserved, ties within a depth
    # re-rank toward high-cash hosts (the Abiteboul 2003 crawl policy).
    # The bonus exists only in the per-batch selection view; stored
    # frontier priorities stay -depth, so the boost never compounds and
    # resume recomputes it from persisted state (determinism intact).
    # Off by default — goldens crawl in frozen BFS order.
    opic_priority: bool = False
    opic_iters: int = 3
    # Starvation-free frontier aging (operators/frontier.py::
    # age_boosted_view): each batch a waiting row's selection priority
    # grows by boost_milli/1000, so no URL waits forever behind fresher
    # higher-priority arrivals on a politeness-capped host. Selection-
    # view only (stored priorities stay -depth; resume recomputes the
    # identical view). None (default) = frozen BFS order, goldens
    # untouched. Composes with opic_priority (aging applies on top).
    aging_boost_milli: int | None = None

    @property
    def batches(self) -> int:
        return self.max_batches if self.max_batches is not None else self.web.max_batches


def _empty(spark: SparkSession, schema) -> DataFrame:
    return spark.createDataFrame([], schema)


def _add_sitemap_seeds(frontier: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Union sitemap-listed URLs of the seed hosts into frontier v0.

    Lineage: a sitemap URL descends from its host's seed row (depth 1,
    parent = seed's url_hash, same seed_id); the sitemap ``priority``
    becomes the frontier priority. URLs already seeded are anti-joined
    away, so the union is exact-dedup clean before URL-seen is built.
    """
    from who_focus_crawler_spark.functions.urls import (
        canonicalize_df,
        host_bucket,
        url_hash,
        url_host,
    )
    from who_focus_crawler_spark.operators.sitemap import (
        fetch_sitemaps_for_hosts,
        parse_sitemaps,
    )

    parsed = parse_sitemaps(
        fetch_sitemaps_for_hosts(frontier.select("host"), cfg.web)
    )
    if cfg.trap_threshold is not None:
        from who_focus_crawler_spark.functions.traps import trap_score

        # discovery channel 2 obeys the same frontier-hygiene gate as
        # link discovery — trap-shaped sitemap entries never enqueue
        parsed = parsed.filter(
            trap_score(F.col("loc")) < F.lit(cfg.trap_threshold)
        )
    seeds = frontier.select(
        F.col("host").alias("seed_host"),
        F.col("seed_id"),
        F.col("url_hash").alias("parent_hash"),
    )
    cand = (
        canonicalize_df(parsed, "loc", "canon_url")
        .join(F.broadcast(seeds), F.col("host") == F.col("seed_host"))
        .select(
            "canon_url",
            url_hash(F.col("canon_url")).alias("url_hash"),
            url_host(F.col("canon_url")).alias("host"),
            host_bucket(url_host(F.col("canon_url")), cfg.num_buckets).alias(
                "host_bucket"
            ),
            F.col("priority"),
            F.lit(1).alias("depth"),
            F.col("seed_id"),
            F.col("parent_hash"),
            F.lit(0).alias("discovered_in_batch"),
            F.lit("enqueued").alias("state"),
        )
        .join(frontier.select("canon_url"), "canon_url", "left_anti")
    )
    # Deterministic duplicate resolution (two sitemaps listing one URL,
    # or multiple seed rows on a host): a frozen total order, never
    # dropDuplicates' partition-layout-dependent pick (SURVEY §7 hard
    # part #1 — the frontier must be byte-identical across runs).
    w = Window.partitionBy("canon_url").orderBy(
        F.desc("priority"), F.asc("seed_id"), F.asc("parent_hash")
    )
    cand = (
        cand.withColumn("_sm_rn", F.row_number().over(w))
        .filter(F.col("_sm_rn") == 1)
        .drop("_sm_rn")
    )
    return frontier.unionByName(cand)


def bootstrap(spark: SparkSession, cfg: CrawlConfig) -> SnapshotCatalog:
    """Snapshot 0: seeds enter the frontier and the URL-seen set."""
    catalog = SnapshotCatalog(cfg.checkpoint_dir)
    frontier = bootstrap_frontier(spark, seed_urls(cfg.web), cfg.num_buckets)
    if cfg.use_sitemaps:
        frontier = _add_sitemap_seeds(frontier, cfg)
    url_seen = frontier.select(
        "url_hash",
        "canon_url",
        part_id(F.col("url_hash"), cfg.num_buckets).alias("part_id"),
    )
    filters = build_seen_filters(url_seen, cfg.num_buckets, kind=cfg.filter_kind)
    catalog.commit(
        0,
        {
            "frontier": frontier,
            "url_seen": url_seen,
            "seen_filters": filters,
            "robots_cache": _empty(spark, schemas.ROBOTS_CACHE),
            "host_state": _empty(spark, schemas.HOST_STATE),
            "crawl_order": _empty(spark, schemas.CRAWL_ORDER),
            "documents": _empty(spark, schemas.DOCUMENTS_OUT),
            "metrics": _empty(spark, schemas.METRICS),
        }
        | (
            {"content_seen": _empty(spark, schemas.CONTENT_SEEN)}
            if cfg.web.content_dedup
            else {}
        ),
        state={"next_seq": 1, "next_batch": 1, "finished": False},
    )
    return catalog


_TIMING = os.environ.get("WFC_DEBUG_TIMING", "") == "1"

_OPIC_SCALE = 10**9


def _opic_boosted_view(
    frontier: DataFrame, url_seen: DataFrame, n_iters: int
) -> DataFrame:
    """Selection-time view of the frontier with OPIC host importance
    folded into priority (CrawlConfig.opic_priority).

    Edges = (parent's host → target host) over the CURRENT frontier's
    lineage, parents resolved through url_seen — both are persisted
    state tables, so a resumed run recomputes the identical bonus. The
    bonus is (cash + history) / (2·scale + 1) ∈ [0, 1): integer OPIC
    units divided by a constant, i.e. the same double on every
    partitioning — it reorders hosts only WITHIN a BFS depth level
    (priority = -depth + bonus) and never leaks into stored state.
    Cost shape: the edge derivation joins frontier lineage against
    url_seen on url_hash (the frontier's own partitioning key family)
    and OPIC runs n_iters edge-join+agg rounds on the host graph —
    per-batch overhead proportional to the observed link graph, the
    price of online adaptivity (Abiteboul et al., WWW 2003)."""
    from who_focus_crawler_spark.functions.urls import url_host
    from who_focus_crawler_spark.operators.hostrank import opic

    parents = url_seen.select(
        F.col("url_hash").alias("parent_hash"),
        url_host(F.col("canon_url")).alias("src"),
    )
    edges = (
        frontier.filter(F.col("parent_hash").isNotNull())
        .select("parent_hash", F.col("host").alias("dst"))
        .join(parents, "parent_hash")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    # weighted: observed multiplicity is the signal — a DISTINCT host
    # graph is near-complete and symmetric, which would tie every
    # non-hot host and reduce the policy to plain BFS
    scores = opic(edges, n_iters=n_iters, scale=_OPIC_SCALE, weight_col="w")
    # cash ≤ scale (conserved up to floor deflation) and history banks at
    # most `scale` per round ⇒ cash + history < (n_iters + 1)·scale, so
    # this divisor keeps the bonus strictly inside [0, 1) — it can
    # re-rank hosts within one BFS depth level but never across levels
    bonus = scores.select(
        "host",
        (
            (F.col("cash_units") + F.col("history_units"))
            / F.lit(float((n_iters + 1) * _OPIC_SCALE + 1))
        ).alias("_opic_bonus"),
    )
    return (
        frontier.join(bonus, "host", "left")
        .withColumn(
            "priority",
            F.col("priority") + F.coalesce(F.col("_opic_bonus"), F.lit(0.0)),
        )
        .drop("_opic_bonus")
    )


# Session configs while a batch runs: no whole-stage codegen. A batch is
# many short jobs over small stages, where fused classes cost more in Janino
# and JIT time than they save (session.py docstring).
BATCH_CONF = {"spark.sql.codegen.wholeStage": "false"}


def run_batch(
    spark: SparkSession, cfg: CrawlConfig, catalog: SnapshotCatalog
) -> dict:
    """Execute one fetch batch and commit it, with ``BATCH_CONF`` set on
    the session. Returns the batch stats."""
    with scoped_conf(spark, BATCH_CONF):
        return _run_batch(spark, cfg, catalog)


def _run_batch(
    spark: SparkSession, cfg: CrawlConfig, catalog: SnapshotCatalog
) -> dict:
    _t0 = time.time()
    _marks: list[tuple[str, float]] = []
    _cg0 = codegen_counters(spark) if _TIMING else None

    def _mark(label: str) -> None:
        if _TIMING:
            _marks.append((label, time.time()))

    st = catalog.state()
    assert st is not None and not st["finished"]
    batch, base_seq = st["next_batch"], st["next_seq"]
    # The snapshot id is ALLOCATED, not the batch number: in the plain
    # loop they coincide (bootstrap=0, batches 1..n), but between-run
    # maintenance (compact_table/expire_snapshots, branch publishes)
    # creates snapshots of its own, and published ids are immutable —
    # a resumed crawl must commit past them.
    sid = catalog.next_snapshot_id()
    P = cfg.num_buckets

    frontier = catalog.read_table(spark, "frontier", schemas.FRONTIER)
    url_seen = catalog.read_table(spark, "url_seen", schemas.URL_SEEN)
    robots_cache = catalog.read_table(spark, "robots_cache", schemas.ROBOTS_CACHE)
    host_state = catalog.read_table(spark, "host_state", schemas.HOST_STATE)
    seen_filters = (
        catalog.read_table(spark, "seen_filters", schemas.SEEN_FILTERS)
        if cfg.use_bloom
        else None
    )
    if robots_cache is None:
        robots_cache = _empty(spark, schemas.ROBOTS_CACHE)
    if host_state is None:
        host_state = _empty(spark, schemas.HOST_STATE)

    # C6 + C8 + C7 — select once (small: ≤ hosts × k rows), then decide
    frontier_sel = (
        _opic_boosted_view(frontier, url_seen, cfg.opic_iters)
        if cfg.opic_priority
        else frontier
    )
    if cfg.aging_boost_milli is not None:
        frontier_sel = age_boosted_view(
            frontier_sel, batch, cfg.aging_boost_milli
        )
    sel = select_candidates(
        frontier_sel, cfg.web.select_k, salt=cfg.salt
    ).localCheckpoint(eager=True)
    robots_cache = refresh_robots_cache(
        sel, robots_cache, cfg.web, batch
    ).localCheckpoint(eager=True)  # cache: broadcast twice below
    _mark("select+robots")
    cand = apply_politeness(
        apply_robots(sel, robots_cache),
        cfg.web.politeness_k,
        batch_window_s=cfg.web.batch_window_s,
    ).persist()
    # one action for both counters; fetch is 1:1 with admitted rows
    _c = cand.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("admitted"), 1).otherwise(0)).alias("a"),
    ).collect()[0]
    n_selected, n_fetched = int(_c["n"]), int(_c["a"] or 0)
    _mark("politeness+count")
    if n_selected == 0:
        catalog.commit(
            sid,
            {t: None for t in ("crawl_order", "documents", "metrics", "url_seen")}
            | ({"content_seen": None} if cfg.web.content_dedup else {})
            | {
                "frontier": frontier,
                "seen_filters": seen_filters,
                "robots_cache": robots_cache,
                "host_state": host_state,
            },
            state={"next_seq": base_seq, "next_batch": batch + 1, "finished": True},
        )
        cand.unpersist()
        return {"batch": batch, "fetched": 0, "new_urls": 0, "finished": True}

    # C9 + C10/C11
    admitted = assign_seq(
        cand.filter(F.col("admitted")).withColumn("batch", F.lit(batch)),
        base_seq - 1,
        n_rows=n_fetched,  # proven count ⇒ small batches skip the
        # two-phase rank's fixed overhead (same total order either way)
    )
    fetched = fetch_and_extract(admitted, cfg.web).persist()

    # Mercator content-seen test (opt-in, cfg.web.content_dedup): a body
    # whose (kind, text, media_ref) span sequence was already fetched at
    # a lower seq — this batch (row_number over seq per hash) or any
    # earlier one (the persisted content_seen table) — keeps its
    # crawl_order slot but is neither indexed nor link-expanded.
    # Redirect bodies are exempt: their hash is salted with the URL so
    # two redirects at the same target never "duplicate" each other.
    # Golden twin: sources/golden.py (content_key over the same fields).
    content_delta = None
    fetched_eff = fetched
    if cfg.web.content_dedup:
        content_seen = catalog.read_table(
            spark, "content_seen", schemas.CONTENT_SEEN
        )
        if content_seen is None:
            content_seen = _empty(spark, schemas.CONTENT_SEEN)
        identity = F.to_json(
            F.transform(
                F.col("spans"),
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                ),
            )
        )
        is_red = F.exists(F.col("spans"), lambda s: s["kind"] == F.lit("redirect"))
        chash = F.when(
            is_red, F.xxhash64(F.concat(F.lit("redirect|"), F.col("canon_url")))
        ).otherwise(F.xxhash64(identity))
        w_ch = Window.partitionBy("_chash").orderBy("seq")
        flagged = (
            fetched.withColumn("_chash", chash)
            .withColumn("_isred", is_red)
            .withColumn("_rn", F.row_number().over(w_ch))
            .join(
                content_seen.select(
                    F.col("content_hash").alias("_chash")
                ).distinct().withColumn("_prev", F.lit(True)),
                "_chash",
                "left",
            )
        )
        first_here = (F.col("_rn") == 1) & F.col("_prev").isNull()
        content_delta = flagged.filter(first_here & ~F.col("_isred")).select(
            F.col("_chash").alias("content_hash"), "canon_url", "batch"
        )
        fetched_eff = (
            flagged.filter(first_here)
            .drop("_chash", "_isred", "_rn", "_prev")
            .persist()
        )

    # C12 + C4
    events = discover_links(fetched_eff, P)
    # C16's `discovered` counts the raw discovery stream; with trap
    # gating on, gated links therefore land in `deduped` (= discovered
    # − new_urls), i.e. "discovered but not admitted to the frontier" —
    # they are never silently invisible to the metrics.
    events_discovered = events
    if cfg.trap_threshold is not None:
        from who_focus_crawler_spark.functions.traps import trap_score

        # scan-level map on the discovery stream — composes before the
        # dedup shuffle so trap URLs never cost exchange bandwidth
        events = events.filter(
            trap_score(F.col("target_url")) < F.lit(cfg.trap_threshold)
        )
    winners = dedup_in_batch(events)
    new_unique = dedup_against_seen(winners, url_seen, seen_filters, P).persist()

    n_new = new_unique.count()
    _mark("fetch+discover+dedup")

    # C5 — merge
    new_frontier_rows = new_unique.select(
        F.col("target_url").alias("canon_url"),
        "url_hash",
        "host",
        "host_bucket",
        (-F.col("depth").cast("double")).alias("priority"),
        "depth",
        "seed_id",
        "parent_hash",
        F.lit(batch).alias("discovered_in_batch"),
        F.lit("enqueued").alias("state"),
    )
    consumed = cand.filter(F.col("admitted") | ~F.col("robots_ok"))
    frontier2 = merge_frontier(frontier, consumed, new_frontier_rows)

    url_seen_delta = new_unique.select(
        "url_hash",
        F.col("target_url").alias("canon_url"),
        part_id(F.col("url_hash"), P).alias("part_id"),
    )
    filters2 = (
        update_seen_filters(seen_filters, url_seen_delta, P, kind=cfg.filter_kind)
        if seen_filters is not None
        else None
    )

    # C16 — metrics (per batch × host; deduped = discovered − new_urls)
    sched = cand.groupBy("host").agg(
        F.count("*").alias("scheduled"),
        F.sum(F.when(~F.col("robots_ok"), 1).otherwise(0)).alias("blocked_robots"),
        F.sum(F.when(F.col("admitted"), 1).otherwise(0)).alias("admitted"),
        F.sum(
            F.when(F.col("robots_ok") & ~F.col("admitted"), 1).otherwise(0)
        ).alias("deferred"),
    )
    disc = events_discovered.groupBy(F.col("parent_host").alias("host")).agg(
        F.count("*").alias("discovered")
    )
    new_m = new_unique.groupBy(F.col("parent_host").alias("host")).agg(
        F.count("*").alias("new_urls")
    )
    metrics = (
        sched.join(disc, "host", "left")
        .join(new_m, "host", "left")
        .na.fill(0, ["discovered", "new_urls"])
        .select(
            F.lit(batch).alias("batch"),
            "host",
            F.col("scheduled").cast("long"),
            F.col("blocked_robots").cast("long"),
            F.col("admitted").cast("long"),
            F.col("deferred").cast("long"),
            F.col("admitted").cast("long").alias("fetched"),
            F.col("discovered").cast("long"),
            (F.col("discovered") - F.col("new_urls")).cast("long").alias("deduped"),
            F.col("new_urls").cast("long"),
        )
    )

    fetched_counts = admitted.groupBy("host").agg(F.count("*").alias("n"))
    host_state2 = (
        host_state.join(fetched_counts, "host", "full")
        .select(
            "host",
            (F.coalesce(F.col("fetched_total"), F.lit(0)) + F.coalesce(F.col("n"), F.lit(0)))
            .cast("long")
            .alias("fetched_total"),
            F.when(F.col("n").isNotNull(), F.lit(batch))
            .otherwise(F.col("last_batch"))
            .cast("int")
            .alias("last_batch"),
        )
    )

    crawl_order_delta = fetched.select(
        "seq", "batch", "canon_url", "url_hash", "host", "depth", "seed_id"
    )
    # robots-meta noindex: the page was fetched (it holds its seq in
    # crawl_order) but its content stays out of the documents corpus
    from who_focus_crawler_spark.operators.discover import has_meta_directive

    documents_delta = fetched_eff.filter(
        ~has_meta_directive(F.col("spans"), "noindex")
    ).select(F.col("canon_url").alias("doc_id"), "spans", "batch")

    _mark("plan_rest")
    catalog.commit(
        sid,
        {
            "frontier": frontier2,
            "url_seen": url_seen_delta,  # append table: delta only
            "seen_filters": filters2,
            "robots_cache": robots_cache,
            "host_state": host_state2,
            "crawl_order": crawl_order_delta,  # append
            "documents": documents_delta,  # append
            "metrics": metrics,  # append
        }
        | ({"content_seen": content_delta} if cfg.web.content_dedup else {}),
        state={
            "next_seq": base_seq + n_fetched,
            "next_batch": batch + 1,
            "finished": False,
        },
    )
    _mark("commit")
    if _TIMING:
        prev = _t0
        parts = []
        for label, ts in _marks:
            parts.append(f"{label}={ts - prev:.1f}s")
            prev = ts
        compiles, compile_ns = (b - a for a, b in zip(_cg0, codegen_counters(spark)))
        parts.append(f"compiles={compiles} compile_ms={compile_ns // 1_000_000}")
        print(f"[wfc-timing] batch={batch} total={time.time() - _t0:.1f}s " + " ".join(parts), flush=True)
    cand.unpersist()
    fetched.unpersist()
    if fetched_eff is not fetched:
        fetched_eff.unpersist()
    new_unique.unpersist()
    return {
        "batch": batch,
        "selected": n_selected,
        "fetched": n_fetched,
        "new_urls": n_new,
        "finished": False,
    }


def run_crawl(
    spark: SparkSession,
    cfg: CrawlConfig,
    resume: bool = False,
    until_batch: int | None = None,
) -> SnapshotCatalog:
    """Full crawl: bootstrap (or resume from last committed snapshot, C15)
    and iterate batches until the frontier drains or the budget is hit."""
    catalog = SnapshotCatalog(cfg.checkpoint_dir)
    if not resume or catalog.head() is None:
        catalog = bootstrap(spark, cfg)
    limit = until_batch if until_batch is not None else cfg.batches
    while True:
        st = catalog.state()
        if st["finished"] or st["next_batch"] > limit:
            break
        run_batch(spark, cfg, catalog)
    return catalog
