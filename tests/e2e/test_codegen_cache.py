"""Generated-class cache regression (session.py CODEGEN_CACHE_ENTRIES).

A crawl batch whose plan outgrows Spark's codegen cache recompiles every
generated class on every batch. In steady state a batch should compile
only the few classes that inline its per-batch literals."""

from __future__ import annotations

from who_focus_crawler_spark.plans.crawl import (
    BATCH_CONF,
    CrawlConfig,
    bootstrap,
    run_batch,
)
from who_focus_crawler_spark.session import codegen_counters
from who_focus_crawler_spark.sources.fixture_web import UNIT_WEB

# batch 3 compiles ~4 classes with the cache sized; ~140 when the LRU
# evicts a batch's classes before the next batch can reuse them
MAX_STEADY_COMPILES = 40


def test_steady_batch_reuses_generated_classes(spark, tmp_path):
    cfg = CrawlConfig(web=UNIT_WEB, checkpoint_dir=str(tmp_path), num_buckets=8)
    catalog = bootstrap(spark, cfg)
    outside = {k: spark.conf.get(k) for k in BATCH_CONF}
    compiles = []
    for _ in range(3):
        before, _ = codegen_counters(spark)
        assert run_batch(spark, cfg, catalog)["fetched"] > 0
        compiles.append(codegen_counters(spark)[0] - before)
    assert compiles[2] <= MAX_STEADY_COMPILES, compiles
    # the batch's own configs do not leak into the caller's session
    assert {k: spark.conf.get(k) for k in BATCH_CONF} == outside
