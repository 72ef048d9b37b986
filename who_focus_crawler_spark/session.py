"""SparkSession factories with the engine's pinned configs.

Local mode is the test/bench environment (SURVEY.md probe P4); the configs
are chosen so the same code runs unchanged on a multi-executor cluster via
``spark-submit --py-files`` (BASELINE.json north_rule).

The pinned configs live in one place, ``engine_conf``. ``get_spark`` (tests,
bench, tools) adds the local-process settings on top; ``submit_spark`` is
what the ``spark-submit`` entry points under ``jobs/`` use, and leaves the
master, driver memory and shuffle width to ``spark-submit``.

Generated-class cache. Whole-stage codegen compiles each distinct plan
fragment with Janino (~25 ms a class here) and keeps the result in a
process-wide LRU cache of ``spark.sql.codegen.cache.maxEntries`` entries,
100 by default. Measured working sets: one crawl batch (``plans/crawl.py::
run_batch``) compiled ~242 distinct classes with whole-stage codegen (fewer
now that batches run without it, below) and one ``batch_jobs`` benchmark
operation (frontier pipeline + corpus pipeline) ~110. At 100 entries the
LRU evicts a batch's classes before the next batch asks for them again, so
every identical batch recompiled all ~242, and the JIT then spent another
7-15 s of CPU warming the fresh classes. ``CODEGEN_CACHE_ENTRIES`` holds both
working sets with room for the crawl's optional operators (OPIC, sitemaps,
content dedup, aging); in steady state a batch compiles only the few classes
that inline its per-batch int literals (``batch``, ``base_seq``). The cache
is a static conf: it is read once, when the JVM first generates code, so it
must be set on the builder before the session exists.

Cache keys. The key is the generated Java source, and whole-stage codegen
names its class after the plan's codegen stage id. Under AQE those ids
follow the order in which query stages are created, which depends on which
shuffle finishes first, so the same fragment could come back under a new id
and compile again (seen as an occasional 6 extra compiles, ~1.2 s, in a
repeated crawl batch; identical code also compiled twice within one batch
as stage 6 and stage 37). ``spark.sql.codegen.useIdInClassName`` is off, so
a key depends on the code alone.

Crawl batches run without whole-stage codegen (``plans/crawl.py::
BATCH_CONF``, set only while ``run_batch`` runs). A batch is ~58 short
Spark jobs over small stages (a few thousand rows each in the ``crawl_wide``
benchmark), so fusing operators saves little per row, while each fused
class costs a Janino compile and then C2 JIT time on its large methods.
Measured on 4 cores with fused classes: the JIT used ~21-23 s of CPU in the
first repeat of a batch and still ~7-8 s five repeats later, and the batch
wall fell from ~10-12 s to ~8 s over those repeats, by an amount that
depended on how far the JIT had got. Without fusion the operators run
Spark's own iterator code, which is warm after the first batch, and only
expression classes are generated: the first repeat took ~7 s and later
ones ~5.5-6.5 s, with the JIT at ~15 s falling to ~6 s.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Number of hash buckets for frontier / url_seen partitioning
# (pmod(xxhash64(host|url), P)). Pinned explicitly because per-partition
# seen-filters and golden determinism depend on it (SURVEY.md §4).
DEFAULT_BUCKETS = int(os.environ.get("WFC_BUCKETS", "32"))

# generated-class cache size; see the module docstring for the working sets
CODEGEN_CACHE_ENTRIES = 1000


def engine_conf() -> dict[str, str]:
    """The engine's pinned configs, shared by every session factory.

    - Arrow on: every UDF crossing is Arrow-batched (BASELINE.json input_hint:
      "vectorized pandas/Arrow UDFs (no per-row Python) throughout").
    - AQE on for joins/aggs, but bucket-aligned stages use explicit
      ``repartition(P, ...)`` which AQE does not coalesce away.
    - Codegen cache sized to the crawl batch's working set, keyed by code
      alone (module docstring).
    """
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "50000",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # class names without the AQE-order-dependent stage id, so the
        # cache key is the code alone (module docstring)
        "spark.sql.codegen.useIdInClassName": "false",
        # Propagate bucket-sort order from bucketed scans so joins of
        # bucketBy+sortBy tables skip the per-task Sort as well as the
        # Exchange. Sound here because operators/bucketing.py::
        # write_bucketed always repartitions on the bucket key before
        # writing -> exactly one file per bucket (the case where the
        # reported ordering is actually true).
        "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
        # Python Data Source API (sources/warc_datasource.py): allow
        # readers to take equality filters into the scan
        "spark.sql.python.filterPushdown.enabled": "true",
    }


def _create(builder: SparkSession.Builder, conf: dict[str, str]) -> SparkSession:
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_spark(
    app_name: str = "who_focus_crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local-process SparkSession with the engine's
    pinned configs (``engine_conf``), plus:

    - Shuffle partitions default to core count, not 200 (local mode).
    - Driver memory from ``WFC_DRIVER_MEM``; no Spark UI.
    """
    master = master or os.environ.get("WFC_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("WFC_SHUFFLE_PARTITIONS", str(cores)))
    conf = engine_conf() | {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.driver.memory": os.environ.get("WFC_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
    }
    return _create(
        SparkSession.builder.master(master).appName(app_name),
        conf | (extra_conf or {}),
    )


def submit_spark(app_name: str) -> SparkSession:
    """Session for a ``spark-submit`` entry point (``jobs/*.py``): the
    engine's pinned configs and nothing else. The master, driver memory
    and shuffle partitions stay whatever ``spark-submit`` was given
    (``--master``, ``--driver-memory``, ``--conf``); run under plain
    ``python`` the master is PySpark's default, ``local[*]``."""
    return _create(SparkSession.builder.appName(app_name), engine_conf())


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set runtime SQL configs for the duration of a block, then put back
    the values the session had (unset keys are unset again)."""
    before = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def codegen_counters(spark: SparkSession) -> tuple[int, int]:
    """(Janino compiles, total compile ns) since this JVM started. Both are
    process-wide, so diff two readings to cost one stretch of work; cache
    hits add to neither."""
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return (
        int(metrics.METRIC_COMPILATION_TIME().getCount()),
        int(codegen.compileTime()),
    )
