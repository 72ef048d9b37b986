"""Session factories (session.py): one set of pinned engine configs for
the local sessions and the spark-submit jobs."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from who_focus_crawler_spark.session import codegen_counters, engine_conf, scoped_conf

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_submit_session_keeps_submit_master_and_conf():
    """A job session gets the engine configs but keeps what spark-submit
    was given: --master and any --conf the engine does not pin."""
    code = (
        "import json\n"
        "from who_focus_crawler_spark.session import submit_spark\n"
        "s = submit_spark('wfc-test-job')\n"
        "keys = ['spark.sql.shuffle.partitions', 'spark.sql.codegen.cache.maxEntries',"
        " 'spark.sql.execution.arrow.pyspark.enabled']\n"
        "print(json.dumps({'master': s.sparkContext.master,"
        " **{k: s.conf.get(k) for k in keys}}))\n"
        "s.stop()\n"
    )
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # what spark-submit hands PySpark when it starts the driver's JVM
        PYSPARK_SUBMIT_ARGS=(
            "--master local[1] --conf spark.sql.shuffle.partitions=3 "
            "--conf spark.ui.enabled=false pyspark-shell"
        ),
    )
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=ROOT,
        capture_output=True, text=True, timeout=300, check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {
        "master": "local[1]",
        "spark.sql.shuffle.partitions": "3",
        "spark.sql.codegen.cache.maxEntries": engine_conf()["spark.sql.codegen.cache.maxEntries"],
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }


def test_same_stage_code_under_another_stage_id_is_not_recompiled(spark):
    """Swapping a union's inputs swaps their codegen stage ids (1 and 2).
    The generated classes are keyed by code alone, so the second plan
    reuses both classes of the first."""
    a = spark.range(64).selectExpr("id * 7919 + 13 AS v").filter("v % 11 = 4")
    b = spark.range(64).selectExpr("id * 104729 + 17 AS v").filter("v % 13 = 6")
    first = sorted(r.v for r in a.union(b).collect())
    before, _ = codegen_counters(spark)
    assert sorted(r.v for r in b.union(a).collect()) == first
    assert codegen_counters(spark)[0] - before == 0


def test_scoped_conf_restores_set_and_unset_keys(spark):
    key, unset = "spark.sql.shuffle.partitions", "spark.wfc.test.scoped"
    outer = spark.conf.get(key)
    with scoped_conf(spark, {key: "3", unset: "x"}):
        assert spark.conf.get(key) == "3"
        assert spark.conf.get(unset) == "x"
    assert spark.conf.get(key) == outer
    assert spark.conf.get(unset, None) is None
