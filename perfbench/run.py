#!/usr/bin/env python3
"""Repository benchmark.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Runs one workload (see `workloads.py`) in a single Spark process on
``local[<cores>]`` from the root of a checkout, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.

- Set-up (Spark session start, input generation, warm-up) is timed as
  ``setup_s``.
- Operations then repeat until ``--seconds`` have passed (at least one).
  Each operation is timed on its own and its output checked outside the
  timed region; an operation fails if it raises or fails its check.
- ``--trace 0`` reports the end-to-end metrics with tracing off:
  ``setup_s``, ``op_s_p50`` (median operation wall), ``items_per_s``
  (median of the operations' items per second; an item is a workload's
  unit of work, e.g. a page fetched) and ``peak_rss_mb``.
- ``--trace 1`` runs one operation untraced, then traced ones, and
  reports the per-layer metrics (see `trace.py`), including
  ``trace_overhead_s`` = median traced wall - median untraced wall.

``--size tiny`` shrinks every input for a quick smoke run (`smoke.py`).
All scratch output stays under ``.perfbench_work/`` in the checkout and is
removed at exit, except the traced run's spans, which are kept there as
``spans-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

COMMON = {
    "busy_s": "s",
    "calls": "count",
    "task_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
}
LAYERS = {
    "plans.crawl": {
        "bootstrap_s": "s",
        "spark_jobs_per_batch": "count",
        "spark_stages_per_batch": "count",
        "spark_tasks_per_batch": "count",
        "failed_tasks": "count",
    },
    "checkpoint.snapshot": {
        "commit_s": "s",
        "read_table_s": "s",
        "files_written_per_commit": "count",
        "bytes_written_per_commit": "bytes",
        "files_live": "count",
        "manifest_bytes": "bytes",
        "ckpt_bytes_per_page": "bytes",
    },
    "operators.frontier": {"rows_selected": "count", "frontier_rows": "count"},
    "operators.robots": {"blocked": "count"},
    "operators.politeness": {"admitted_ratio": "ratio", "deferred": "count"},
    "operators.fetch": {"pages": "count"},
    "operators.discover": {"links": "count"},
    "operators.dedup": {"new_ratio": "ratio"},
    "functions.urls": {"rows": "count"},
    "operators.sequencer": {},
    "bench": {},
    "corpus.dedup": {"pairs": "count"},
    "corpus.clusters": {},
    "jobs.corpus": {"self_s": "s", "kept_ratio": "ratio"},
}
# Layers whose traced calls report their result's row count, and the
# metric it goes to.
ROW_COUNTS = {"functions.urls": "functions.urls.rows",
              "corpus.dedup": "corpus.dedup.pairs"}
RUN_LEVEL = {
    "trace_overhead_s": "s",
    "op_wall_s": "s",
    "op_cpu_s": "s",
    "unattributed_s": "s",
    "trace_bookkeeping_s": "s",
    "spark_jobs_per_op": "count",
    "spark_stages_per_op": "count",
    "spark_tasks_per_op": "count",
}


def per_layer_units() -> dict[str, str]:
    units = dict(RUN_LEVEL)
    for layer, extra in LAYERS.items():
        for name, unit in {**COMMON, **extra}.items():
            units[f"{layer}.{name}"] = unit
    return units


# ------------------------------------------------------------ environment
def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A Spark driver heap well below the machine's RAM (the engine's
    default of 16g can exceed it): a quarter of MemTotal, at most 2 GiB.
    The workloads are small; the heap bounds the JVM's peak RSS."""
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    return f"{min(2048, total_mb // 4)}m"


def prepare_env(work: str) -> None:
    """Spark's Python workers import the package from the checkout root;
    all temp and spill files stay inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["WFC_DRIVER_MEM"] = driver_mem()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # bench.synth_frontier spreads the frontier over this many partitions;
    # its default (128) is sized for a 15M-URL frontier, not this one
    os.environ["WFC_BENCH_PARTITIONS"] = str(cores())


def start_spark(work: str, trace: bool):
    from who_focus_crawler_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{work}/eventlog"
        # one plain-text JSON-lines file, read back by trace.event_log_stats
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    n = cores()
    return get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=conf,
    )


def process_tree(pid: int) -> list[int]:
    """``pid`` and its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def rss_tree_mb(pid: int) -> float:
    """Sum of peak RSS (VmHWM) over the Spark JVM and its descendants,
    the Python daemon and workers."""
    peaks = {}
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peaks[p] = int(line.split()[1]) // 1024
        except OSError:
            pass
    print(f"perfbench: peak RSS MB by pid {peaks}", file=sys.stderr)
    return float(sum(peaks.values()))


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """CPU seconds (user + system, incl. reaped children) used so far by
    this driver process and by the Spark JVM tree. Unlike wall time it
    does not grow when the hypervisor steals the CPU."""
    t = os.times()
    total = t.user + t.system
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / _TICK
    return total


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _start_time(pid: int) -> int | None:
    """Start time of a live process (None once it has ended or is a
    zombie); with the pid it names one process, even if the pid is reused."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else int(fields[19])


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and every process under it (the
    Python daemon and its workers) have ended.

    The JVM only exits when its stdin pipe closes, which PySpark leaves
    to the end of the Python process; so it would outlive this one."""
    proc = spark.sparkContext._gateway.proc
    # listed before the stop too: a worker orphaned by it leaves the tree
    tree = {p: _start_time(p) for p in process_tree(proc.pid)}
    try:
        spark.stop()
    finally:
        for p in process_tree(proc.pid):
            tree.setdefault(p, _start_time(p))
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 10.0
        live = [p for p, t in tree.items() if t is not None and p != proc.pid]
        while live:
            live = [p for p in live if _start_time(p) == tree[p]]
            if live and time.monotonic() > deadline:
                for p in live:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            time.sleep(0.05)


# --------------------------------------------------------------- the run
class Runner:
    def __init__(self, workload, seconds: float, jvm: int, tracer=None) -> None:
        self.w = workload
        self.seconds = seconds
        self.jvm = jvm
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.rates: list[float] = []  # items per second of successful ops

    def one(self) -> float:
        """One timed operation plus its (untimed) output check."""
        self.attempted += 1
        c0 = cpu_s(self.jvm)
        t0 = time.perf_counter()
        try:
            items = self.w.op()
            ok = True
        except Exception:
            traceback.print_exc()
            self.failed += 1
            ok = False
        wall = time.perf_counter() - t0
        cpu = cpu_s(self.jvm) - c0
        self.walls.append(wall)
        self.cpus.append(cpu)
        if ok:
            self.rates.append(items / wall)
            print(f"perfbench: op {self.attempted}: {wall:.3f} s wall, "
                  f"{cpu:.3f} s cpu, {items} {self.w.item}", file=sys.stderr)
            self.checked()
        return wall

    def checked(self, fn=None) -> None:
        tracer, active = self.tracer, self.tracer and self.tracer.active
        if tracer:
            tracer.active = False
        try:
            (fn or self.w.check)()
        except Exception:
            self.failed += 1
            traceback.print_exc()
        finally:
            if tracer:
                tracer.active = active

    def timed_loop(self, on_op=None) -> None:
        deadline = time.perf_counter() + self.seconds
        i = 0
        while True:
            self.one() if on_op is None else on_op(i)
            i += 1
            if time.perf_counter() >= deadline:
                return


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(ops: list[dict], setup_spans: list[dict], ev: dict,
                  untraced_walls: list[float]) -> dict[str, float]:
    """Per-layer metrics: each is the median over traced operations of
    its per-operation value."""
    per_op: list[dict[str, float]] = []
    for op in ops:
        spans = op["spans"]
        m: dict[str, float] = {k: 0.0 for k in per_layer_units()}
        for sp in spans:
            layer = sp["layer"]
            if layer == "trace":
                m["trace_bookkeeping_s"] += sp["self_s"]
                continue
            if layer not in LAYERS:
                continue
            m[f"{layer}.busy_s"] += sp["self_s"]
            m[f"{layer}.calls"] += 1
            for k, v in ev.get(sp["id"], {}).items():
                m[f"{layer}.{k}"] += v
            if "rows" in sp:
                m[ROW_COUNTS[layer]] += sp["rows"]
        commits = [sp for sp in spans if sp["name"] == "checkpoint.snapshot.commit"]
        if commits:
            m["checkpoint.snapshot.commit_s"] = sum(sp["wall_s"] for sp in commits)
            m["checkpoint.snapshot.files_written_per_commit"] = sum(
                sp["files_written"] for sp in commits) / len(commits)
            m["checkpoint.snapshot.bytes_written_per_commit"] = sum(
                sp["bytes_written"] for sp in commits) / len(commits)
            m["checkpoint.snapshot.files_live"] = commits[-1]["files_live"]
            m["checkpoint.snapshot.manifest_bytes"] = commits[-1]["manifest_bytes"]
        m["checkpoint.snapshot.read_table_s"] = sum(
            sp["wall_s"] for sp in spans
            if sp["name"] == "checkpoint.snapshot.read_table")
        m["jobs.corpus.self_s"] = m["jobs.corpus.busy_s"]
        m["op_wall_s"] = op["wall"]
        m["op_cpu_s"] = op["cpu"]
        m["unattributed_s"] = op["wall"] - sum(
            sp["self_s"] for sp in spans if sp["parent"] is not None)
        c = op["counts"]
        m["spark_jobs_per_op"] = c["jobs"]
        m["spark_stages_per_op"] = c["stages"]
        m["spark_tasks_per_op"] = c["tasks"]
        if any(sp["name"] == "plans.crawl.run_batch" for sp in spans):
            m["plans.crawl.spark_jobs_per_batch"] = c["jobs"]
            m["plans.crawl.spark_stages_per_batch"] = c["stages"]
            m["plans.crawl.spark_tasks_per_batch"] = c["tasks"]
            m["plans.crawl.failed_tasks"] = c["failed_tasks"]
        m.update({k: v for k, v in op["counters"].items() if v is not None})
        per_op.append(m)
    out = {k: median([m[k] for m in per_op]) for k in per_layer_units()}
    out["plans.crawl.bootstrap_s"] = sum(
        sp["wall_s"] for sp in setup_spans if sp["name"] == "plans.crawl.bootstrap")
    out["trace_overhead_s"] = median([op["wall"] for op in ops]) - median(
        untraced_walls)
    return out


def run(args, workload_cls) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        prepare_env(work)
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from idleness import sys_snapshot

        print(f"perfbench: box before run {json.dumps(sys_snapshot())}",
              file=sys.stderr)
        workload = workload_cls(args.size, args.seed, work)
        t0 = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        try:
            return measure(spark, workload, args, t0, work)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(spark, workload, args, t0: float, work: str) -> dict:
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark.sparkContext)
        workload.trace_targets(tracer)
        tracer.active = True
    workload.setup(spark)
    setup_s = time.perf_counter() - t0
    print(f"perfbench: set-up {setup_s:.3f} s", file=sys.stderr)
    runner = Runner(workload, args.seconds, jvm_pid(spark), tracer)

    if not args.trace:
        runner.timed_loop()
        rss = rss_tree_mb(runner.jvm)
        if hasattr(workload, "final_check"):
            runner.checked(workload.final_check)
        metrics = {
            "setup_s": setup_s,
            "op_s_p50": median(runner.walls),
            "items_per_s": median(runner.rates),
            "peak_rss_mb": rss,
        }
        units = END_TO_END
    else:
        setup_spans = list(tracer.spans)
        tracer.active = False
        untraced = [runner.one()]
        tracer.active = True
        ops: list[dict] = []

        def traced_op(i: int) -> None:
            tracer.op = i
            before = tracer.ungrouped_jobs()
            wall = runner.one()
            tracer.active = False
            counters = {}
            try:
                counters = workload.traced_counters()
            except Exception:
                traceback.print_exc()
            tracer.active = True
            tracer.op = None
            spans = [sp for sp in tracer.spans if sp["op"] == i]
            jobs = {j for sp in spans for j in sp["jobs"]}
            jobs |= tracer.ungrouped_jobs() - before
            ops.append({"wall": wall, "cpu": runner.cpus[-1], "spans": spans,
                        "counters": counters,
                        "counts": tracer.spark_counts(jobs)})

        runner.timed_loop(traced_op)
        tracer.active = False
        tracer.unwrap_all()
        if hasattr(workload, "final_check"):
            runner.checked(workload.final_check)
        spark.stop()  # flushes the event log
        from perfbench.trace import event_log_stats

        ev = event_log_stats(os.path.join(work, "eventlog"), tracer.spans)
        metrics = layer_metrics(ops, setup_spans, ev, untraced)
        spans_out = os.path.join(os.path.dirname(work),
                                 f"spans-{args.workload}-seed{args.seed}.json")
        with open(spans_out, "w") as f:
            json.dump([{**sp, **ev.get(sp["id"], {})} for sp in tracer.spans], f)
        print(f"perfbench: spans written to {spans_out}", file=sys.stderr)
        units = per_layer_units()
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main() -> None:
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    needed = ("who_focus_crawler_spark/__init__.py", "bench.py", "jobs/corpus.py",
              "tools/idleness.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: not a checkout of the repository (missing {missing})")
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")
    result = run(args, WORKLOADS[args.workload])
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
