#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload load_query --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (spans around the engine's layer functions plus Spark's event log).
The last stdout line is the result object; the line before it is the run
record (host, Spark conf, host-noise probe).  Runs from the checkout root;
everything a run writes stays under ``.perfbench_work/`` (removed at exit)
and ``.perfbench_out/`` (span and job-group dumps of traced runs).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import resource
import shutil
import signal
import subprocess
import sys
import time

T_PROC = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "ingest_changesets_per_s": "1/s",
    "diff_s": "s",
    "op_s_p50": "s",
    "op_s_p90": "s",
}

# per-layer metric -> unit; every traced run prints all of them (0 where the
# workload does not exercise the layer)
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.xml_source.parse_s": "s",
    "sources.xml_source.rows_per_s": "1/s",
    "sources.xml_source.quarantined_rows": "count",
    "sources.replication.read_batch_s": "s",
    "sinks.upsert.upsert_s": "s",
    "sinks.upsert.partitions_rewritten": "count",
    "sinks.upsert.bytes_rewritten_per_diff_byte": "ratio",
    "sinks.store.bulk_load_s": "s",
    "sinks.store.write_s": "s",
    "sinks.store.bytes_per_changeset": "B",
    "sinks.store.files_written": "count",
    "sinks.txn_table.merge_s_p50": "s",
    "sinks.txn_table.commits": "count",
    "sinks.txn_table.conflict_retries": "count",
    "sinks.txn_table.bytes_written_per_diff": "B",
    "sinks.txn_table.compact_s": "s",
    "sinks.txn_table.live_dirs": "count",
    "streaming.trigger_s_p50": "s",
    "streaming.add_batch_s_p50": "s",
    "streaming.overhead_s_p50": "s",
    "streaming.jobs_per_trigger": "count",
    "streaming.stages_per_trigger": "count",
    "catalyst.query_plan_s_p50": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.result_bytes": "B",
    "mem.peak_rss_mb": "MB",
    "trace.uncovered_share": "share",
    "host.probe_before_s": "s",
    "host.probe_after_s": "s",
    "host.steal_share": "share",
    **{f"traced.{k}": u for k, u in E2E_UNITS.items()},
}

# span-name prefixes that count as engine or Spark layers
LAYER_PREFIXES = ("session", "sources", "sinks", "streaming", "operators", "spark")


class Context:
    def __init__(self, args, work: str) -> None:
        from workloads import Ops

        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.ops = Ops()
        self.tracer = None
        self.spark = None
        self.t_ready = None
        self.window = (0.0, 0.0)
        self.probes: list[float] = []
        self.cpu = (0, 0)
        self.steal_share = 0.0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def log(self, msg: str) -> None:
        print(f"perfbench {time.time() - T_PROC:7.2f}s {msg}", file=sys.stderr, flush=True)

    def ready(self) -> None:
        self.t_ready = time.time()
        self.log("ready")
        self.probes.append(probe(self.spark))

    def mark_start(self) -> None:
        self.log("measure start")
        self.cpu = cpu_times()
        self.window = (time.time(), 0.0)

    def mark_end(self) -> None:
        self.window = (self.window[0], time.time())
        steal, total = (b - a for a, b in zip(self.cpu, cpu_times()))
        self.steal_share = steal / max(1, total)
        self.log("measure end")
        self.probes.append(probe(self.spark))


def probe(spark) -> float:
    """Fixed-work CPU probe (``bench.py``'s contention sentinel scaled to
    the task slots): xxhash64 over 2M rows per slot, best of two."""
    from pyspark.sql import functions as F

    slots = spark.sparkContext.defaultParallelism
    spark.sparkContext.setJobGroup("probe", "probe")
    samples = []
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(0, 2_000_000 * slots, 1, slots).select(
            F.sum(F.pmod(F.xxhash64("id"), F.lit(1_048_576)))
        ).collect()
        samples.append(time.perf_counter() - t0)
    return min(samples)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def install_tracer(tracer) -> None:
    """Wrap the engine's layer functions where their callers look them up."""
    import changesetmd_spark.operators.geometry as geometry
    import changesetmd_spark.sinks.store as store
    import changesetmd_spark.sources.xml_source as xml_source
    import changesetmd_spark.streaming.replication_stream as rstream
    from changesetmd_spark.sinks.txn_table import TxnTable

    tracer.wrap(store, "read_changeset_xml", "sources.xml_source.read")
    tracer.wrap(store, "normalize_changesets", "sources.xml_source.normalize")
    tracer.wrap(store, "read_replication_batch", "sources.replication.read_batch")
    tracer.wrap(store, "upsert_parquet", "sinks.upsert.upsert")
    tracer.wrap(store.ChangesetStore, "bulk_load", "sinks.store.bulk_load")
    tracer.wrap(store.ChangesetStore, "replicate", "sinks.store.replicate")
    tracer.wrap(store.ChangesetStore, "changesets", "sinks.store.changesets")
    tracer.wrap(xml_source, "comments_table", "sources.xml_source.comments_table")
    tracer.wrap(geometry, "bbox_contains", "operators.geometry.bbox_contains")
    tracer.wrap(geometry, "bbox_area_m2", "operators.geometry.bbox_area_m2")
    tracer.wrap(rstream, "run_replication_stream_txn", "streaming.replication_stream")
    tracer.wrap(rstream, "normalize_changesets", "sources.xml_source.normalize")
    tracer.wrap(TxnTable, "merge", "sinks.txn_table.merge")
    tracer.wrap(TxnTable, "compact", "sinks.txn_table.compact")
    tracer.wrap(TxnTable, "overwrite", "sinks.txn_table.overwrite")
    try_commit = TxnTable._try_commit

    def counting_commit(self, version, manifest):
        won = try_commit(self, version, manifest)
        if not won:
            tracer.counts["txn_commit_lost"] += 1
        return won

    tracer._undo.append((TxnTable, "_try_commit", try_commit))
    TxnTable._try_commit = counting_commit


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def run_record(args, spark) -> dict:
    mem = "?"
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem = line.split(":", 1)[1].strip()
    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
        )
        commit = out.stdout.strip() or commit
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total": mem,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "commit": commit,
        "spark.master": conf.get("spark.master"),
        "spark.driver.memory": conf.get("spark.driver.memory", "default"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


def layer_metrics(ctx, out: dict, log_dir: str, setup_s: float, session_s: float) -> dict:
    from spans import fold, read_event_log

    tr = ctx.tracer
    t0, t1 = ctx.window
    log = read_event_log(log_dir)
    in_window = lambda j: t0 <= j["submit"] <= t1  # noqa: E731
    ex = fold(log, in_window)
    metrics = dict.fromkeys(LAYER_UNITS, 0.0)
    metrics.update(out["layer"])
    metrics["session.start_s"] = session_s
    metrics.update({f"exec.{k}": v for k, v in ex.items()})
    batches = {
        (j["group"], j["batch"]) for j in log["jobs"].values()
        if in_window(j) and j["batch"] is not None
    }
    if batches:
        stream = fold(log, lambda j: in_window(j) and j["batch"] is not None)
        metrics["streaming.jobs_per_trigger"] = stream["jobs"] / len(batches)
        metrics["streaming.stages_per_trigger"] = stream["stages"] / len(batches)
    wall = t1 - t0
    metrics["trace.uncovered_share"] = 1.0 - tr.covered(t0, t1, LAYER_PREFIXES) / wall
    metrics["host.probe_before_s"], metrics["host.probe_after_s"] = ctx.probes[:2]
    metrics["host.steal_share"] = ctx.steal_share
    metrics["mem.peak_rss_mb"] = out["peak_rss_mb"]
    for k, v in e2e_metrics(out, setup_s).items():
        metrics[f"traced.{k}"] = v
    return metrics, log


def e2e_metrics(out: dict, setup_s: float) -> dict:
    m = {k: v for k, v in out["e2e"].items() if k in E2E_UNITS}
    m["setup_s"] = setup_s
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "changesetmd_spark", "__init__.py")):
        print("perfbench: engine package changesetmd_spark not found next to "
              "perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"

    # on SIGTERM still run the clean-up below: stop the JVM, drop the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctx = Context(args, work)
    log_dir = os.path.join(work, "eventlog")
    spark = None
    try:
        from changesetmd_spark import get_spark
        from spans import Tracer, by_group

        extra = None
        if args.trace:
            ctx.tracer = Tracer()
            install_tracer(ctx.tracer)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        t0 = time.perf_counter()
        with ctx.span("session.start"):
            spark = get_spark(app_name="perfbench", extra_conf=extra)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        ctx.log("session up")
        record = run_record(args, spark)

        out = WORKLOADS[args.workload](ctx)
        setup_s = ctx.t_ready - T_PROC
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_kb = vm_hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        out["peak_rss_mb"] = rss_kb / 1024.0
        ctx.log("checks done")
        stop_spark(spark)
        spark = None
        ctx.log("session stopped")

        record["probe_s"] = ctx.probes
        record["steal_share"] = ctx.steal_share
        record["peak_rss_mb"] = out["peak_rss_mb"]
        record["ops_measured"] = out["e2e"]["ops_measured"]
        record["samples"] = out["e2e"]["samples"]
        record["errors"] = ctx.ops.errors[:20]
        if args.trace:
            ctx.tracer.restore()
            metrics, log = layer_metrics(ctx, out, log_dir, setup_s, session_s)
            units = LAYER_UNITS
            dest = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(dest, exist_ok=True)
            stem = os.path.join(dest, f"{args.workload}-seed{args.seed}")
            ctx.tracer.dump(stem + "-spans.jsonl")
            with open(stem + "-summary.json", "w") as fh:
                summary = {"window": ctx.window, "groups": by_group(log), "record": record}
                json.dump(summary, fh, indent=1, sort_keys=True, default=str)
        else:
            metrics, units = e2e_metrics(out, setup_s), E2E_UNITS
        print(json.dumps({"run_record": record}, default=str))
        result = {
            "correct": ctx.ops.failed == 0,
            "attempted": ctx.ops.attempted,
            "failed": ctx.ops.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
