"""The benchmark's workloads.  Each drives the engine only through its
public functions, does a fixed amount of measured work (plus a closed-loop
read mix of ``ctx.seconds`` in ``load_query``) and checks every answer
against ``gen.Model``.

``load_query``: after a cold round in set-up, ``ROUNDS`` rounds of dump ->
``ChangesetStore.bulk_load`` into a fresh store, K diffs ->
``ChangesetStore.replicate`` of the main store, and a closed-loop,
single-client read mix over the re-opened main store.

``replicate``: a base ``TxnTable`` and a warm-up diff in set-up, then
``DRAIN_DIFFS`` diffs drained through ``run_replication_stream_txn``, one
diff per trigger, with compaction every ``COMPACT_EVERY`` triggers.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import shutil
import statistics
import time

from gen import (
    AREA_LIMIT_M2,
    Generator,
    Model,
    NULL,
    write_base_parquet,
    write_osm,
)

START = dt.datetime(2025, 1, 1)

# load_query sizes
DUMP_CHANGESETS = 10_000
DUMP_DAYS = 30
MALFORMED = 5
CATCHUP_DIFFS = 2  # K diffs per catch-up
ROUNDS = 4  # measured rounds, each one bulk_load, one catch-up and reads
MIN_QUERIES = 100  # sampled queries: p90 with at least 10 samples beyond it

# replicate sizes
BASE_CHANGESETS = 100_000
BASE_DAYS = 90
WARMUP_DIFFS = 1  # the cold first trigger
COMPACT_EVERY = 3
DRAIN_DIFFS = 6  # measured triggers: two compactions

# read mix: kind -> share of the queries issued
READ_MIX = {
    "comment_count": 1,
    "josm_count": 1,
    "envelope_count": 2,
    "small_area_count": 1,
    "user_stats": 2,
    "range_stats": 2,
    "top_users": 1,
    "comment_join": 1,
}
# unsampled queries before the read latencies: one pass over the mix
READ_WARMUP = sum(READ_MIX.values())


def _p(values, q):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Ops:
    """Attempted / failed operation counts (loads, diffs, queries, checks)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: {detail}"[:500])


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _parquet_files(path: str) -> int:
    return sum(
        1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def _table_summary(df) -> tuple[int, int, int]:
    """(rows, distinct non-null ids, sum of per-row crc32): the Spark twin
    of ``Model.state_summary``, computed as one aggregate."""
    from pyspark.sql import functions as F

    cols = [
        F.col("id"), F.col("user_id"), F.col("created_at"), F.col("closed_at"),
        F.col("open"), F.col("num_changes"), F.size("tags"), F.size("comments"),
    ]
    line = F.concat_ws("|", *[F.coalesce(c.cast("string"), F.lit(NULL)) for c in cols])
    r = df.agg(
        F.count(F.lit(1)), F.count_distinct("id"), F.sum(F.crc32(line.cast("binary")))
    ).first()
    return r[0], r[1], r[2] or 0


def _set_group(ctx, group: str) -> None:
    ctx.spark.sparkContext.setJobGroup(group, group)


# ---------------------------------------------------------------------------
# load_query


def _query_instances(seed: int, gen: Generator, n: int) -> list[tuple[str, tuple]]:
    rng = random.Random(seed * 7919 + 1)
    # the kinds cycle in a fixed order, so every run issues the same mix and
    # only the parameters depend on the seed
    kinds = [k for k, w in READ_MIX.items() for _ in range(w)]
    first = START.date()
    out = []
    for i in range(n):
        kind = kinds[i % len(kinds)]
        d1 = first + dt.timedelta(days=rng.randrange(DUMP_DAYS))
        if kind == "envelope_count":
            lon = rng.randrange(-360, 340) / 2
            lat = rng.randrange(-120, 140) / 2
            w, h = rng.choice([5, 10, 20, 40]), rng.choice([5, 10, 20])
            params = ((lon, lat, lon + w, lat + h),)
        elif kind in ("small_area_count", "comment_join"):
            params = (d1, d1 + dt.timedelta(days=6))
        elif kind == "range_stats":
            params = (d1, d1 + dt.timedelta(days=rng.randint(0, 4)))
        elif kind == "top_users":
            params = (d1, d1 + dt.timedelta(days=6), rng.choice([5, 10, 20]))
        elif kind == "user_stats":
            params = (gen.user(rng)[0],)
        else:
            params = ()
        out.append((kind, params))
    return out


def read_query(cs, kind: str, params: tuple):
    """The DataFrame for one read query over the changeset table."""
    from pyspark.sql import functions as F

    from changesetmd_spark.operators.geometry import bbox_area_m2, bbox_contains
    from changesetmd_spark.sources.xml_source import comments_table

    one = F.count(F.lit(1)).alias("n")
    box = [F.col(c) for c in ("min_lon", "min_lat", "max_lon", "max_lat")]
    if kind == "comment_count":
        return cs.filter(F.map_contains_key("tags", "comment")).agg(one)
    if kind == "josm_count":
        by = F.try_element_at("tags", F.lit("created_by"))
        return cs.filter(by.like("JOSM%")).agg(one)
    if kind == "envelope_count":
        return cs.filter(bbox_contains(*box, params[0])).agg(one)
    if kind == "user_stats":
        return cs.filter(F.col("user_id") == params[0]).agg(
            one, F.sum("num_changes").alias("s")
        )
    in_range = F.col("created_date").between(F.lit(params[0]), F.lit(params[1]))
    if kind == "small_area_count":
        return cs.filter(in_range & (bbox_area_m2(*box) < AREA_LIMIT_M2)).agg(one)
    if kind == "range_stats":
        return cs.filter(in_range).agg(one, F.sum("num_changes").alias("s"))
    if kind == "top_users":
        return (
            cs.filter(in_range & F.col("user_id").isNotNull())
            .groupBy("user_id")
            .agg(one)
            .orderBy(F.desc("n"), F.asc("user_id"))
            .limit(params[2])
        )
    if kind == "comment_join":
        sel = cs.filter(in_range)
        owners = sel.select("id", "user_id")
        return (
            comments_table(sel)
            .join(owners, F.col("comment_changeset_id") == owners["id"])
            .filter(F.col("comment_user_id") != F.col("user_id"))
            .agg(one)
        )
    raise ValueError(kind)


def _as_answer(kind: str, rows):
    if kind == "top_users":
        return [(r[0], r[1]) for r in rows]
    if kind in ("user_stats", "range_stats"):
        return (rows[0][0], rows[0][1])
    return rows[0][0]


def _plan_s(df) -> float:
    """Catalyst analysis + optimization + planning seconds of the query
    execution that ran ``df``."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total / 1000.0


def load_query(ctx) -> dict:
    from changesetmd_spark.sinks.store import ChangesetStore

    ops, tr, work = ctx.ops, ctx.tracer, ctx.work
    gen = Generator(ctx.seed, START, DUMP_DAYS)
    dump = gen.dump(DUMP_CHANGESETS, MALFORMED)
    dump_path = os.path.join(work, "dump.osm")
    write_osm(dump_path, dump)
    diff_dir = os.path.join(work, "diffs")
    os.makedirs(diff_dir)
    start_seq = 5_000_000
    diffs = [gen.next_diff() for _ in range(CATCHUP_DIFFS * (ROUNDS + 1))]
    diff_bytes = [  # gzipped bytes per diff
        write_osm(os.path.join(diff_dir, f"{start_seq + i:09d}.osm.gz"), diff)
        for i, diff in enumerate(diffs, 1)
    ]
    model = Model(dump)  # follows the main store, catch-up by catch-up

    def fetcher(seq: int) -> str:
        return os.path.join(diff_dir, f"{seq:09d}.osm.gz")

    queries = _query_instances(ctx.seed, gen, 5000)
    ctx.log("inputs written")
    written: list[tuple[int, int]] = []  # (parquet files, bytes) per traced load

    def load(tag: str):
        store = ChangesetStore(ctx.spark, os.path.join(work, f"store-{tag}"))
        store.create()
        _set_group(ctx, f"load_query:bulk_load:{tag}")
        t0 = time.perf_counter()
        n = store.bulk_load(dump_path, start_sequence=start_seq)
        dt_s = time.perf_counter() - t0
        ops.check("bulk_load rows", n == len(dump), f"{n} != {len(dump)}")
        if tr is not None:
            written.append((_parquet_files(store.table_dir), _dir_bytes(store.table_dir)))
        return store, dt_s

    def drop(store) -> None:
        shutil.rmtree(store.root, ignore_errors=True)

    def catch_up(store, k: int):
        """Apply diffs (k-1)*K+1 .. k*K; returns seconds and layer counts."""
        layer = {}
        if tr is not None:
            before = _partition_inodes(store.table_dir)
        _set_group(ctx, f"load_query:replicate:{k}")
        t0 = time.perf_counter()
        applied = store.replicate(start_seq + k * CATCHUP_DIFFS, fetcher)
        dt_s = time.perf_counter() - t0
        ops.check("replicate diffs", applied == CATCHUP_DIFFS, str(applied))
        for diff in diffs[(k - 1) * CATCHUP_DIFFS : k * CATCHUP_DIFFS]:
            model.apply(diff)
        if tr is not None:
            after = _partition_inodes(store.table_dir)
            changed = [p for p, ino in after.items() if before.get(p) != ino]
            layer["partitions_rewritten"] = len(changed)
            layer["bytes_rewritten_per_diff_byte"] = sum(
                _dir_bytes(os.path.join(store.table_dir, p)) for p in changed
            ) / sum(diff_bytes[(k - 1) * CATCHUP_DIFFS : k * CATCHUP_DIFFS])
        return dt_s, layer

    qi = 0

    def read(cs, n: int, seconds: float = 0.0) -> tuple[list, list]:
        """Issue the next queries of the closed loop: at least ``n``, and
        for at least ``seconds`` (never past 3 x ``seconds``); returns
        their latencies and Catalyst planning times."""
        nonlocal qi
        lat, plans = [], []
        first, t_start = qi, time.perf_counter()
        while qi - first < n or time.perf_counter() - t_start < seconds:
            if seconds and time.perf_counter() - t_start > 3 * seconds:
                break
            kind, params = queries[qi % len(queries)]
            qi += 1
            _set_group(ctx, f"load_query:query:{kind}")
            t0 = time.perf_counter()
            try:
                df = read_query(cs, kind, params)
                with ctx.span("spark.collect"):
                    got = _as_answer(kind, df.collect())
            except Exception as e:  # noqa: BLE001 — a failed query is a failed op
                ops.check(f"query {kind}{params}", False, repr(e))
                continue
            lat.append(time.perf_counter() - t0)
            plans.append(_plan_s(df) if tr is not None else None)
            want = model.answer(kind, params)
            ops.check(f"query {kind}{params}", got == want, f"{got!r} != {want!r}")
        return lat, plans

    # set-up: a cold round as every CLI invocation pays it -- a bulk_load
    # into the main store the rounds catch up, one catch-up, and one pass
    # over the read mix, whose latencies are highest while the JIT compiles
    # each read path
    store, cold_load = load("main")
    cold_catchup, _ = catch_up(store, 1)
    read(store.changesets(), READ_WARMUP)
    ctx.log(f"cold round: bulk_load {cold_load:.2f}s replicate {cold_catchup:.2f}s")
    ctx.ready()

    # measured: ROUNDS rounds of (bulk_load into a fresh store, catch-up of
    # the main store, reads against the re-opened main store).  Interleaving
    # spreads a burst of host noise over all three kinds of sample, where the
    # medians reject it, instead of letting it cover one kind whole
    ctx.mark_start()
    loads, catchups, layers, lat, plans = [], [], [], [], []
    for r in range(ROUNDS):
        scratch, t_load = load(f"round{r}")
        drop(scratch)
        loads.append(t_load)
        t_rep, layer = catch_up(store, r + 2)
        catchups.append(t_rep)
        layers.append(layer)
        got_lat, got_plans = read(
            store.changesets(), -(-MIN_QUERIES // ROUNDS), ctx.seconds / ROUNDS
        )
        lat += got_lat
        plans += got_plans
    ctx.mark_end()
    ctx.log(f"warm bulk_load {loads} replicate {catchups}")

    # correctness of the final table (after every diff) against the model
    _set_group(ctx, "load_query:check")
    got = _table_summary(store.changesets())
    want = model.state_summary()
    ops.check("store state", got == want, f"{got} != {want}")

    e2e = {
        "ingest_changesets_per_s": len(dump) / statistics.median(loads),
        "diff_s": statistics.median(catchups) / CATCHUP_DIFFS,
        "op_s_p50": _p(lat, 0.5),
        "op_s_p90": _p(lat, 0.9),
        "ops_measured": len(lat),
        "samples": {
            "cold_bulk_load_s": cold_load,
            "cold_catchup_s": cold_catchup,
            "bulk_load_s": loads,
            "catchup_s": catchups,
        },
    }
    layer = {}
    if tr is not None:
        layer.update(_load_query_layers(ctx, dump_path, written, layers, plans))
    return {"e2e": e2e, "layer": layer}


def _partition_inodes(table_dir: str) -> dict[str, int]:
    return {
        d: os.stat(os.path.join(table_dir, d)).st_ino
        for d in os.listdir(table_dir)
        if "=" in d
    }


def _load_query_layers(ctx, dump_path, written, catchups, plans) -> dict:
    from pyspark.sql import functions as F

    from changesetmd_spark.sources.xml_source import (
        normalize_changesets,
        read_changeset_xml,
    )

    tr = ctx.tracer
    t0, t1 = ctx.window
    # parse alone: XML scan -> normalize into a noop sink, best of two
    parse = []
    for _ in range(2):
        _set_group(ctx, "load_query:parse_noop")
        a = time.perf_counter()
        normalize_changesets(read_changeset_xml(ctx.spark, dump_path)).write.format(
            "noop"
        ).mode("overwrite").save()
        parse.append(time.perf_counter() - a)
    parse_s = min(parse)
    parsed = normalize_changesets(read_changeset_xml(ctx.spark, dump_path))
    n_rows = parsed.count()
    quarantined = parsed.filter(F.col("id").isNull()).count()
    # the window holds only the warm samples (the cold round is set-up)
    med = statistics.median
    bulk = med(tr.durations("sinks.store.bulk_load", t0, t1))
    return {
        "sources.xml_source.parse_s": parse_s,
        "sources.xml_source.rows_per_s": n_rows / parse_s,
        "sources.xml_source.quarantined_rows": quarantined,
        "sources.replication.read_batch_s": med(
            tr.durations("sources.replication.read_batch", t0, t1)
        ),
        "sinks.upsert.upsert_s": med(tr.durations("sinks.upsert.upsert", t0, t1)),
        "sinks.upsert.partitions_rewritten": med(
            c["partitions_rewritten"] for c in catchups
        ),
        "sinks.upsert.bytes_rewritten_per_diff_byte": med(
            c["bytes_rewritten_per_diff_byte"] for c in catchups
        ),
        "sinks.store.bulk_load_s": bulk,
        "sinks.store.write_s": bulk - parse_s,
        "sinks.store.bytes_per_changeset": med(b for _, b in written) / n_rows,
        "sinks.store.files_written": med(f for f, _ in written),
        "catalyst.query_plan_s_p50": _p(plans, 0.5),
    }


# ---------------------------------------------------------------------------
# replicate


def _drop_diffs(src_dir: str, diffs: list, first_seq: int) -> None:
    """Write diffs as ``NNNNNNNNN.osm.gz`` with strictly increasing mtimes
    (the file source's in-order delivery contract)."""
    base = time.time() - 10_000
    for k, diff in enumerate(diffs):
        seq = first_seq + k
        path = os.path.join(src_dir, f"{seq:09d}.osm.gz")
        write_osm(path, diff)
        os.utime(path, (base + seq, base + seq))


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else dict(p)
        if d.get("numInputRows", 0) > 0 and "addBatch" in d.get("durationMs", {}):
            out.append(d)
    return out


def replicate(ctx) -> dict:
    from changesetmd_spark.sinks.txn_table import TxnTable
    from changesetmd_spark.streaming.replication_stream import (
        run_replication_stream_txn,
    )

    ops, tr, work = ctx.ops, ctx.tracer, ctx.work
    gen = Generator(ctx.seed, START, BASE_DAYS)
    base = gen.dump(BASE_CHANGESETS)
    base_path = os.path.join(work, "base.parquet")
    write_base_parquet(base_path, base, sequence=0)
    diffs = [gen.next_diff() for _ in range(WARMUP_DIFFS + DRAIN_DIFFS)]
    src = os.path.join(work, "src")
    os.makedirs(src)
    table_dir = os.path.join(work, "table")
    ckpt = os.path.join(work, "ckpt")
    table = TxnTable(ctx.spark, table_dir, partition_source="created_at")

    ctx.log("inputs written")
    _set_group(ctx, "replicate:base_load")
    t0 = time.perf_counter()
    table.overwrite(ctx.spark.read.parquet(base_path))
    load_s = time.perf_counter() - t0
    ctx.log(f"base table loaded in {load_s:.2f}s")

    def drain(first: int, n: int, group: str):
        _drop_diffs(src, diffs[first : first + n], first + 1)
        _set_group(ctx, group)
        a = time.perf_counter()
        q = run_replication_stream_txn(
            ctx.spark, src, table_dir, ckpt,
            max_files_per_trigger=1, compact_every=COMPACT_EVERY,
        )
        wall = time.perf_counter() - a
        exc = q.exception()
        ops.check(f"{group} stream", exc is None, str(exc))
        prog = _progress(q)
        ops.check(f"{group} triggers", len(prog) == n, f"{len(prog)} != {n}")
        return wall, prog

    drain(0, WARMUP_DIFFS, "replicate:warmup")
    ctx.ready()

    v_before = table.current_version()
    dirs_before = set(os.listdir(os.path.join(table_dir, "data")))
    ctx.mark_start()
    wall, prog = drain(WARMUP_DIFFS, DRAIN_DIFFS, "replicate:drain")
    ctx.mark_end()

    model = Model(base)
    for diff in diffs:
        model.apply(diff)
    want = model.state_summary()
    _set_group(ctx, "replicate:check")
    got = _table_summary(table.read())
    ops.check("txn state", got == want, f"{got} != {want}")
    ops.check("one row per key", got[0] == got[1], f"{got[0]} rows, {got[1]} keys")

    layer = {}
    if tr is not None:
        layer = _replicate_layers(ctx, table, prog, v_before, dirs_before)

    table.compact()
    table.vacuum(keep_versions=1, retention_seconds=0)
    got2 = _table_summary(table.read())
    ops.check("txn state after compact+vacuum", got2 == want, f"{got2} != {want}")

    trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in prog]
    e2e = {
        # the initial import that replication starts from: the base
        # changesets through TxnTable.overwrite (set-up, the first write of
        # the JVM, so one cold sample)
        "ingest_changesets_per_s": len(base) / load_s,
        "diff_s": wall / DRAIN_DIFFS,
        "op_s_p50": _p(trig, 0.5),
        "op_s_p90": _p(trig, 0.9),
        "ops_measured": len(trig),
        "samples": {"trigger_s": trig, "base_load_s": load_s},
    }
    return {"e2e": e2e, "layer": layer}


def _replicate_layers(ctx, table, prog, v_before, dirs_before) -> dict:
    tr = ctx.tracer
    t0, t1 = ctx.window
    data = os.path.join(table.path, "data")
    new_dirs = set(os.listdir(data)) - dirs_before
    written = sum(_dir_bytes(os.path.join(data, x)) for x in new_dirs)
    live = table.history()[-1]["partitions"]
    trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in prog]
    add = [p["durationMs"]["addBatch"] / 1e3 for p in prog]
    merges = tr.durations("sinks.txn_table.merge", t0, t1)
    compacts = tr.durations("sinks.txn_table.compact", t0, t1)
    return {
        "sinks.txn_table.merge_s_p50": _p(merges, 0.5),
        "sinks.txn_table.commits": table.current_version() - v_before,
        "sinks.txn_table.conflict_retries": tr.counts["txn_commit_lost"],
        "sinks.txn_table.bytes_written_per_diff": written / DRAIN_DIFFS,
        "sinks.txn_table.compact_s": statistics.mean(compacts) if compacts else 0.0,
        "sinks.txn_table.live_dirs": sum(len(v) for v in live.values()),
        "streaming.trigger_s_p50": _p(trig, 0.5),
        "streaming.add_batch_s_p50": _p(add, 0.5),
        "streaming.overhead_s_p50": _p([a - b for a, b in zip(trig, add)], 0.5),
    }


WORKLOADS = {"load_query": load_query, "replicate": replicate}
