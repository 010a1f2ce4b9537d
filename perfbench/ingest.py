"""``ingest_open_loop``: the paper's own path, NATS -> raw / union / analytics.

One streaming query (``streaming.pipeline.start_pipeline``, back-to-back
triggers, fixed ``maxRecordsPerTrigger``) reads the replay file that a
separate load-generator process appends to. Three phases, no query
operators:

* capacity: a pre-written backlog drains in full batches; capacity is
  messages admitted per second of trigger time over the steady triggers
  (every trigger but the query's first);
* nominal: an open loop at a fixed rate well below capacity; each message
  is timed from its due time to its batch's commit
  (``progress.timestamp + durationMs.triggerExecution``);
* readback: a fixed SQL set over the warehouse this run wrote, through
  ``catalog.register_warehouse``.

The checks (every sequence exactly once in union and analytics, analytics
equal to ``analytics_projection(union)``, readback answers equal to the
generated messages) run after the timed phases.
"""

from __future__ import annotations

import ast
import datetime as dt
import json
import os
import statistics
import subprocess
import sys
import time

from common import (
    JobCounter,
    engine_config,
    log,
    percentile,
    start_session,
    tail,
)

HERE = os.path.dirname(os.path.abspath(__file__))
#: messages admitted per trigger (the reference batches 1000; main.go:26)
MAX_PER_TRIGGER = 2_000
#: full batches in the capacity backlog; the first is not steady
BACKLOG_BATCHES = 4
#: open-loop rate in messages/second: about a fifth of the capacity measured
#: on a 4-core host, so the backlog stays empty between triggers
NOMINAL_RATE = 200
SETUP_CYCLES = 3
READBACK = ("groupby_sort_prefix", "point_message_id", "point_chat_id", "ym_range")


def _source(spark, replay: str, cpus_: int):
    return (
        spark.readStream.format("nats-jetstream")
        .option("replayFile", replay)
        .option("subjects", "globex.>")
        .option("maxRecordsPerTrigger", MAX_PER_TRIGGER)
        .option("partitions", cpus_)
        .load()
    )


def _loadgen(replay, seed, first_seq, count, rate, start=0.0):
    cmd = [sys.executable, os.path.join(HERE, "loadgen.py"), "--out", replay,
           "--seed", str(seed), "--first-seq", str(first_seq),
           "--count", str(count), "--rate", str(rate), "--start", repr(start)]
    return subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)


def _finish(proc) -> dict:
    out, _ = proc.communicate(timeout=120)
    if proc.returncode != 0:
        raise RuntimeError(f"load generator exited with {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def _seq(offset) -> int:
    """The source offset's sequence. Progress read back from JSON renders
    offsets as Python dict text, progress from the JVM as JSON."""
    if not offset or offset == "None":
        return 0
    try:
        return int(json.loads(offset)["seq"])
    except ValueError:
        return int(ast.literal_eval(offset)["seq"])


def _end_seq(progress) -> int:
    return _seq(progress.sources[0].endOffset)


def _start_seq(progress) -> int:
    return _seq(progress.sources[0].startOffset)


def _commit_time(progress) -> float:
    started = dt.datetime.fromisoformat(progress.timestamp.replace("Z", "+00:00"))
    return started.timestamp() + progress.durationMs["triggerExecution"] / 1000.0


def _batches(query) -> list:
    """Progress of every trigger that admitted messages, in order."""
    seen, out = set(), []
    for p in query.recentProgress:
        if p.batchId in seen or _end_seq(p) <= _start_seq(p):
            continue
        seen.add(p.batchId)
        out.append(p)
    return sorted(out, key=lambda p: p.batchId)


def _wait_committed(query, seq: int, timeout: float) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"ingest query failed: {query.exception()}")
        last = query.lastProgress
        # progress is published after the trigger's batch has committed
        if last is not None and _end_seq(last) >= seq:
            return
        time.sleep(0.02)
    raise TimeoutError(f"ingest query did not commit through sequence {seq}")


def _session(root, master: str, run_dir: str, tracer):
    from go_nats_to_clickhouse_spark.sources.nats import NatsDataSource

    cfg = engine_config(root, master, run_dir)
    with tracer.span("session.get_spark", master=master):
        spark, t_start = start_session(cfg)
    spark.dataSource.register(NatsDataSource)
    return spark, cfg, t_start


def _start(spark, cfg, cpus_: int, backlog: int, seed: int, name: str, tracer):
    """Write a backlog of ``backlog`` messages, start a pipeline query over
    it and wait for its first commit. Returns (query, replay path, seconds
    from ``start_pipeline`` to the first commit)."""
    from go_nats_to_clickhouse_spark.streaming.pipeline import start_pipeline

    replay = os.path.join(os.path.dirname(cfg.warehouse_dir), "replay.jsonl")
    _finish(_loadgen(replay, seed, 1, backlog, 0.0))
    t0 = time.perf_counter()
    with tracer.span("streaming.pipeline.start_pipeline", query=name):
        q = start_pipeline(spark, cfg, _source(spark, replay, cpus_),
                           query_name=name, trigger_seconds=0)
        _wait_committed(q, 1, timeout=150)
    return q, replay, time.perf_counter() - t0


def _setup(root, cpus_: int, seed: int, tracer):
    """Session start, then SETUP_CYCLES pipeline starts, each timed from
    ``start_pipeline`` to its first commit. The first ones are warm-up
    queries over one batch each (cold workers, codegen, JIT); the last is
    the measured query over the capacity backlog, which keeps running.
    Returns (spark, cfg, query, replay, start seconds per cycle, session
    start seconds, the cold first trigger's ms)."""
    spark, cfg, t_session = _session(root, f"local[{cpus_}]", "ingest", tracer)
    cycles, first_ms = [], None
    for cycle in range(SETUP_CYCLES - 1):
        warm = engine_config(root, cfg.master, f"warm{cycle}")
        q, _, secs = _start(spark, warm, cpus_, MAX_PER_TRIGGER, 10_000 + cycle,
                            f"warm{cycle}", tracer)
        first_ms = first_ms or q.lastProgress.durationMs["triggerExecution"]
        q.stop()
        q.awaitTermination(60)
        cycles.append(secs)
    q, replay, secs = _start(spark, cfg, cpus_, MAX_PER_TRIGGER * BACKLOG_BATCHES,
                             2 * seed, "ingest", tracer)
    cycles.append(secs)
    return spark, cfg, q, replay, cycles, t_session, first_ms


def _drain(q, replay, seed, backlog, rate, seconds):
    """On a running query: the rest of the capacity backlog, then (when
    ``rate``) the nominal open-loop phase. Stops the query. Returns
    (progress of each trigger that admitted messages, loadgen report,
    nominal schedule, run id)."""
    schedule, report = None, {}
    try:
        _wait_committed(q, backlog, timeout=150)
        if rate:
            count = int(rate * seconds)
            start = time.time() + 0.2
            gen = _loadgen(replay, 2 * seed + 1, backlog + 1, count, rate, start)
            try:
                report = _finish(gen)
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
            schedule = (start, backlog, count)
            _wait_committed(q, backlog + count, timeout=120)
        batches = _batches(q)
        run_id = str(q.runId)
    finally:
        q.stop()
        q.awaitTermination(60)
    return batches, report, schedule, run_id


def _capacity(steady) -> float:
    """Messages per second of trigger time: the median over steady triggers,
    so one trigger stalled by the host does not move it."""
    return statistics.median([(_end_seq(b) - _start_seq(b)) * 1000.0 / b.durationMs["triggerExecution"]
                   for b in steady])


def _phase_stats(batches) -> dict:
    trig = [b.durationMs["triggerExecution"] for b in batches]
    add = [b.durationMs.get("addBatch", 0) for b in batches]
    rows = [_end_seq(b) - _start_seq(b) for b in batches]
    return {"trigger_ms": statistics.median(trig), "add_batch_ms": statistics.median(add),
            "rows_per_trigger": statistics.median(rows)}


def _latencies(batches, schedule) -> tuple[list[float], list]:
    start, backlog, count = schedule
    lat, nominal = [], []
    for b in batches:
        lo, hi = max(_start_seq(b), backlog), min(_end_seq(b), backlog + count)
        if hi <= lo:
            continue
        nominal.append(b)
        done = _commit_time(b)
        for seq in range(lo + 1, hi + 1):
            due = start + (seq - backlog - 1) / NOMINAL_RATE
            lat.append((done - due) * 1000.0)
    return lat, nominal


def _read_replay(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def _readback(spark, cfg, msgs, seed, tracer) -> tuple[dict, list[str], dict]:
    """The readback SQL set; returns (seconds per query, failures, bytes)."""
    import random

    from go_nats_to_clickhouse_spark.catalog import register_warehouse

    rng = random.Random(seed)
    probe = msgs[rng.randrange(len(msgs))]
    mid = json.loads(probe["data"])["id"]
    chat = probe["subject"].split(".")[3]
    ts = sorted(m["timestamp_us"] for m in msgs)
    lo_us, hi_us = ts[len(ts) // 4], ts[3 * len(ts) // 4]
    lo, hi = (dt.datetime.fromtimestamp(t / 1e6, dt.timezone.utc) for t in (lo_us, hi_us))
    n_chat = sum(1 for m in msgs if m["subject"].split(".")[3] == chat)
    n_range = sum(1 for t in ts if lo_us <= t <= hi_us)
    users = {tuple(m["subject"].split(".")[:3]) for m in msgs}
    sql = {
        "groupby_sort_prefix": (
            "SELECT client_code, project_code, user_id, count(*) AS n "
            "FROM analitics_data GROUP BY client_code, project_code, user_id",
            lambda rows: len(rows) == len(users) and sum(r.n for r in rows) == len(msgs)),
        "point_message_id": (
            f"SELECT chat_id FROM analitics_data WHERE message_id = '{mid}'",
            lambda rows: [r.chat_id for r in rows] == [chat]),
        "point_chat_id": (
            f"SELECT count(*) AS n FROM analitics_data WHERE chat_id = '{chat}'",
            lambda rows: rows[0].n == n_chat),
        "ym_range": (
            "SELECT count(*) AS n FROM nats_data_all_streams "
            f"WHERE ym BETWEEN {lo:%Y%m} AND {hi:%Y%m} AND timestamp BETWEEN "
            f"TIMESTAMP '{lo:%Y-%m-%d %H:%M:%S.%f}' AND TIMESTAMP '{hi:%Y-%m-%d %H:%M:%S.%f}'",
            lambda rows: rows[0].n == n_range),
    }
    register_warehouse(spark, cfg.warehouse_dir)
    counter = JobCounter(spark)
    secs, failed, read_bytes = {}, [], 0
    for name in READBACK:
        text, ok = sql[name]
        group = f"readback-{name}"
        with tracer.span("catalog.readback", query=name), counter.group(group):
            t0 = time.perf_counter()
            rows = spark.sql(text).collect()
            secs[name] = time.perf_counter() - t0
        if not ok(rows):
            log(f"readback {name}: wrong answer {rows[:3]}")
            failed.append(name)
        if tracer.enabled:
            with tracer.bookkeeping():
                read_bytes += counter.totals(counter.jobs(group))["input_bytes"]
    return secs, failed, {"input_bytes": read_bytes}


def _check_tables(spark, cfg, msgs) -> tuple[int, int, list[str]]:
    """Each sequence exactly once in union and in analytics, and analytics
    equal to analytics_projection(union) as a multiset of row hashes.
    Returns (checks attempted, checks failed, notes): one check per message
    and table, plus the projection check."""
    from collections import Counter

    from pyspark.sql import functions as F

    from go_nats_to_clickhouse_spark.operators.analytics import analytics_projection
    from go_nats_to_clickhouse_spark.streaming.pipeline import (
        ALL_STREAMS_TABLE,
        ANALYTICS_TABLE,
    )

    want = {m["sequence"] for m in msgs}
    union = spark.read.parquet(os.path.join(cfg.warehouse_dir, ALL_STREAMS_TABLE)).drop("ym")
    analytics = spark.read.parquet(os.path.join(cfg.warehouse_dir, ANALYTICS_TABLE)).drop("ym")
    seqs = {
        "union": Counter(r[0] for r in union.select("sequence").collect()),
        "analytics": Counter(int(r[0][4:]) for r in analytics.select("message_id").collect()),
    }
    failed, notes = 0, []
    for name, got in seqs.items():
        bad = sum(1 for s in want if got.get(s) != 1) + sum(1 for s in got if s not in want)
        if bad:
            notes.append(f"{name}: {bad} sequences not exactly once")
        failed += bad
    cols = sorted(analytics.columns)
    expect = analytics_projection(union)

    def fingerprint(df):
        h = F.xxhash64(*[F.col(c) for c in cols])
        return tuple(df.select(h.alias("h")).agg(
            F.count("h"), F.sum(F.col("h").cast("decimal(38,0)"))).collect()[0])

    if sorted(expect.columns) != cols or fingerprint(analytics) != fingerprint(expect):
        notes.append("analytics differs from analytics_projection(union)")
        failed += 1
    return 2 * len(want) + 1, failed, notes


def _files(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def run(root, seed: int, seconds: int, tracer, cpus_: int) -> dict:
    spark, cfg, q, replay, starts, t_session, first_ms = _setup(root, cpus_, seed, tracer)
    backlog = MAX_PER_TRIGGER * BACKLOG_BATCHES
    batches, report, schedule, run_id = _drain(q, replay, seed, backlog, NOMINAL_RATE, seconds)
    cap = [b for b in batches if _end_seq(b) <= backlog][1:]
    capacity = _capacity(cap)
    lat, nominal = _latencies(batches, schedule)
    p50 = percentile(sorted(lat), 50.0)
    tail_v, tail_p, n_lat = tail(lat)
    msgs = _read_replay(replay)
    rb_secs, rb_failed, rb_bytes = _readback(spark, cfg, msgs, seed, tracer)
    attempted, n_failed, failed = _check_tables(spark, cfg, msgs)
    attempted += len(READBACK)
    n_failed += len(rb_failed)
    failed += [f"readback {n}" for n in rb_failed]

    layers = {}
    if tracer.enabled:
        with tracer.bookkeeping():
            layers = _layers(spark, batches, cap, nominal, schedule, report, run_id,
                             rb_secs, rb_bytes, cfg)
            layers["session.start_s"] = t_session
            layers["session.warmup_s"] = starts[0]
            layers["streaming.pipeline.first_trigger_ms"] = first_ms
            _trigger_spans(tracer, batches)
        layers["ingest.local1.capacity_msgs_per_s"] = _local1_baseline(spark, root, seed, tracer)
        spark = None
    detail = {
        "capacity_msgs_per_s": capacity,
        "latency_samples": n_lat,
        "latency_tail_percentile": tail_p,
        "readback_s": sum(rb_secs.values()),
        "loadgen": report,
        "session_start_s": t_session,
        "pipeline_starts_s": starts,
        "trigger_ms": [b.durationMs["triggerExecution"] for b in batches],
        "failed_checks": failed,
    }
    return {
        "spark": spark,
        "setup_s": t_session + statistics.median(starts),
        "lat_p50_ms": p50,
        "lat_tail_ms": tail_v,
        "throughput_per_s": capacity,
        "attempted": attempted,
        "failed": n_failed,
        "layers": layers,
        "detail": detail,
    }


def _trigger_spans(tracer, batches) -> None:
    """One span per trigger, with a child span per ``durationMs`` phase."""
    for b in batches:
        end = _commit_time(b)
        start = end - b.durationMs["triggerExecution"] / 1000.0
        parent = len(tracer.spans)
        tracer.add("streaming.pipeline.trigger", start, end, batch=b.batchId,
                   rows=_end_seq(b) - _start_seq(b))
        for phase, ms in b.durationMs.items():
            if phase != "triggerExecution":
                tracer.add(f"streaming.pipeline.{phase}", start, start + ms / 1000.0,
                           parent=parent)


def _layers(spark, batches, cap, nominal, schedule, report, run_id,
            rb_secs, rb_bytes, cfg) -> dict:
    from go_nats_to_clickhouse_spark.streaming.pipeline import (
        ALL_STREAMS_TABLE,
        ANALYTICS_TABLE,
        RAW_TABLE_PREFIX,
    )

    counter = JobCounter(spark)
    jobs = counter.jobs(run_id)
    tot = counter.totals(jobs)
    n_trig = max(1, len(batches))
    admitted = sum(_end_seq(b) - _start_seq(b) for b in batches)
    start, backlog, count = schedule

    def lag(b):
        sent = min(count, max(0, int((_commit_time(b) - start) * NOMINAL_RATE) + 1))
        return backlog + sent - _end_seq(b)

    def mean_phase(bs, key):
        return sum(b.durationMs.get(key, 0) for b in bs) / max(1, len(bs))

    cap_s, nom_s = _phase_stats(cap), _phase_stats(nominal)
    out = {
        "sources.nats.read_amplification": sum(b.numInputRows for b in batches) / admitted,
        "sources.nats.latest_offset_ms": mean_phase(nominal, "latestOffset"),
        "sources.nats.get_batch_ms": mean_phase(nominal, "getBatch"),
        "sources.nats.lag_msgs_max": max(lag(b) for b in nominal),
        "loadgen.late_ms": report.get("late_ms_max", 0.0),
        "streaming.pipeline.query_planning_ms": mean_phase(nominal, "queryPlanning"),
        "streaming.pipeline.wal_commit_ms": mean_phase(nominal, "walCommit"),
        "streaming.pipeline.commit_offsets_ms": mean_phase(nominal, "commitOffsets"),
        "streaming.pipeline.jobs_per_trigger": len(jobs) / n_trig,
        "streaming.pipeline.stages_per_trigger": tot["stages"] / n_trig,
        "streaming.pipeline.tasks_per_trigger": tot["tasks"] / n_trig,
        "catalog.readback.input_bytes": rb_bytes["input_bytes"],
        "catalog.readback_s": sum(rb_secs.values()),
    }
    for phase, st in (("nominal", nom_s), ("capacity", cap_s)):
        for k, v in st.items():
            out[f"streaming.pipeline.{k}.{phase}"] = v
    for name, s in rb_secs.items():
        out[f"catalog.readback.{name}_s"] = s
    wh = cfg.warehouse_dir
    total_bytes = 0
    for key, table in (("raw", RAW_TABLE_PREFIX.rstrip("_")), ("all_streams", ALL_STREAMS_TABLE),
                       ("analytics", ANALYTICS_TABLE)):
        n, size = _files(os.path.join(wh, table))
        out[f"plans.layout.files_written.{key}"] = n
        total_bytes += size
    out["plans.layout.bytes_written"] = total_bytes
    return out


def _local1_baseline(spark, root, seed, tracer) -> float:
    """The same cascade on one core: capacity over a short backlog."""
    spark.stop()
    spark, cfg, _ = _session(root, "local[1]", "local1", tracer)
    q, replay, _ = _start(spark, cfg, 1, MAX_PER_TRIGGER * 3, 2 * seed, "local1", tracer)
    batches, *_ = _drain(q, replay, seed, MAX_PER_TRIGGER * 3, 0, 0)
    spark.stop()
    return _capacity(batches[1:])
