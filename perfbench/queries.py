"""``query_llm_ops``: one closed-loop client runs a fixed list of registered
rows (``queries.QUERIES``) over tables generated from the seed.

Per run: the cold session start (JVM launch up to a first finished job),
one warm-up (Python workers, the streaming fixture) and the cold BM25 index
build of ``plans.materialize``, which together make ``setup_s``; a check
pass that runs each row once against its DuckDB oracle through
``tools.selfcheck.check_queries``; then timed closed-loop passes until
``--seconds`` have passed (at least three).
A timed execution is ``QUERIES[row](spark, data)`` plus the noop write that
runs its full plan, as in ``bench.py``; a row's latency is its best timed
execution. The check pass also takes each row's first-execution costs
(codegen, JIT) out of the timed passes.
"""

from __future__ import annotations

import contextlib
import statistics
import sys
import time

import datagen
from common import (
    JobCounter,
    engine_config,
    start_session,
    tail,
    warm_python_workers,
)

#: rows of ``query_llm_ops``: iterative, job-heavy operators (graph,
#: dedup, the materialized BM25 index) and a stateful streaming row (a
#: watermarked stream-stream join). The other rows named for this workload
#: are left out: with them a run does not fit the benchmark's time budget
#: (see NOTES.md).
LLM_OPS = (
    "graph_pagerank_topk",
    "dedup_connected_components",
    "dedup_decontaminate_semantic",
    "text_bm25_read_topk",
    "streaming_stream_stream_join",
)
#: the smallest table sizes of the generator: the rows' per-job and
#: per-stage overhead dominates, not their per-row operator cost (NOTES.md)
SCALE = 0.001
#: timed passes at least, so each row has a best of three
MIN_PASSES = 3


def _cold_session(root, cpus_: int, tracer):
    """The process's first session: JVM launch up to its first finished
    job. Returns (spark, seconds)."""
    cfg = engine_config(root, f"local[{cpus_}]")
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark, _ = start_session(cfg)
        spark.range(1000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def _warm_up(spark, data: str, tracer) -> float:
    """The Python workers and the streaming row's file-source copy of
    events: harness set-up, as in bench.py, not operator cost."""
    from go_nats_to_clickhouse_spark.queries.streaming import _events_stream

    with tracer.span("session.warmup"):
        t0 = time.perf_counter()
        warm_python_workers(spark)
        _events_stream(spark, data)
        return time.perf_counter() - t0


def _cold_bm25_build(data, spark, tracer) -> float:
    """The BM25 inverted index's cold build (``plans.materialize``)."""
    from go_nats_to_clickhouse_spark.plans.materialize import bm25_tables

    with tracer.span("plans.materialize.bm25_build"):
        t0 = time.perf_counter()
        bm25_tables(spark, data)
        return time.perf_counter() - t0


class _StreamListener:
    """Collects the run ids of the streaming queries a row starts (their
    jobs run under the run id's job group, not the row's) and the state-store
    metrics of their progress."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.ops: list = []
        self.run_ids: list[str] = []

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                outer.ops.extend(event.progress.stateOperators)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = L()


def _check_pass(spark, data: str, rows) -> tuple[float, list[str]]:
    """Every row's first execution, checked against its DuckDB oracle by
    ``tools.selfcheck.check_queries`` (its report goes to stderr). Returns
    (seconds, the rows that failed)."""
    from tools.selfcheck import check_queries, make_oracle_connection

    t0 = time.perf_counter()
    with contextlib.redirect_stdout(sys.stderr):  # keep stdout for the result
        failed = check_queries(spark, make_oracle_connection(data), data, rows)
    return time.perf_counter() - t0, failed


def run(root, seed: int, seconds: int, tracer, cpus_: int, rows=LLM_OPS) -> dict:
    from go_nats_to_clickhouse_spark.queries import QUERIES

    data = root.sub("data")
    datagen.generate(data, seed, SCALE)
    spark, start_s = _cold_session(root, cpus_, tracer)
    warmup_s = _warm_up(spark, data, tracer)
    builds = {"bm25": _cold_bm25_build(data, spark, tracer)}
    check_s, failed_checks = _check_pass(spark, data, rows)
    n_failed = len(failed_checks)
    failed = dict.fromkeys(failed_checks, "differs from its oracle or raised (see stderr)")

    counter = JobCounter(spark) if tracer.enabled else None
    state = None
    if tracer.enabled:
        state = _StreamListener()
        spark.streams.addListener(state.listener)
    lat: dict[str, list[float]] = {r: [] for r in rows}
    per_row: dict[str, dict] = {}
    passes = []
    t_window = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_window < seconds:
        p0 = time.perf_counter()
        for row in rows:
            group = f"pb-{row}-{len(passes)}"
            n_runs = len(state.run_ids) if state else 0
            ctx = counter.group(group) if counter else contextlib.nullcontext()
            with tracer.span("queries.row", row=row, pass_=len(passes)), ctx:
                t0 = time.perf_counter()
                try:
                    QUERIES[row](spark, data).write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001 - an erroring row is a failure
                    n_failed += 1
                    failed.setdefault(row, f"{type(exc).__name__}: {exc}"[:300])
                lat[row].append(time.perf_counter() - t0)
            if counter and not passes:
                with tracer.bookkeeping():
                    jobs = counter.jobs(group)
                    for run_id in state.run_ids[n_runs:]:
                        jobs += counter.jobs(run_id)
                    per_row[row] = {"jobs": len(jobs), **counter.totals(jobs)}
        passes.append(time.perf_counter() - p0)

    # a row's latency is its best timed execution: a host stall that hits
    # one pass does not move it
    best = sorted(min(v) for v in lat.values())
    tail_v, tail_p, n = tail(best)
    layers = {}
    if tracer.enabled:
        spark.streams.removeListener(state.listener)
        layers = _layers(rows, lat, per_row, start_s, warmup_s, builds, state.ops)
    return {
        "spark": spark,
        "setup_s": start_s + warmup_s + sum(builds.values()),
        "lat_p50_ms": statistics.median(best) * 1000.0,
        "lat_tail_ms": tail_v * 1000.0,
        "throughput_per_s": len(rows) / min(passes),
        "attempted": len(rows) * (1 + len(passes)),
        "failed": n_failed,
        "layers": layers,
        "detail": {
            "check_pass_s": check_s,
            "pass_s": passes,
            "latency_samples": n,
            "latency_tail_percentile": tail_p,
            "session_start_s": start_s,
            "warmup_s": warmup_s,
            "builds_s": builds,
            "failed_rows": failed,
            "row_s": lat,
        },
    }


def _layers(rows, lat, per_row, start_s, warmup_s, builds, state_ops) -> dict:
    out = {"session.start_s": start_s, "session.warmup_s": warmup_s}
    for name, secs in builds.items():
        out[f"plans.materialize.{name}_build_s"] = secs
    for key in JobCounter.KEYS:
        out[f"queries.{key}"] = sum(per_row[r][key] for r in rows)
    for r in rows:
        out[f"queries.{r}.wall_s"] = min(lat[r])
        out[f"queries.{r}.jobs"] = per_row[r]["jobs"]
    out["streaming.state.rows_total"] = max((op.numRowsTotal for op in state_ops), default=0)
    out["streaming.state.memory_bytes"] = max((op.memoryUsedBytes for op in state_ops), default=0)
    out["streaming.state.commit_ms"] = sum(op.commitTimeMs for op in state_ops)
    return out
