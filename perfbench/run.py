"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload ingest_open_loop --seed 1 --seconds 8 --trace 0

Workloads (see BENCHMARK.json and perfbench/NOTES.md):

* ``ingest_open_loop`` - NATS replay source -> raw/union/analytics cascade,
  capacity drain, open-loop latency and warehouse readback;
* ``query_llm_ops`` - five iterative, job-heavy operator rows.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans and Spark counters and prints the per-layer metrics.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``; details and the host record go to stderr.

``--compare A B`` reads two saved stderr detail records and refuses (exit
2) when they come from different core counts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

WORKLOADS = ("ingest_open_loop", "query_llm_ops")

END_TO_END = {
    "setup_s": "s",
    "lat_p50_ms": "ms",
    "lat_tail_ms": "ms",
    "throughput_per_s": "1/s",
    "peak_pss_mb": "MB",
}

_INGEST_LAYERS = {
    "sources.nats.read_amplification": "ratio",
    "sources.nats.latest_offset_ms": "ms",
    "sources.nats.get_batch_ms": "ms",
    "sources.nats.lag_msgs_max": "msg",
    "loadgen.late_ms": "ms",
    **{f"streaming.pipeline.{k}.{phase}": u
       for phase in ("nominal", "capacity")
       for k, u in (("trigger_ms", "ms"), ("add_batch_ms", "ms"),
                    ("rows_per_trigger", "msg"))},
    "streaming.pipeline.query_planning_ms": "ms",
    "streaming.pipeline.wal_commit_ms": "ms",
    "streaming.pipeline.commit_offsets_ms": "ms",
    "streaming.pipeline.first_trigger_ms": "ms",
    "streaming.pipeline.jobs_per_trigger": "count",
    "streaming.pipeline.stages_per_trigger": "count",
    "streaming.pipeline.tasks_per_trigger": "count",
    "plans.layout.files_written.raw": "count",
    "plans.layout.files_written.all_streams": "count",
    "plans.layout.files_written.analytics": "count",
    "plans.layout.bytes_written": "bytes",
    "catalog.readback.input_bytes": "bytes",
    "catalog.readback_s": "s",
    **{f"catalog.readback.{q}_s": "s" for q in (
        "groupby_sort_prefix", "point_message_id", "point_chat_id", "ym_range")},
    "ingest.local1.capacity_msgs_per_s": "msg/s",
}


def _query_layers() -> dict[str, str]:
    from queries import LLM_OPS

    out = {f"plans.materialize.{b}_build_s": "s" for b in ("bm25",)}
    out.update({
        "queries.stages": "count", "queries.tasks": "count",
        "queries.input_bytes": "bytes", "queries.shuffle_read_bytes": "bytes",
        "queries.shuffle_write_bytes": "bytes", "queries.spill_bytes": "bytes",
    })
    for row in LLM_OPS:
        out[f"queries.{row}.wall_s"] = "s"
        out[f"queries.{row}.jobs"] = "count"
    out.update({"streaming.state.rows_total": "count",
                "streaming.state.memory_bytes": "bytes",
                "streaming.state.commit_ms": "ms"})
    return out


def per_layer() -> dict[str, str]:
    """Every per-layer metric; a layer a workload does not run reads 0."""
    return {
        "session.start_s": "s",
        "session.warmup_s": "s",
        **_INGEST_LAYERS,
        **_query_layers(),
        "trace.overhead_s": "s",
        "trace.overhead_share": "share",
    }


def _host(log_path: str) -> dict:
    """The host record of a run's detail line in its saved stderr log."""
    with open(log_path, encoding="utf-8") as fh:
        for line in reversed(fh.read().splitlines()):
            if line.startswith('{"workload"'):
                return json.loads(line)["host"]
    raise SystemExit(f"{log_path}: no detail record")


def _compare(a: str, b: str) -> int:
    recs = [_host(a), _host(b)]
    if recs[0]["spark_graft_cpus"] != recs[1]["spark_graft_cpus"] or recs[0]["nproc"] != recs[1]["nproc"]:
        common.log(f"refusing to compare runs across core counts: {recs[0]} vs {recs[1]}")
        return 2
    common.log("same host shape: comparable")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description="pyspark-stream-analytics benchmark")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar=("DETAIL_A", "DETAIL_B"))
    a = ap.parse_args()
    if a.compare:
        return _compare(*a.compare)
    if a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(common.REPO, "go_nats_to_clickhouse_spark")):
        common.log("run from the repository root: the engine package is missing")
        return 2
    sys.path.insert(0, common.REPO)

    tracer = common.Tracer(enabled=bool(a.trace))
    root = common.RunRoot(a.workload)
    cpus = common.cpus()
    result = None
    spark = None
    try:
        t0 = time.perf_counter()
        with common.MemSampler() as mem:
            if a.workload == "ingest_open_loop":
                import ingest

                result = ingest.run(root, a.seed, a.seconds, tracer, cpus)
            else:
                import queries

                result = queries.run(root, a.seed, a.seconds, tracer, cpus)
            spark = result.pop("spark")
            mem.sample()
        wall = time.perf_counter() - t0
    finally:
        if spark is not None:
            spark.stop()
        common.shutdown_jvm()
        root.close()

    if a.trace:
        layers = dict.fromkeys(per_layer(), 0)
        layers.update(result["layers"])
        layers["trace.overhead_s"] = tracer.overhead_s
        layers["trace.overhead_share"] = tracer.overhead_s / wall
        units = per_layer()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items() if k in units}
        tracer.write(os.path.join(common.REPO, ".perfbench_out",
                                  f"trace-{a.workload}-{a.seed}.json"))
    else:
        vals = {**{k: result[k] for k in END_TO_END if k in result},
                "peak_pss_mb": mem.peak_mb}
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "host": common.host_record(), "wall_s": wall,
        "peak_pss_kb_by_process": mem.peak_by_kind,
        "end_to_end": {k: result.get(k) for k in END_TO_END if k in result},
        **result["detail"],
    }
    common.log(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
