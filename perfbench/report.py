"""Turn what a workload measured into the benchmark's metrics."""

from __future__ import annotations

import json
import math
import os
import sys
import time

from phases import replay_ingest, replay_read_arrow, replay_time_ns
from probes import median
from spans import LAYER

SELF_LAYERS = (
    "session", "plans.selector", "plans.logquery", "plans.render",
    "sources.arrow_ipc.read", "sources.cri", "sources.logs.write",
    "sources.arrow_ipc.write", "functions.time_ns", "streaming.ingest",
)


def _m(value: float, unit: str) -> dict:
    # a metric with no samples (its operations failed) reads 0 so the
    # result line stays valid JSON; the failures are counted already
    value = float(value)
    return {"value": value if math.isfinite(value) else 0.0, "unit": unit}


def end_to_end(b, m) -> dict:
    """Every end-to-end metric (peak RSS is added once the JVM is gone)."""
    q = [r.latency_ms for r in m.queries]
    out = {
        "setup_s": _m(m.setup_s, "s"),
        "ingest_lines_per_s": _m(m.lines_per_s, "lines/s"),
        "epoch_p50_ms": _m(median(m.epoch_ms), "ms"),
        "lake_bytes_per_input_byte": _m(m.lake_ratio, "ratio"),
        "query_p50_ms": _m(median(q), "ms"),
        "first_line_p50_ms": _m(median([r.first_line_ms for r in m.queries]), "ms"),
        "tail_query_p50_ms": _m(median([r.latency_ms for r in m.tail_queries]), "ms"),
    }
    print(f"[perfbench] samples: epochs {len(m.epoch_ms)}, queries {len(q)}, "
          f"tail queries {len(m.tail_queries)}", file=sys.stderr)
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(b, m) -> dict:
    """Per-layer counters of the traced run, the batch-mode replays, each
    layer's self time and the tracing overhead."""
    qs = m.queries
    scanned = [r for r in qs if r.scan]
    arrow_q = [r for r in scanned if r.spec.fmt in ("arrow", "both")]
    replay = replay_ingest(b, m.replay_rounds, m.replay_cluster)
    arrow = [replay_read_arrow(b, m.lake_root) for _ in range(2)]
    parse_rate, fmt_rate = replay_time_ns(b, b.p["time_ns_rows"])
    render_s = sum(r.render_ms for r in qs) / 1000
    lines_out = sum(replay["lines_out"])
    out = {
        "session.start_ms": _m(b.session_ms, "ms"),
        "selector.parse_us": _m(median([r.selector_us for r in qs]), "us"),
        "logquery.plan_ms": _m(median([r.plan_ms for r in qs]), "ms"),
        "logquery.jobs_before_render": _m(_mean(r.jobs_plan for r in qs), "count"),
        "logs.files_read_per_query": _m(_mean(
            r.scan["parquet_files"] + r.scan["arrow_files"] for r in scanned), "count"),
        "logs.partitions_read_per_query": _m(_mean(
            r.scan["parquet_partitions"] for r in scanned), "count"),
        "logs.rows_scanned_per_row_returned": _m(
            sum(r.scan["parquet_rows"] + r.scan["arrow_rows"] for r in scanned)
            / max(1, sum(r.rows for r in scanned)), "ratio"),
        "arrow_read.ms_per_query": _m(median([ms for ms, _ in arrow]), "ms"),
        "arrow_read.files_decoded_per_query": _m(_mean(
            r.scan["arrow_files"] for r in arrow_q) if arrow_q else arrow[0][1], "count"),
        "render.first_line_ms": _m(median([r.render_first_ms for r in qs]), "ms"),
        "render.lines_per_s": _m(sum(r.rows for r in qs) / render_s if render_s else 0, "lines/s"),
        "render.jobs_per_query": _m(_mean(r.jobs_render for r in qs), "count"),
        "time_ns.format_rows_per_s": _m(fmt_rate, "rows/s"),
        "time_ns.parse_rows_per_s": _m(parse_rate, "rows/s"),
        "cri.parse_ms_per_epoch": _m(median(replay["parse_ms"]), "ms"),
        "cri.lines_in": _m(sum(replay["lines_in"]), "count"),
        "cri.lines_out": _m(lines_out, "count"),
        "cri.rejected": _m(sum(replay["rejected"]), "count"),
        "logs.parquet_write_ms_per_epoch": _m(median(replay["pq_ms"]), "ms"),
        "logs.parquet_files_per_epoch": _m(_mean(replay["pq_files"]), "count"),
        "logs.parquet_bytes_per_line": _m(sum(replay["pq_bytes"]) / lines_out, "B/line"),
        "arrow_write.ms_per_epoch": _m(median(replay["ar_ms"]), "ms"),
        "arrow_write.files_per_epoch": _m(_mean(replay["ar_files"]), "count"),
        "arrow_write.bytes_per_line": _m(sum(replay["ar_bytes"]) / lines_out, "B/line"),
        "ingest.add_batch_ms": _m(median(m.add_batch_ms), "ms"),
        "ingest.trigger_overhead_ms": _m(median(
            [t - a for t, a in zip(m.epoch_ms, m.add_batch_ms)]), "ms"),
        "ingest.jobs_per_epoch": _m(m.jobs_per_epoch, "count"),
        "ingest.backlog_files": _m(_mean(m.backlog_files), "count"),
        "traced.query_p50_ms": _m(median([r.latency_ms for r in qs]), "ms"),
        "traced.epoch_p50_ms": _m(median(m.epoch_ms), "ms"),
        "trace.instrument_ms_per_query": _m(b.instrument_s * 1000 / max(1, len(qs)), "ms"),
    }
    ops: dict[str, set] = {}  # layer → operations that called it
    for s in b.tracer.spans:
        if s["name"] in LAYER:
            ops.setdefault(LAYER[s["name"]], set()).add(s["op"])
    self_ms = b.tracer.self_ms_by_layer()
    for layer in SELF_LAYERS:
        out[f"self_ms.{layer}"] = _m(
            self_ms.get(layer, 0.0) / max(1, len(ops.get(layer, ()))), "ms")
    return out


def write_out(b, m, metrics: dict, rss_split: dict) -> None:
    """Spans and the run summary, written once at the end of the run."""
    os.makedirs(b.out_dir, exist_ok=True)
    stem = os.path.join(b.out_dir, f"{b.workload}-seed{b.seed}-trace{int(b.traced)}")
    if b.traced:
        b.tracer.dump(stem + "-spans.json")
    with open(stem + "-summary.json", "w") as f:
        json.dump({
            "workload": b.workload, "seed": b.seed, "seconds": b.seconds,
            "finished": time.time(), "marks": b.marks, "metrics": metrics,
            "peak_rss_mb_by_command": rss_split,
            "samples": {"epochs": len(m.epoch_ms), "queries": len(m.queries),
                        "tail_queries": len(m.tail_queries)},
            "query_ms_by_shape": _by_shape(m.queries),
            "epoch_ms": m.epoch_ms,
        }, f, indent=1)


def _by_shape(results) -> dict:
    out: dict[str, list] = {}
    for r in results:
        out.setdefault(r.spec.shape, []).append(round(r.latency_ms, 1))
    return out
