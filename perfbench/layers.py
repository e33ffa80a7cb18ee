"""Per-layer metrics of a traced run: the event-log fold per tag plus the
in-memory spans and pin counts, averaged over the traced operations."""

from __future__ import annotations

import json

from perfbench.tracing import fold_event_log, median, read_event_logs, split_tag

CALL_LAYERS = [
    "operators.ranking",
    "operators.time_series",
    "operators.stats",
    "operators.neutralization",
    "operators.penalization",
    "operators.encoding",
    "sampling",
    "text.analysis",
    "dedup.minhash",
    "dedup.cluster",
    "dedup.contamination",
]
# layers whose output the panel chain pins (ops.py); ``<layer>.pin_s``
# is the wall time of that pin: Catalyst planning plus the jobs
PINNED_LAYERS = [
    "operators.ranking",
    "operators.time_series",
    "operators.neutralization",
    "operators.penalization",
]
CALL_METRICS = {
    "call_s": "s", "jobs": "count", "pins": "count", "run_ms": "ms",
    "pyworker_ms": "ms", "shuffle_bytes": "B",
}
SINK_METRICS = {
    "plan_s": "s", "exec_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "run_ms": "ms", "cpu_ms": "ms", "pyworker_ms": "ms", "gc_ms": "ms",
    "shuffle_bytes": "B", "spill_bytes": "B", "peak_exec_mem_bytes": "B",
}
OTHER_METRICS = {
    "session.start_s": "s",
    "io.input_bytes": "B",
    "io.input_rows": "count",
    "dedup.minhash.candidates": "count",
    "dedup.minhash.verified_pairs": "count",
    "dedup.minhash.precision": "ratio",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in output order."""
    units = {}
    for layer in CALL_LAYERS:
        units |= {f"{layer}.{m}": u for m, u in CALL_METRICS.items()}
        if layer in PINNED_LAYERS:
            units[f"{layer}.pin_s"] = "s"
    units |= {f"sink.{m}": u for m, u in SINK_METRICS.items()}
    return units | OTHER_METRICS


def _per_op(folded: dict, ops: set[int]) -> dict[tuple[int, str], dict]:
    out = {}
    for tag, rec in folded.items():
        _, op, layer = split_tag(tag)
        if op in ops:
            out[(op, layer)] = rec
    return out


def layer_metrics(
    event_dir, spans_path, tracer, ops, start_s, extra, traced_walls, untraced_walls
) -> dict:
    folded = fold_event_log(read_event_logs(event_dir))
    per = _per_op(folded, ops)
    n = max(len(ops), 1)
    seconds = tracer.layer_seconds(ops)

    def mean(layer: str, key: str) -> float:
        return sum(per.get((o, layer), {}).get(key, 0.0) for o in ops) / n

    values: dict[str, float] = {}
    for layer in CALL_LAYERS:
        calls = seconds.get(layer, [0.0])
        values |= {
            f"{layer}.call_s": median(calls),
            f"{layer}.jobs": mean(layer, "jobs"),
            f"{layer}.pins": sum(tracer.pins.get((o, layer), 0) for o in ops) / n,
            f"{layer}.run_ms": mean(layer, "run_ms"),
            f"{layer}.pyworker_ms": mean(layer, "run_ms") - mean(layer, "cpu_ms"),
            f"{layer}.shuffle_bytes": mean(layer, "shuffle_bytes"),
            f"{layer}.pin_s": median(seconds.get(f"{layer}#materialize", [0.0])),
        }
    values["sink.plan_s"] = median(seconds.get("sink.plan", [0.0]))
    values["sink.exec_s"] = median(seconds.get("sink.exec", [0.0]))
    for key in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_bytes",
                "spill_bytes"):
        values[f"sink.{key}"] = mean("sink", key)
    values["sink.pyworker_ms"] = values["sink.run_ms"] - values["sink.cpu_ms"]
    values["sink.peak_exec_mem_bytes"] = mean("sink", "peak_exec_mem_bytes")
    values["session.start_s"] = start_s
    values["io.input_bytes"] = sum(r.get("input_bytes", 0.0) for r in per.values()) / n
    values["io.input_rows"] = sum(r.get("input_rows", 0.0) for r in per.values()) / n
    cand = extra.get("dedup.minhash.candidates", 0)
    verified = extra.get("dedup.minhash.verified_pairs", 0)
    values["dedup.minhash.candidates"] = float(cand)
    values["dedup.minhash.verified_pairs"] = float(verified)
    values["dedup.minhash.precision"] = verified / cand if cand else 0.0
    traced = median(traced_walls) if traced_walls else 0.0
    untraced = median(untraced_walls) if untraced_walls else traced
    values["trace.overhead_s"] = traced - untraced
    values["trace.overhead_frac"] = (traced - untraced) / untraced if untraced else 0.0
    write_spans(spans_path, tracer)
    units = metric_units()
    return {name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()}


def write_spans(path: str, tracer) -> None:
    """Spans are kept in memory during the run and written once here."""
    with open(path, "w", encoding="utf-8") as fh:
        for s in tracer.spans:
            fh.write(json.dumps(s) + "\n")
