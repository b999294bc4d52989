"""Per-layer metrics of a traced run, and the trace file.

A compute layer's numbers come from the spans of the ops whose builder
lives in it: ``build`` spans give ``build_s`` and ``build_jobs``, action
spans (a collect, or the upsert that executes a refresh step) give
``exec_s``, and both give the status-store counters. Every value is per
traced cycle.
"""

from __future__ import annotations

import json
import os

from .spans import COUNTERS, Span, self_seconds
from .stats import median, tail

COMPUTE_LAYERS = ("operators", "signals", "plans", "text", "similarity")
STAGE_COUNTERS = tuple(c for c in COUNTERS if not c.startswith("output"))
ACTIONS = ("collect", "upsert")


def _unit(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_mb"):
        return "MB"
    return "count"


PER_LAYER: dict[str, str] = {}
for _layer in COMPUTE_LAYERS:
    for _c in ("build_s", "build_jobs", "exec_s") + STAGE_COUNTERS:
        PER_LAYER[f"{_layer}.{_c}"] = _unit(_c)
PER_LAYER.update(
    {
        "warehouse.execute_query_s": "s",
        "warehouse.upsert_s": "s",
        "warehouse.upsert_jobs": "count",
        "warehouse.write_mb": "MB",
        "warehouse.write_amp_rows": "ratio",
        "caches.free_s": "s",
        "caches.entries": "count",
        "caches.stored_mb": "MB",
        "session.start_s": "s",
        "session.warmup_s": "s",
        "registry.load_s": "s",
        "process.peak_rss_mb": "MB",
        "bench.self_s": "s",
        "trace.overhead_s": "s",
        "trace.overhead_pct": "%",
    }
)


def cycle_spans(spans: list[Span]) -> tuple[list[Span], list[Span]]:
    """(timed cycle spans, every span below them)."""
    by_id = {s.id: s for s in spans}
    cycles = [s for s in spans if s.name == "cycle" and s.op.startswith("c")]
    ids = {c.id for c in cycles}

    def under(s: Span) -> bool:
        while s.parent is not None:
            if s.parent in ids:
                return True
            s = by_id[s.parent]
        return False

    return cycles, [s for s in spans if under(s)]


def per_layer(
    spans: list[Span],
    upserted: dict[int, int],
    setup: dict[str, float],
    times: list[tuple[bool, float]],
) -> dict[str, float]:
    cycles, inner = cycle_spans(spans)
    k = max(1, len(cycles))
    m = dict.fromkeys(PER_LAYER, 0.0)

    def add(name: str, value: float) -> None:
        m[name] += value / k

    for s in inner:
        layer = s.attrs.get("op_layer", s.layer)
        if s.name == "build":
            add(f"{layer}.build_s", s.seconds)
            add(f"{layer}.build_jobs", s.counters.get("jobs", 0))
        if s.name in ACTIONS:
            add(f"{layer}.exec_s", s.seconds)
        if s.name == "build" or s.name in ACTIONS:
            for c in STAGE_COUNTERS:
                add(f"{layer}.{c}", s.counters.get(c, 0))
        if s.name == "execute_query":
            add("warehouse.execute_query_s", s.seconds)
        if s.name == "upsert":
            add("warehouse.upsert_s", s.seconds)
            add("warehouse.upsert_jobs", s.counters.get("jobs", 0))
            add("warehouse.write_mb", s.counters.get("output_mb", 0))
        if s.name in ("free_session_caches", "clear_cache"):
            add("caches.free_s", s.seconds)
        if s.name == "free_session_caches":
            add("caches.entries", s.attrs.get("entries", 0))
            add("caches.stored_mb", s.attrs.get("stored_mb", 0))
    written = sum(s.counters.get("output_rows", 0) for s in inner if s.name == "upsert")
    merged = sum(upserted.values())
    m["warehouse.write_amp_rows"] = written / merged if merged else 0.0
    selfs = self_seconds(spans)
    m["bench.self_s"] = sum(selfs[c.id] for c in cycles) / k
    m.update(setup)
    m["trace.overhead_s"], m["trace.overhead_pct"] = overhead(times)
    return m


def overhead(times: list[tuple[bool, float]]) -> tuple[float, float]:
    """Median over traced cycles of the cycle's time minus the mean of
    its untraced neighbours, in seconds and in percent of that mean.
    Comparing neighbours cancels the speed-up JIT compilation still
    gives from one cycle to the next."""
    diffs, pcts = [], []
    for i, (traced, s) in enumerate(times):
        if traced and 0 < i < len(times) - 1:
            base = (times[i - 1][1] + times[i + 1][1]) / 2
            diffs.append(s - base)
            pcts.append(100.0 * (s - base) / base)
    return (median(diffs), median(pcts)) if diffs else (0.0, 0.0)


def op_latencies(spans: list[Span]) -> dict:
    """Per-op wall time (build + actions) over the traced cycles, with
    its median and tail."""
    _, inner = cycle_spans(spans)
    per_op: dict[str, float] = {}
    for s in inner:
        if s.op and "/" in s.op and s.name != "cycle":
            per_op[s.op] = per_op.get(s.op, 0.0) + s.seconds
    samples = list(per_op.values())
    out: dict = {"n": len(samples)}
    if samples:
        out["p50_s"] = median(samples)
    t = tail(samples)
    if t:
        out[f"p{t[0]}_s"] = t[1]
    return out


def write_trace(path: str, spans: list[Span], metrics: dict, extra: dict) -> None:
    """Spans, each with its status-store counters, plus each layer's
    self time and the per-layer metrics."""
    selfs = self_seconds(spans)
    layer_self: dict[str, float] = {}
    for s in spans:
        layer_self[s.layer] = layer_self.get(s.layer, 0.0) + selfs[s.id]
    doc = {
        **extra,
        "per_layer": metrics,
        "layer_self_s": layer_self,
        "op_latency": op_latencies(spans),
        "spans": [
            {
                "id": s.id,
                "name": s.name,
                "layer": s.layer,
                "op": s.op,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": selfs[s.id],
                "attrs": s.attrs,
                "counters": s.counters,
            }
            for s in spans
        ],
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1, default=str)
