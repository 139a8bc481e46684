"""Turn a run's loops and spans into named metrics.

``END_TO_END`` and ``PER_LAYER`` are the names BENCHMARK.json lists; the
final JSON line of a run carries exactly one of the two sets.
"""

from __future__ import annotations

import statistics

from spans import TASK_METRICS, self_time

# Metrics every workload has, measured with tracing off.
END_TO_END = ("setup_s", "op_p50_s")

BATCH_WORKLOADS = ("archive_batch", "text_dedup")

# (span name, per-layer time metric, prefix of its Spark task metrics).
# Time metrics are the span's self time; for "detect" that is the
# composition left after its layer spans.
LAYER_SPANS = (
    ("session.start", "session.start_s", None),
    ("gen", "gen.s", None),
    ("detect.call", "detect.call_s", "detect.call"),
    ("detect", "detect.compose_s", "detect.compose"),
    ("url_dedup", "url_dedup.s", "url_dedup"),
    ("pdq.decode", "pdq.decode_s", "pdq.decode"),
    ("pdq.join", "pdq.join_s", "pdq.join"),
    ("pdq.symmetrize", "pdq.symmetrize_s", "pdq.symmetrize"),
    ("dedup.signature", "dedup.signature_s", "dedup.signature"),
    ("dedup.lsh", "dedup.lsh_s", "dedup.lsh"),
    ("dedup.verify", "dedup.verify_s", "dedup.verify"),
    ("dedup.components", "dedup.components_s", "dedup.components"),
    ("cache.materialize", "cache.materialize_s", "cache.materialize"),
    ("pq.build", "pq.build_s", "pq.build"),
    ("pq.search", "pq.search_s", "pq.search"),
)

# (metric, span, count key) for counts recorded at span boundaries.
LAYER_COUNTS = (
    ("url_dedup.rows_out", "url_dedup", "rows_out"),
    ("pdq.hashes", "pdq.decode", "hashes"),
    ("pdq.comparisons", "pdq.join", "comparisons"),
    ("pdq.pairs", "pdq.join", "pairs"),
    ("pdq.rows_out", "pdq.symmetrize", "rows_out"),
    ("dedup.candidates", "dedup.lsh", "candidates"),
    ("dedup.pairs", "dedup.verify", "pairs"),
    ("cache.blocks", "cache.materialize", "blocks"),
)

TASK_UNITS = {
    "tasks": "count",
    "executor_run_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "core_util": "fraction",
}


def _unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_util"):
        return "fraction"
    if name.endswith("_bytes"):
        return "bytes"
    if "_per_" in name:
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    names = [m for _, m, _ in LAYER_SPANS]
    names += [m for m, _, _ in LAYER_COUNTS]
    names += [
        "url_dedup.shuffle_bytes",
        "pdq.pairs_per_comparison",
        "pdq.join_core_util",
        "dedup.pairs_per_candidate",
        "spark.gc_s",
        "trace.overhead_s",
    ]
    names += [f"{p}.{t}" for _, _, p in LAYER_SPANS if p for t in TASK_METRICS]
    return names


PER_LAYER = tuple(per_layer_names())


def unit_of(name: str) -> str:
    for _, _, prefix in LAYER_SPANS:
        if prefix and name.startswith(prefix + ".") and name[len(prefix) + 1 :] in TASK_UNITS:
            return TASK_UNITS[name[len(prefix) + 1 :]]
    return _unit(name)


def end_to_end(workload, setup_s, loop, attempted, failed, peak_rss) -> dict:
    """name -> (value, unit, note) for every end-to-end metric this
    workload has; the untraced loop supplies the latencies."""
    lat = loop["latencies"]
    p50 = statistics.median(lat) if lat else 0.0
    out = {"setup_s": (setup_s, "s", "session start, input generation, build, one warm-up call")}
    if workload in BATCH_WORKLOADS:
        out["op_p50_s"] = (p50, "s", f"= batch_s, median of {len(lat)} calls")
        out["batch_s"] = (p50, "s", f"median of {len(lat)} calls")
    else:
        out["op_p50_s"] = (p50, "s", f"= probe_p50_s, median of {len(lat)} requests")
        out["probe_p50_s"] = (p50, "s", f"median of {len(lat)} requests")
        pct, value = _tail(lat)
        out["probe_tail_s"] = (value, "s", f"{pct} of {len(lat)} requests")
        out["probe_per_s"] = (
            len(lat) / sum(lat) if lat else 0.0,
            "req/s",
            "completed requests per second of request time",
        )
    recalls = [e["recall"] for e in loop["extras"] if "recall" in e]
    if recalls:
        out["recall"] = (statistics.mean(recalls), "fraction", _recall_note(workload))
    out["failed_frac"] = (failed / attempted, "fraction", f"{failed} of {attempted} ops")
    out["peak_rss_mb"] = (peak_rss, "MB", "driver JVM VmHWM + Python VmHWM")
    return out


def _recall_note(workload: str) -> str:
    if workload == "text_dedup":
        return "planted pairs with true Jaccard >= 0.5 that were reported"
    return "recall@10 against exact numpy kNN"


def _tail(latencies: list[float]) -> tuple[str, float | None]:
    """The highest of p50/p90/p99/p99.9 with at least ten requests beyond
    it, and the latency there."""
    n = len(latencies)
    best = None
    for p in (50, 90, 99, 99.9):
        if n * (1 - p / 100) >= 10:
            best = p
    if best is None:
        return "no percentile has 10 requests beyond it", None
    qs = statistics.quantiles(latencies, n=1000, method="inclusive")
    return f"p{best:g}", qs[int(best * 10) - 1]


def benchmark_metrics(e2e: dict) -> dict:
    return {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in END_TO_END}


def per_layer(tracer, traced, untraced) -> dict:
    """name -> (value, unit) for every per-layer metric: medians over the
    traced requests (set-up spans once). Layers a workload never calls
    read 0."""
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        if s.request == "setup" or s.request.startswith("t"):
            by_name.setdefault(s.name, []).append(s)

    def med(values):
        return statistics.median(values) if values else 0.0

    out: dict[str, float] = {}
    for span, metric, prefix in LAYER_SPANS:
        spans = by_name.get(span, [])
        out[metric] = med([self_time(s, tracer.children(s)) for s in spans])
        if prefix:
            for t in TASK_METRICS:
                out[f"{prefix}.{t}"] = med([s.spark.get(t, 0.0) for s in spans])
    for metric, span, key in LAYER_COUNTS:
        out[metric] = med([s.counts.get(key, 0) for s in by_name.get(span, [])])
    out["url_dedup.shuffle_bytes"] = out["url_dedup.shuffle_write_bytes"]
    out["pdq.join_core_util"] = out["pdq.join.core_util"]
    out["pdq.pairs_per_comparison"] = (
        out["pdq.pairs"] / out["pdq.comparisons"] if out["pdq.comparisons"] else 0.0
    )
    out["dedup.pairs_per_candidate"] = (
        out["dedup.pairs"] / out["dedup.candidates"] if out["dedup.candidates"] else 0.0
    )
    out["spark.gc_s"] = traced["gc_s"]
    out["trace.overhead_s"] = med(traced["latencies"]) - med(untraced["latencies"])
    return {k: (out[k], unit_of(k)) for k in PER_LAYER}
