"""Arithmetic the benchmark reports with: percentiles, span self time, and
the per-layer figures derived from a traced run's spans."""
import math
import statistics


def percentile(values, p):
    """Nearest-rank percentile `p` (0 < p < 1) of `values`, or None unless
    at least ten samples lie beyond it."""
    n = len(values)
    rank = math.ceil(p * n)
    if n == 0 or n - rank < 10:
        return None
    return sorted(values)[rank - 1]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        s = max(s, end)
        if e > s:
            total += e - s
            end = e
    return total


def self_times(spans):
    """{span id: duration minus the part of it its child spans cover}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def metric_names(span_name):
    """Metrics a span's self time adds into: `x.run.<table>` adds into
    both `x.run_s` and `x.run_s.<table>`, any other span into `<name>_s`."""
    layer, sep, table = span_name.partition(".run.")
    if sep:
        return [f"{layer}.run_s", f"{layer}.run_s.{table}"]
    return [f"{span_name}_s"]


def layer_seconds(spans, calls):
    """{metric: median over `calls` of that call's summed self seconds};
    a call that did not enter a span counts 0 for it."""
    own = self_times(spans)
    per_call = {c: {} for c in calls}
    for s in spans:
        acc = per_call.get(s["call"])
        if acc is None:
            continue
        for m in metric_names(s["name"]):
            acc[m] = acc.get(m, 0.0) + own[s["id"]] / 1e9
    keys = {k for acc in per_call.values() for k in acc}
    return {k: statistics.median(acc.get(k, 0.0) for acc in per_call.values())
            for k in keys}
