"""Arithmetic shared by the runner and the comparison tool: percentiles,
interval unions, span self time, and the per-run metric derivation."""

import statistics

MB = 1e6

# Per workload: the unit operation (op_cpu_s, and op_p50_s/op_p75_s of the
# wall-clock figures).
OP_SPAN = {"etl_daily": "etl.runDs", "corpus_graph": "corpus.prepare",
           "ann_lifecycle": "ann.query"}

# The workloads BENCHMARK.json lists: every traced run reports the per-layer
# metrics of all of them (0 where the run's workload does not produce them).
BENCHMARK_WORKLOADS = ("etl_daily", "ann_lifecycle", "corpus_graph")
# Per workload: spans that carry the six per-layer counters, and per-layer
# figures the workload records as counters.
LAYER_SPANS = {
    "etl_daily": ("etl.runDs",),
    "ann_lifecycle": ("ann.build", "ann.append", "ann.delete", "ann.query"),
    "corpus_graph": ("corpus.prepare", "corpus.quality", "corpus.pairs", "corpus.clusters",
                     "corpus.decontam", "corpus.bpe_encode", "corpus.pack") + tuple(
        "graph.%s.%s" % (a, t) for a in ("pagerank", "kcore", "bfs", "components")
        for t in ("local", "dist")),
}
LAYER_EXTRAS = {
    "etl_daily": ("etl.stage.normalize_dq_gate_ms", "etl.stage.staging_write_ms",
                  "etl.stage.l2_merge_ms"),
    "ann_lifecycle": ("ann.index.files",),
    "corpus_graph": ("corpus.share.exact_dup", "corpus.share.near_dup",
                    "corpus.share.contaminated"),
}
LAYER_COUNTERS = ("wall_s", "jobs", "gap_s", "shuffle_mb", "read_mb", "write_mb")


def percentile(xs, p):
    """Linear-interpolated percentile (p in [0, 100]) of a non-empty list."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty list")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs):
    return percentile(xs, 50)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them; a single
    value is its own quartiles."""
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0])
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q1, q2, q3)


def relative_spread(xs):
    """Distance between the first and third quartile, as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def union_length(intervals, lo=None, hi=None):
    """Total length covered by [a, b) intervals, optionally clipped to [lo, hi)."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    t0, t1 = span["t0_ms"], span["t1_ms"]
    covered = union_length([(c["t0_ms"], c["t1_ms"]) for c in children], t0, t1)
    return ((t1 - t0) - covered) / 1000.0


def _subtree(spans):
    """span id -> ids of the span and all its descendants."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out = {}

    def walk(i):
        if i not in out:
            acc = [i]
            for k in kids.get(i, []):
                acc.extend(walk(k))
            out[i] = acc
        return out[i]

    for s in spans:
        walk(s["id"])
    return out


def layer_counters(spans, jobs):
    """Per traced span instance: wall, jobs, gap and I/O of the jobs it caused
    (its own and its descendants')."""
    sub = _subtree(spans)
    by_span = {}
    for j in jobs:
        by_span.setdefault(j["span"], []).append(j)
    out = {}
    for s in spans:
        if not s["traced"]:
            continue
        js = [j for i in sub[s["id"]] for j in by_span.get(i, [])]
        active = union_length([(j["t0_ms"], j["t1_ms"]) for j in js], s["t0_ms"], s["t1_ms"])
        wall_ms = s["t1_ms"] - s["t0_ms"]
        out[s["id"]] = {
            "wall_s": s["dur_s"],
            "jobs": len(js),
            "gap_s": max(0, wall_ms - active) / 1000.0,
            "shuffle_mb": sum(j["shuffle_write"] for j in js) / MB,
            "read_mb": sum(j["input"] for j in js) / MB,
            "write_mb": sum(j["output"] for j in js) / MB,
        }
    return out


def durations(spans, name, traced=False):
    return [s["dur_s"] for s in spans if s["name"] == name and s["traced"] == traced]


def end_to_end(workload, rec):
    """The end-to-end metrics of one untraced run record. Work is measured
    as process CPU time, which CPU stolen by the hypervisor does not
    inflate; see wall_clock for the latencies."""
    spans = [s for s in rec["spans"] if not s["traced"]]
    ops = [s["cpu_s"] for s in spans if s["name"] == OP_SPAN[workload]]
    credited = [s for s in spans if s["items"] > 0]
    return {
        "setup_s": rec["setup_s"],
        "op_cpu_s": median(ops),
        "items_per_cpu_s": sum(s["items"] for s in credited) / sum(s["cpu_s"] for s in credited),
        "cycle_cpu_s": median([s["cpu_s"] for s in spans if s["name"] == "cycle"]),
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def wall_clock(workload, rec):
    """Wall-clock latencies and throughput of one untraced run record:
    reported with every run, not gated (they swing with stolen CPU time)."""
    spans = [s for s in rec["spans"] if not s["traced"]]
    ops = durations(spans, OP_SPAN[workload])
    credited = [s for s in spans if s["items"] > 0]
    return {
        "op_p50_s": percentile(ops, 50),
        "op_p75_s": percentile(ops, 75),
        "items_per_s": sum(s["items"] for s in credited) / sum(s["dur_s"] for s in credited),
        "cycle_s": median(durations(spans, "cycle")),
    }


def layer_metric_names():
    """The per-layer metrics every traced run reports, in order."""
    names = ["%s.%s" % (span, c) for w in BENCHMARK_WORKLOADS for span in LAYER_SPANS[w]
             for c in LAYER_COUNTERS]
    names += [x for w in BENCHMARK_WORKLOADS for x in LAYER_EXTRAS[w]]
    return names + ["ann.append.write_amp"]


def per_layer(rec):
    """The per-layer metrics of one traced run record. Spans and figures the
    run's workload does not produce read 0."""
    spans, counters = rec["spans"], rec["counters"]
    per = layer_counters(spans, rec["jobs"])
    values = {}
    for ws in LAYER_SPANS.values():
        for name in ws:
            inst = [per[s["id"]] for s in spans if s["name"] == name and s["traced"]]
            for c in LAYER_COUNTERS:
                values["%s.%s" % (name, c)] = median([i[c] for i in inst]) if inst else 0.0
    appends = [per[s["id"]] for s in spans if s["name"] == "ann.append" and s["traced"]]
    code_mb = counters.get("ann.append.code_mb", 0.0) / len(appends) if appends else 0.0
    values["ann.append.write_amp"] = (median([a["write_mb"] for a in appends]) / code_mb
                                      if code_mb else 0.0)
    return {n: float(values.get(n, counters.get(n, 0.0))) for n in layer_metric_names()}


def overhead_ratio(spans):
    """Tracing overhead: per probe (spans named overhead.<layer>, the same
    call run alternately traced and untraced), the median traced duration
    over the median untraced one; the median of those."""
    ratios = []
    for name in sorted({s["name"] for s in spans if s["name"].startswith("overhead.")}):
        traced, untraced = durations(spans, name, True), durations(spans, name)
        if traced and untraced:
            ratios.append(median(traced) / median(untraced))
    return median(ratios) if ratios else 0.0
