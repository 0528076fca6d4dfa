"""Summary statistics and span arithmetic for the benchmark's raw records."""
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest percentile that still has `beyond` samples above it.

    Returns (value, percentile, n). With n sorted samples that is the
    (n - beyond)-th smallest, at percentile 100 * (n - beyond) / n. When
    that percentile would fall below the median (n < 2 * beyond), the
    sample supports no tail: the median stands in and the percentile
    reads 50.
    """
    n = len(values)
    if n < 2 * beyond:
        return median(values), 50.0, n
    s = sorted(values)
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n


def paired_overhead(untraced, traced, gap):
    """Tracing overhead from interleaved ops: each traced value minus the
    mean of the untraced values `gap` positions before and after it, median
    over the traced values. Both arguments map loop position -> value.
    Pairing with neighbours cancels the drift of op times over a run (the
    JIT still warming, the machine's speed changing)."""
    diffs = []
    for i, v in traced.items():
        near = [untraced[j] for j in (i - gap, i + gap) if j in untraced]
        if near:
            diffs.append(v - sum(near) / len(near))
    return median(diffs)


def self_times(spans):
    """Self time of each span, in ns: its duration minus the part of its
    interval that its children cover (overlapping children count once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0, s["start_ns"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], reach), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out


def ancestors(span, by_id):
    while span["parent"] in by_id:
        span = by_id[span["parent"]]
        yield span


# (metric, span-name test, which spans carry it: the op or its replay)
SPAN_METRICS = (
    ("contracts.resolve_ms", lambda n: n.startswith("contracts.store."), "op"),
    ("governance.record_ms", lambda n: n.startswith("governance."), "op"),
    ("obs.record_ms", lambda n: n == "obs.record", "op"),
    ("quality.evaluate_ms", lambda n: n.startswith("quality.evaluate"), "replay"),
    ("strategies.plan_ms", lambda n: n == "strategies.plan", "replay"),
    ("align.build_ms", lambda n: n.startswith("align.build"), "replay"),
)


def span_layers(spans, op, replay):
    """Layer numbers of one traced op from its spans and its replay's.

    Time metrics sum the outermost matching spans (a decorator span inside
    a replay step of the same layer counts once). `contracts.store_calls`
    counts every call into the contract store, from `GovernedIO` and from
    governance drafting alike."""
    by_id = {s["id"]: s for s in spans}
    out = {name: 0.0 for name, _, _ in SPAN_METRICS}
    out["contracts.store_calls"] = 0
    for s in spans:
        scope = "op" if s["op"] == op else "replay" if s["op"] == replay else None
        if scope is None:
            continue
        if scope == "op" and ".store." in s["name"]:
            out["contracts.store_calls"] += 1
        up = [a["name"] for a in ancestors(s, by_id)]
        for name, match, where in SPAN_METRICS:
            if where == scope and match(s["name"]) and not any(match(a) for a in up):
                out[name] += (s["end_ns"] - s["start_ns"]) / 1e6
    return out


def self_time_table(spans):
    """Total self time per span name, in seconds, largest first."""
    st = self_times(spans)
    totals = {}
    for s in spans:
        totals[s["name"]] = totals.get(s["name"], 0) + st[s["id"]]
    return sorted(((k, v / 1e9) for k, v in totals.items()), key=lambda kv: -kv[1])
