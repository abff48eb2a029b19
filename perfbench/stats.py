"""Pure helpers of the harness: percentiles, segment-to-trigger attribution,
trigger spans and span self time. No I/O, so the tests exercise them
directly."""
import math
import statistics

# percentiles tried from the highest down; see `tail`
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

# order of a micro-batch's phases inside one trigger
TRIGGER_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def percentile(values, pct):
    """Nearest-rank percentile: the smallest sample with at least `pct`% of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    return s[max(0, math.ceil(pct / 100.0 * len(s)) - 1)]


def median(values):
    return statistics.median(values)


def tail(values):
    """The highest percentile of `LADDER` that has at least ten samples
    beyond it, as (pct, value, n); (0.0, 0.0, n) when there are too few
    samples for any (fewer than 20)."""
    n = len(values)
    for pct in LADDER:
        if n - math.ceil(pct / 100.0 * n) >= 10:
            return pct, percentile(values, pct), n
    return 0.0, 0.0, n


def commit_us(progress):
    """End of a trigger: its start plus its `triggerExecution` time. The
    foreachBatch sinks commit inside the trigger, so this is when the
    trigger's rows are visible in the store."""
    return progress["timestamp_ms"] * 1000 + progress["duration_ms"].get("triggerExecution", 0) * 1000


def attribute(segment_rows, progress):
    """For each segment, in publish order, the index in `progress` (sorted by
    batch id) of the trigger that committed it: the first trigger whose
    cumulative input rows cover the segment's cumulative end. None for a
    segment no trigger covered."""
    out = []
    cum_end = 0
    cum = 0
    i = -1
    for rows in segment_rows:
        cum_end += rows
        while cum < cum_end and i + 1 < len(progress):
            i += 1
            cum += progress[i]["input_rows"]
        out.append(i if cum >= cum_end and i >= 0 else None)
    return out


def trigger_spans(progress, next_id):
    """One trace per trigger: a root span over `triggerExecution` and one
    child per phase of `durationMs`, laid out in execution order."""
    spans = []
    for p in progress:
        d = p["duration_ms"]
        trace = next_id()
        root = next_id()
        start = p["timestamp_ms"] * 1000
        spans.append(dict(trace=trace, id=root, parent=0, name="trigger",
                          start_us=start, end_us=commit_us(p)))
        t = start
        for phase in TRIGGER_PHASES:
            if phase in d:
                spans.append(dict(trace=trace, id=next_id(), parent=root, name=f"trigger.{phase}",
                                  start_us=t, end_us=t + d[phase] * 1000))
                t += d[phase] * 1000
    return spans


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total = 0
    end = lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Span id -> self time in microseconds: the span's duration minus the
    part of it that its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"]) - covered(kids.get(s["id"], []), s["start_us"], s["end_us"])
            for s in spans}


def self_by_name(spans, rename=lambda s: s["name"]):
    """Total self seconds per span name (after `rename`)."""
    st = self_times(spans)
    out = {}
    for s in spans:
        k = rename(s)
        out[k] = out.get(k, 0.0) + st[s["id"]] / 1e6
    return out
