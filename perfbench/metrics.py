"""Metric arithmetic of the export benchmark: percentiles, span self time,
the per-layer wall-time split, call-site attribution and the keyed-JSON
rewrite ratio. Pure functions over plain data, tested in test_metrics.py.
"""

import math
import re
import statistics

# Layers of the wall-time split, named after the repo's modules. "driver"
# is module time that no child span covers.
LAYERS = ("sources", "catalyst", "pipelines", "sinks.keyedjson", "sinks.fetch",
          "other", "driver")

# Files whose jobs belong to a sink layer rather than their package.
_FILE_LAYER = {"KeyedJsonSink.scala": "sinks.keyedjson",
               "HttpFetchSink.scala": "sinks.fetch"}
_FRAME = re.compile(r"^\s*(?:at\s+)?graft\.(\w+)\.[\w.$]+\(([\w$]+\.scala):\d+\)")

# Nesting depth per span kind: the deepest active span owns an instant.
_DEPTH = {"table": 1, "exec": 2, "catalyst": 3, "job": 4, "fetch": 5}


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(xs, q=90, min_beyond=10):
    """The q-th percentile, or None when fewer than `min_beyond` samples lie
    beyond it (too few to say anything about that tail)."""
    if not xs:
        return None
    p = percentile(xs, q)
    beyond = sum(1 for x in xs if x > p)
    return p if beyond >= min_beyond else None


def spread(xs):
    """Interquartile range as a share of the median."""
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med if med else float("inf")


def tracing_overhead(walls):
    """Median extra wall time of a traced unit over the mean of the untraced
    units on either side of it. `walls` is the run's (wall, traced) list in
    order; pairing with both neighbours cancels a steady warm-up trend."""
    diffs = [w - (walls[i - 1][0] + walls[i + 1][0]) / 2
             for i, (w, traced) in enumerate(walls)
             if traced and 0 < i < len(walls) - 1
             and not walls[i - 1][1] and not walls[i + 1][1]]
    return median(diffs)


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover. Children
    may overlap each other; covered time is counted once."""
    s, e = span
    return (e - s) - union_length(children, s, e)


def callsite_frame(callsite):
    """(package, file) of the innermost frame of the exporter's own code in
    a long call site, or None when the call site has no such frame."""
    for line in (callsite or "").splitlines():
        m = _FRAME.match(line)
        if m:
            return m.group(1), m.group(2)
    return None


def layer_of_callsite(callsite):
    """Layer of a Spark job or SQL execution from its long call site: the
    innermost frame in the exporter's own code decides, by file for the
    sinks and by package otherwise."""
    frame = callsite_frame(callsite)
    if frame is None:
        return "other"
    package, file = frame
    if file in _FILE_LAYER:
        return _FILE_LAYER[file]
    return package if package in ("sources", "pipelines") else "other"


def link_spans(spans):
    """Give every span the span that caused it (`parent`) and, for jobs
    and executions, the repo file and layer of their call site.

    A job AQE or a broadcast starts on a pool thread carries that thread's
    call site; the caller's is on its SQL execution, so a job takes its
    execution's call site. A Catalyst phase belongs to the first execution
    (action) of its module that starts after the phase does. Executions and
    table() calls belong to the module running when they start; a fetch
    belongs to the job that ran its stage."""
    modules = [s for s in spans if s["kind"] == "module"]
    execs = {s["exec"]: s for s in spans if s["kind"] == "exec"}
    jobs_by_stage = {}
    for s in spans:
        if s["kind"] == "job":
            ex = execs.get(s["exec"])
            if ex is not None:
                s["callsite"], s["parent"] = ex["callsite"], ex["id"]
            for st in s.get("stage_ids", ()):
                jobs_by_stage.setdefault(st, []).append(s)

    def module_at(t):
        for m in modules:
            if m["start"] <= t <= m["end"]:
                return m["id"]
        return 0

    exec_module = {e["id"]: module_at(e["start"]) for e in execs.values()}
    for s in spans:
        kind = s["kind"]
        if kind in ("exec", "table") or (kind == "job" and not s["parent"]):
            s["parent"] = module_at(s["start"])
        elif kind == "catalyst":
            module = module_at(s["start"])
            later = [e for e in execs.values()
                     if e["start"] >= s["start"] and exec_module[e["id"]] == module]
            s["parent"] = min(later, key=lambda e: e["start"])["id"] if later else module
        elif kind == "fetch":
            owners = [j for j in jobs_by_stage.get(s["stage"], ())
                      if j["start"] <= s["start"] <= j["end"]]
            s["parent"] = owners[0]["id"] if owners else module_at(s["start"])
        if kind in ("job", "exec"):
            frame = callsite_frame(s["callsite"])
            s["file"] = frame[1] if frame else None
        if kind in _DEPTH:
            s["layer"] = span_layer(s)
    return spans


def span_layer(span):
    kind = span["kind"]
    if kind == "table":
        return "sources"
    if kind == "catalyst":
        return "catalyst"
    if kind == "fetch":
        return "sinks.fetch"
    return layer_of_callsite(span.get("callsite"))


def split_wall(lo, hi, spans):
    """Split [lo, hi] among layers: each instant goes to the deepest span
    active then (ties: first layer in LAYERS order); instants no span
    covers go to "driver". The parts sum to hi - lo exactly."""
    events = []
    for sp in spans:
        s, e = max(sp["start"], lo), min(sp["end"], hi)
        if e > s:
            key = (_DEPTH[sp["kind"]], span_layer(sp))
            events.append((s, 1, key))
            events.append((e, -1, key))
    events.sort(key=lambda ev: (ev[0], ev[1]))
    order = {name: i for i, name in enumerate(LAYERS)}
    out = {name: 0.0 for name in LAYERS}
    active = {}
    t = lo
    for when, delta, key in events:
        if when > t:
            if active:
                depth = max(d for d, _ in active)
                layer = min((l for d, l in active if d == depth), key=order.get)
            else:
                layer = "driver"
            out[layer] += when - t
            t = when
        active[key] = active.get(key, 0) + delta
        if active[key] == 0:
            del active[key]
    out["driver"] += hi - t
    return out


def entries_changed(before, after):
    """Entries of `after` that are new or differ from `before` (uid -> text)."""
    return sum(1 for uid, text in after.items() if before.get(uid) != text)


def rewrite_ratio(written, before, after):
    """Entry rows the sinks wrote per entry row that is new or changed."""
    changed = entries_changed(before, after)
    return written / changed if changed else float(written)
