"""Statistics and span arithmetic for the graft benchmark (no Spark here).

Everything the metrics line reports is computed by these functions from
the raw record the JVM side writes; perfbench/test_stats.py tests them.
"""

import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile `p` (0-100) of `xs`; 0.0 when empty."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def tail_percentile(n, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least ten samples beyond
    it among `n` samples, or None when even the median has fewer."""
    for p in candidates:
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def quartile_spread(xs):
    """(Q3 - Q1) / median, the run-to-run spread the bounds are checked on."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q3 - q1) / m if m else 0.0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, within):
    return (max(interval[0], within[0]), min(interval[1], within[1]))


# Span kinds, by nesting rank: a span's parent is the innermost enclosing
# span of a lower rank. A build holds the eager actions, Catalyst phases
# and compiles it triggers; a SQL execution holds its jobs, a job its
# stages. LAYER names the module each kind's self time is charged to.
RANK = {"root": 0, "build": 1, "phase": 2, "compile": 2, "execution": 3, "job": 4, "stage": 5}
LAYER = {"root": "unattributed", "build": "ops", "phase": "catalyst", "compile": "codegen",
         "execution": "scheduler", "job": "scheduler", "stage": "executor"}


def build_tree(spans):
    """Sets `parent` on each span dict ({id, kind, start, end}): the
    shortest enclosing span of a lower rank, or the root (id 0)."""
    for sp in spans:
        if sp["kind"] == "root":
            sp["parent"] = None
            continue
        best = None
        for cand in spans:
            if (cand is sp or RANK[cand["kind"]] >= RANK[sp["kind"]]
                    or cand["start"] > sp["start"] or cand["end"] < sp["end"]):
                continue
            if best is None or cand["end"] - cand["start"] < best["end"] - best["start"]:
                best = cand
        sp["parent"] = best["id"] if best else 0
    return spans


def self_times(spans):
    """Self time of every span: its duration minus the part of it its
    children cover. Returns {span id: self time}."""
    kids = {}
    for sp in spans:
        if sp.get("parent") is not None:
            kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        covered = union_length(clip((c["start"], c["end"]), (sp["start"], sp["end"]))
                               for c in kids.get(sp["id"], []))
        out[sp["id"]] = max(0.0, sp["end"] - sp["start"] - covered)
    return out


def layer_self_times(spans):
    """Self time summed per layer; the root's self time, the part of the
    wall no named layer accounts for, is reported as "unattributed"."""
    st = self_times(build_tree(spans))
    out = {}
    for sp in spans:
        layer = LAYER[sp["kind"]]
        out[layer] = out.get(layer, 0.0) + st[sp["id"]]
    return out


def slope(points):
    """Least-squares slope of (x, y) points; 0.0 with fewer than two x values."""
    if len({x for x, _ in points}) < 2:
        return 0.0
    mx = sum(x for x, _ in points) / len(points)
    my = sum(y for _, y in points) / len(points)
    num = sum((x - mx) * (y - my) for x, y in points)
    den = sum((x - mx) ** 2 for x, _ in points)
    return num / den


def backlog_grows(samples, rate, tolerance=0.1):
    """True when the backlog of a fixed-rate phase grows: its least-squares
    slope over (seconds, events) exceeds `tolerance` x the offered rate.
    A backlog that jumps but then holds level is not growth."""
    return slope(samples) > tolerance * rate
