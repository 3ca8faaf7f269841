"""Metric rules of the benchmark: percentiles, span self time, per-layer
aggregation from the traced run's spans, jobs and tasks.

Times inside a trace are epoch milliseconds. A span is
[id, parent, name, op, start_ms, end_ms]; a job is
[id, span, start_ms, end_ms, call_site, n_stages]; a task is
[span, stage, launch_ms, finish_ms, run_ms, shuffle_write_b, shuffle_read_b,
spill_b, failed].
"""
import math

MIN_BEYOND = 10  # samples a percentile needs strictly above it


def percentile(values, q):
    """Nearest-rank percentile `q` (0 < q < 1) of `values`, or None when
    fewer than MIN_BEYOND samples lie beyond it (p50 needs 20 samples,
    p90 needs 100)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def median(values):
    """Plain median of a run's repeated measurements (no sample floor)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


# ---------------------------------------------------------------- intervals

def union(intervals):
    """Merge [start, end) intervals into a sorted disjoint list."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def subtract(intervals, minus):
    """Parts of `intervals` not covered by any interval of `minus`."""
    cut = union(minus)
    out = []
    for s, e in union(intervals):
        cur = s
        for ms, me in cut:
            if me <= cur or ms >= e:
                continue
            if ms > cur:
                out.append((cur, ms))
            cur = max(cur, me)
            if cur >= e:
                break
        if cur < e:
            out.append((cur, e))
    return out


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def self_intervals(span, children):
    """A span's own time: its interval minus its children's intervals."""
    return subtract([(span[4], span[5])], [(c[4], c[5]) for c in children])


# ---------------------------------------------------------------- layers

def layer_breakdown(trace, exclude=("check",)):
    """Per span name: self ms, task-covered ms of that self time, driver gap
    ms (self time with no task running), and the jobs/tasks/bytes of the
    jobs it submitted. Spans under an excluded name (correctness checks)
    and their descendants are left out."""
    spans = {s[0]: s for s in trace["spans"]}
    kids = {}
    for s in trace["spans"]:
        kids.setdefault(s[1], []).append(s)

    def excluded(sid):
        while sid in spans:
            if spans[sid][2] in exclude:
                return True
            sid = spans[sid][1]
        return False

    busy = union((t[2], t[3]) for t in trace["tasks"])
    out = {}

    def slot(name):
        return out.setdefault(name, {
            "count": 0, "self_ms": 0.0, "busy_ms": 0.0, "gap_ms": 0.0,
            "jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0.0,
            "shuffle_write_b": 0, "shuffle_read_b": 0, "spill_b": 0,
            "failed_tasks": 0, "schema_jobs": 0})

    for s in trace["spans"]:
        if excluded(s[0]):
            continue
        own = self_intervals(s, kids.get(s[0], []))
        covered = length(own) - length(subtract(own, busy))
        d = slot(s[2])
        d["count"] += 1
        d["self_ms"] += length(own)
        d["busy_ms"] += covered
        d["gap_ms"] += length(own) - covered
    for j in trace["jobs"]:
        if j[1] in spans and not excluded(j[1]):
            d = slot(spans[j[1]][2])
            d["jobs"] += 1
            d["stages"] += j[5]
            if j[4].startswith("parquet at "):
                d["schema_jobs"] += 1
    for t in trace["tasks"]:
        if t[0] in spans and not excluded(t[0]):
            d = slot(spans[t[0]][2])
            d["tasks"] += 1
            d["task_ms"] += t[3] - t[2]
            d["shuffle_write_b"] += t[5]
            d["shuffle_read_b"] += t[6]
            d["spill_b"] += t[7]
            d["failed_tasks"] += t[8]
    return out


def coverage(trace, parent="cycle"):
    """Share of each `parent` span covered by its direct child spans. Child
    `check` spans (untimed heap samples) are left out of both sides."""
    spans = trace["spans"]
    tops = [s for s in spans if s[2] == parent]
    if not tops:
        return None
    covered = total = 0.0
    for p in tops:
        kids = [c for c in spans if c[1] == p[0]]
        checks = [(c[4], c[5]) for c in kids if c[2] == "check"]
        covered += length(subtract([(c[4], c[5]) for c in kids], checks))
        total += p[5] - p[4] - length(checks)
    return covered / total if total else None


def busy_share(trace, name):
    """Share of the wall time of spans called `name` with a task running."""
    busy = union((t[2], t[3]) for t in trace["tasks"])
    wall = covered = 0.0
    for s in trace["spans"]:
        if s[2] == name:
            own = [(s[4], s[5])]
            wall += s[5] - s[4]
            covered += length(own) - length(subtract(own, busy))
    return covered / wall if wall else None
