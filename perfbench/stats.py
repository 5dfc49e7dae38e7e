"""The benchmark's arithmetic: summary statistics of timings, interval
unions behind self and gap times, and attribution of Spark jobs,
stages and queries to the spans that issued them."""
import math

TAIL_PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return None
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def nearest_rank(s, p):
    """p-th percentile of sorted samples `s`, nearest-rank definition."""
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(xs):
    """The highest of TAIL_PERCENTILES with at least ten samples beyond
    it, as (percentile, value); None when even the median has fewer."""
    s = sorted(xs)
    best = None
    for p in TAIL_PERCENTILES:
        if len(s) - math.ceil(p / 100 * len(s)) >= 10:
            best = (p, nearest_rank(s, p))
    return best


def summary(xs):
    t = tail(xs)
    return {"n": len(xs), "median": median(xs),
            "tail_p": t[0] if t else None, "tail": t[1] if t else None}


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def uncovered(start, end, intervals):
    """Time in [start, end] that no interval covers."""
    return (end - start) - union_length(intervals, start, end)


class SpanTree:
    """Spans (dicts with id, name, parent, start, end) plus the jobs,
    stages and queries attributed to the innermost span open when they
    started. Times are epoch milliseconds."""

    def __init__(self, spans, jobs=(), stages=(), queries=()):
        self.spans = {s["id"]: s for s in spans}
        self.children = {i: [] for i in self.spans}
        for s in spans:
            if s["parent"] in self.children:
                self.children[s["parent"]].append(s["id"])
        ordered = sorted(spans, key=lambda s: s["start"])
        self.jobs = {i: [] for i in self.spans}
        self.queries = {i: [] for i in self.spans}
        job_span = {}
        for j in jobs:
            sid = self._innermost(ordered, j["start"])
            if sid is not None:
                self.jobs[sid].append(j)
                job_span[j["id"]] = sid
        self.stages = {i: [] for i in self.spans}
        for st in stages:
            sid = job_span.get(st["job"])
            if sid is not None:
                self.stages[sid].append(st)
        for q in queries:
            sid = self._innermost(ordered, q["start"])
            if sid is not None:
                self.queries[sid].append(q)

    @staticmethod
    def _innermost(ordered, t):
        best = None
        for s in ordered:
            if s["start"] > t:
                break
            if s["end"] >= t:
                best = s["id"]  # later starts nest deeper
        return best

    def subtree(self, sid, skip="bench.probe"):
        """Span ids under `sid` (itself included), without `skip` spans."""
        out, todo = [], [sid]
        while todo:
            i = todo.pop()
            if self.spans[i]["name"] == skip:
                continue
            out.append(i)
            todo.extend(self.children[i])
        return out

    def probes(self, sid):
        return [self.spans[i] for i in self.descendants(sid)
                if self.spans[i]["name"] == "bench.probe"]

    def descendants(self, sid):
        """Span ids under `sid`, itself and probes included."""
        out, todo = [], [sid]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.children[i])
        return out

    def duration_ms(self, sid):
        s = self.spans[sid]
        return s["end"] - s["start"]

    def self_ms(self, sid):
        """Duration minus the union of child spans and of the jobs the
        span issued directly."""
        s = self.spans[sid]
        kids = [(self.spans[c]["start"], self.spans[c]["end"])
                for c in self.children[sid]]
        kids += [(j["start"], j["end"]) for j in self.jobs[sid]]
        return uncovered(s["start"], s["end"], kids)

    def gap_ms(self, sid):
        """Span time with no job of its subtree running, probes excluded."""
        s = self.spans[sid]
        busy = [(j["start"], j["end"]) for i in self.subtree(sid)
                for j in self.jobs[i]]
        busy += [(p["start"], p["end"]) for p in self.probes(sid)]
        return uncovered(s["start"], s["end"], busy)

    def active_ms(self, sid):
        """Duration without the probes inside the span."""
        s = self.spans[sid]
        return (s["end"] - s["start"]) - union_length(
            [(p["start"], p["end"]) for p in self.probes(sid)], s["start"], s["end"])

    def spark(self, sid, cores):
        """Spark counters of the span's subtree, probes excluded."""
        ids = self.subtree(sid)
        stages = [st for i in ids for st in self.stages[i]]
        out = {"spark.jobs": sum(len(self.jobs[i]) for i in ids),
               "spark.tasks": sum(st["tasks"] for st in stages)}
        for k in ("task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
                  "shuffle_read_bytes", "fetch_wait_s", "spill_bytes"):
            out["spark." + k] = sum(st[k] for st in stages)
        out["spark.sched_delay_s"] = sum(
            max(0.0, st["first_launch"] - st["submitted"]) for st in stages) / 1e3
        out["spark.job_gap_s"] = self.gap_ms(sid) / 1e3
        active = self.active_ms(sid) / 1e3
        out["spark.core_busy_frac"] = (out["spark.task_run_s"] / (active * cores)
                                       if active > 0 else 0.0)
        return out

    def counters(self, sid, key):
        """Sum of a benchmark counter over the span's subtree."""
        return sum(self.spans[i].get("counters", {}).get(key, 0.0)
                   for i in self.descendants(sid))

    def query_sum(self, sid, key):
        return sum(q[key] for i in self.subtree(sid) for q in self.queries[i])
