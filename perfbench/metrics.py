"""Metric arithmetic of the benchmark: the tail-percentile rule, span self
time, and the per-layer numbers derived from a traced run's raw record."""
import statistics


def tail(samples, beyond=10):
    """The highest percentile of `samples` with at least `beyond` samples
    above it, by nearest rank: the k-th smallest value with k = n - beyond,
    at percentile 100 k / n.
    Below 2 * beyond samples no percentile above the median has `beyond`
    samples past it, so the median stands in (percentile 50). Returns
    (value, percentile, n)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 2 * beyond:
        return median(xs), 50.0, n
    k = n - beyond
    return xs[k - 1], 100.0 * k / n, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other and stick out of the parent."""
    lo, hi = span["start_ms"], span["end_ms"]
    covered = union_length(clipped([(c["start_ms"], c["end_ms"]) for c in children],
                                   lo, hi))
    return (hi - lo) - covered


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Trace:
    """A traced run's spans, Spark jobs and stages, with each job assigned
    to the innermost span open when it started (the client is single
    threaded, so time containment is exact)."""

    def __init__(self, raw, lo_ms, hi_ms):
        self.spans = [s for s in raw["spans"] if lo_ms <= s["start_ms"] <= hi_ms]
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)
        stages = {st["id"]: st for st in raw["stages"]}
        self.jobs = [j for j in raw["jobs"] if lo_ms <= j["start_ms"] <= hi_ms]
        for j in self.jobs:
            j["stage_rows"] = [stages[i] for i in j["stages"] if i in stages]
        by_start = sorted(self.spans, key=lambda s: s["start_ms"])
        self.jobs_of = {s["id"]: [] for s in self.spans}
        for j in self.jobs:
            inner = None
            for s in by_start:
                if s["start_ms"] > j["start_ms"]:
                    break
                if s["end_ms"] >= j["start_ms"]:
                    inner = s  # later-starting open span = deeper
            if inner is not None:
                self.jobs_of[inner["id"]].append(j)
        self.plans = [p for p in raw["plans"] if lo_ms <= p["start_ms"] <= hi_ms]

    def subtree_jobs(self, span):
        out = list(self.jobs_of.get(span["id"], []))
        for c in self.children.get(span["id"], []):
            out += self.subtree_jobs(c)
        return out

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    @staticmethod
    def stage_sum(jobs, key):
        return sum(st[key] for j in jobs for st in j["stage_rows"])

    def no_job_s(self, span):
        jobs = self.subtree_jobs(span)
        covered = union_length(clipped([(j["start_ms"], j["end_ms"]) for j in jobs],
                                       span["start_ms"], span["end_ms"]))
        return (span["end_ms"] - span["start_ms"] - covered) / 1000.0

    def layer(self, name):
        """Wall, self time, jobs, task CPU and no-job time of every span
        called `name`, summed."""
        spans = self.named(name)
        jobs = [j for s in spans for j in self.subtree_jobs(s)]
        return {
            "s": sum(s["end_ms"] - s["start_ms"] for s in spans) / 1000.0,
            "self_s": sum(self_time(s, self.children.get(s["id"], []))
                          for s in spans) / 1000.0,
            "jobs": len(jobs),
            "task_cpu_s": self.stage_sum(jobs, "cpu_ns") / 1e9,
            "no_job_s": sum(self.no_job_s(s) for s in spans),
        }

