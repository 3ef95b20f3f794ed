"""Checks and metrics over one run's raw record (written by graftbench.Main).

Pure functions of the record, so they are unit-tested without a JVM.
"""
import statistics

MB = 1024 * 1024
TAIL_BEYOND = 10


def tail(values):
    """Highest percentile with at least TAIL_BEYOND samples beyond it.

    Returns (value, percentile, n), or None with fewer than
    TAIL_BEYOND + 1 samples.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    rank = n - TAIL_BEYOND                  # 1-based; TAIL_BEYOND samples lie above it
    return xs[rank - 1], 100.0 * rank / n, n


def median(values, default=0.0):
    return statistics.median(values) if values else default


def union_s(intervals):
    """Total length of the union of (start, end) intervals."""
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


def self_time(span, children):
    """A span's duration minus the part of it that its children cover.

    `span` and each child are (start, end) pairs in one unit."""
    s, e = span
    covered = union_s([(max(s, cs), min(e, ce)) for cs, ce in children])
    return (e - s) - covered


def check_ops(ops, expected):
    """Marks every op whose output differs from what was expected.

    `expected` maps an op name to a digest ({"count", "hash"}; a null hash
    checks the count only) or, for pipeline runs, to {"report": {...}}.
    An op with no expectation, or one that raised, is a failure.
    Returns the number of failed ops; each failed op gets a "failure".
    """
    failed = 0
    for op in ops:
        want = expected.get(op["name"])
        why = op.get("error")
        if why is None and want is None:
            why = "no expected output recorded"
        elif why is None and "report" in want:
            if op.get("report") != want["report"]:
                why = f"report {op.get('report')} != {want['report']}"
        elif why is None:
            if op.get("count") != want["count"] or (
                    want.get("hash") is not None and op.get("hash") != want["hash"]):
                why = f"digest {op.get('count')}/{op.get('hash')} != {want['count']}/{want.get('hash')}"
        if why is not None:
            op["failure"] = why
            failed += 1
    return failed


class Tree:
    """Spans and jobs of a traced run, as one tree: each job hangs under
    the span that was open when it started. Times are in seconds."""

    def __init__(self, raw):
        self.spans = {s["id"]: s for s in raw["spans"]}
        self.kids = {}
        for s in raw["spans"]:
            self.kids.setdefault(s["parent"], []).append(s["id"])
        self.stages_of = {}
        for st in raw["stages"]:
            self.stages_of.setdefault(st["job"], []).append(st)
        self.jobs_of = {}
        for j in raw["jobs"]:
            if j["span"] in self.spans and j["end_ms"] >= j["start_ms"]:
                self.jobs_of.setdefault(j["span"], []).append(j)

    def interval(self, span_id):
        s = self.spans[span_id]
        return s["start_ns"] / 1e9, s["end_ns"] / 1e9

    def descendants(self, span_id):
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            out.append(sid)
            todo.extend(self.kids.get(sid, []))
        return out

    def jobs_under(self, span_id):
        return [j for sid in self.descendants(span_id) for j in self.jobs_of.get(sid, [])]

    def named_under(self, span_id, name):
        return [sid for sid in self.descendants(span_id) if self.spans[sid]["name"] == name]

    def stages_under(self, span_id):
        return [st for j in self.jobs_under(span_id) for st in self.stages_of.get(j["id"], [])]

    @staticmethod
    def job_interval(j):
        return j["start_ms"] / 1e3, j["end_ms"] / 1e3

    def self_s(self, span_id):
        """Span duration minus what its child spans and its own jobs cover."""
        children = [self.interval(k) for k in self.kids.get(span_id, [])]
        children += [self.job_interval(j) for j in self.jobs_of.get(span_id, [])]
        return self_time(self.interval(span_id), children)

    def gap_s(self, span_id):
        """Span duration not covered by any job launched beneath it."""
        s, e = self.interval(span_id)
        return (e - s) - union_s([(max(s, a), min(e, b)) for a, b in
                                  map(self.job_interval, self.jobs_under(span_id))])
