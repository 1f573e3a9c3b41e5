"""The benchmark's own arithmetic: percentiles, span self time, metric
names and ratios. Kept free of I/O so that `test_benchstats.py` can pin it."""

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def valid_name(name):
    """A metric name: starts with a letter or digit, then at most 63 of
    `[A-Za-z0-9_.-]`."""
    return bool(NAME_RE.match(name))


def percentile(values, p, min_beyond=10):
    """Percentile `p` (0 < p < 100) of `values`, nearest rank: the
    ceil(p/100 * n)-th smallest value.

    Refuses (ValueError) unless at least `min_beyond` samples lie beyond
    that rank, so that a reported high percentile is never set by a
    handful of samples."""
    if not 0 < p < 100:
        raise ValueError(f"percentile {p} outside (0, 100)")
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < min_beyond:
        raise ValueError(f"p{p} of {n} samples leaves {n - rank} beyond it; "
                         f"need {min_beyond}")
    return xs[rank - 1]


def highest_percentile(values, min_beyond=10):
    """(p, value): the highest whole percentile of `values` that leaves at
    least `min_beyond` samples beyond its nearest rank."""
    n = len(values)
    p = math.floor(100.0 * (n - min_beyond) / n) if n > min_beyond else 0
    if p < 1:
        raise ValueError(f"{n} samples leave no percentile with {min_beyond} beyond it")
    return p, percentile(values, p, min_beyond)


def median(values):
    return statistics.median(values)


def geomean_of_medians(groups):
    """Geometric mean of the groups' medians: a typical value with every
    group weighted alike, that does not jump when a median of the pooled
    samples would fall into a gap between groups. `groups`: {key: values},
    every value > 0."""
    if not groups:
        raise ValueError("no groups")
    logs = [math.log(statistics.median(v)) for v in groups.values()]
    return math.exp(sum(logs) / len(logs))


class Ratio:
    """A ratio that keeps its base: `value` is num / den, and `base` says
    what den counts."""

    def __init__(self, num, den, base):
        if den <= 0:
            raise ValueError(f"ratio over an empty base ({base} = {den})")
        self.num, self.den, self.base = num, den, base

    @property
    def value(self):
        return self.num / self.den

    def describe(self):
        return {"value": self.value, "num": self.num, "den": self.den, "base": self.base}


def _union_length(intervals):
    """Total length covered by possibly overlapping (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover. Children may overlap one another (counted
    once) or stick out of the parent (clipped).

    `spans`: dicts with `id`, `parent`, `start_ns`, `end_ns`.
    Returns {span id: self time in ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = [(max(c["start_ns"], lo), min(c["end_ns"], hi))
                   for c in children.get(s["id"], [])]
        covered = [(a, b) for a, b in covered if b > a]
        out[s["id"]] = (hi - lo) - _union_length(covered)
    return out


def subtree_sums(spans, values):
    """Each span's value plus those of all its descendants: counters
    attributed to the innermost span, totalled over the span's subtree.

    `spans`: dicts with `id` and `parent`; `values`: {span id: number}
    (missing ids count 0). Returns {span id: total}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    out = {}

    def total(i):
        if i not in out:
            out[i] = values.get(i, 0) + sum(total(c) for c in children.get(i, []))
        return out[i]

    for s in spans:
        total(s["id"])
    return out


def task_skew(stage_task_ms):
    """Task skew: per stage with at least two tasks, the longest task over
    the median task, averaged with each stage weighted by its longest task
    (the time the stage holds up its job). 1.0 means no skew."""
    num = den = 0.0
    for tasks in stage_task_ms:
        if len(tasks) < 2:
            continue
        mx, med = max(tasks), statistics.median(tasks)
        if mx <= 0:
            continue
        num += mx * (mx / max(med, 1))
        den += mx
    return num / den if den else 1.0
