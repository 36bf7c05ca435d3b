"""Metric arithmetic of the benchmark, free of Spark and of /proc access.

Everything here takes plain numbers or small records so that it can be
unit-tested without a session (``perfbench/tests/test_stats.py``).
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass

# Percentile grid a timing may be reported at, and how many samples must
# lie beyond a percentile before it is considered supported by the sample.
PERCENTILE_GRID = (50, 75, 90, 95, 99)
SAMPLES_BEYOND = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100) of ``values``, the
    same interpolation as numpy's default and Spark's ``percentile``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supports(n: int, q: int, beyond: int = SAMPLES_BEYOND) -> bool:
    """Whether ``n`` samples hold at least ``beyond`` above percentile
    ``q``: n * (1 - q/100) >= beyond, in integers to avoid float edges."""
    return n * (100 - q) >= beyond * 100


def highest_supported_percentile(n: int, grid=PERCENTILE_GRID,
                                 beyond: int = SAMPLES_BEYOND) -> int | None:
    """Highest grid percentile with at least ``beyond`` of ``n`` samples
    above it, or None when not even the lowest grid level qualifies."""
    best = None
    for q in grid:
        if supports(n, q, beyond):
            best = q
    return best


def kind_matched_means(a, b) -> tuple[float, float]:
    """Mean op time of two sets of ``(kind, latency)`` samples on one mix.

    Each set's per-kind mean latency is weighted by how often the kind
    occurs in both sets together, over the kinds that occur in both, so
    that two sets holding different shares of cheap and costly kinds are
    compared like with like. Returns ``(mean_a, mean_b)``."""
    by_a: dict[str, list[float]] = {}
    by_b: dict[str, list[float]] = {}
    for kind, v in a:
        by_a.setdefault(kind, []).append(v)
    for kind, v in b:
        by_b.setdefault(kind, []).append(v)
    both = by_a.keys() & by_b.keys()
    if not both:
        raise ValueError("the two sets share no op kind")
    w = {k: len(by_a[k]) + len(by_b[k]) for k in both}
    total = sum(w.values())

    def mean(by):
        return sum(w[k] * sum(by[k]) / len(by[k]) for k in both) / total
    return mean(by_a), mean(by_b)


@dataclass(frozen=True)
class OpWindow:
    """One benchmark op: its index, wall-clock interval (epoch seconds)
    and the half-open Spark job-id range ``[first_job, end_job)`` that was
    allocated while it ran."""
    op: int
    start: float
    end: float
    first_job: int
    end_job: int


def attribute_jobs(windows: list[OpWindow], job_ids) -> dict[int, int]:
    """Map each job id to the op whose job-id range contains it.

    Ops run one at a time, so every job a single op submits falls in the
    range between the scheduler's next-job-id counter read before and
    after the op. Jobs outside every range (submitted between ops, e.g.
    by a correctness check) are left out."""
    out = {}
    for j in job_ids:
        for w in windows:
            if w.first_job <= j < w.end_job:
                out[j] = w.op
                break
    return out


def union_length(intervals, lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by the union of ``(start, end)`` intervals,
    each clipped to ``[lo, hi]`` when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, job_intervals) -> float:
    """Driver self time of an op: its wall time minus the part of it that
    at least one Spark job was running (overlapping jobs count once)."""
    return (end - start) - union_length(job_intervals, start, end)


@dataclass(frozen=True)
class ProcStat:
    """CPU counters of one process from ``/proc/<pid>/stat``, in seconds.
    ``cutime``/``cstime`` hold the CPU of children that ended and were
    reaped by this process."""
    pid: int
    ppid: int
    start: int          # start time in clock ticks; tells reused pids apart
    comm: str
    utime: float
    stime: float
    cutime: float
    cstime: float

    @property
    def own(self) -> float:
        return self.utime + self.stime

    @property
    def reaped(self) -> float:
        return self.cutime + self.cstime


def classify_tree(procs: dict[int, ProcStat], root: int) -> dict[int, str]:
    """Label the root's descendants: ``driver`` (the root), ``jvm`` (a
    ``java`` child of the root) or ``worker`` (anything below a JVM —
    PySpark daemon and workers). Other descendants count as ``driver``."""
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    labels = {}
    if root not in procs:
        return labels
    stack = [(root, "driver")]
    while stack:
        pid, label = stack.pop()
        labels[pid] = label
        for c in children.get(pid, ()):
            if label == "driver" and pid == root and procs[c].comm == "java":
                stack.append((c, "jvm"))
            elif label in ("jvm", "worker"):
                stack.append((c, "worker"))
            else:
                stack.append((c, "driver"))
    return labels


def tree_cpu(procs: dict[int, ProcStat], root: int) -> dict[str, float]:
    """CPU seconds used so far by the process tree under ``root``, split
    into driver / jvm / worker. A reaped child's time is in its parent's
    ``cutime``: under a JVM or worker it is booked to ``worker``, so a
    diff of two snapshots stays exact when workers exit between them.
    The driver's reaped children (JVMs of earlier set-ups) stay with the
    driver; they do not change while an op runs."""
    out = {"driver": 0.0, "jvm": 0.0, "worker": 0.0}
    for pid, label in classify_tree(procs, root).items():
        p = procs[pid]
        out[label] += p.own
        out["worker" if label in ("jvm", "worker") else label] += p.reaped
    return out


def cpu_diff(before: dict[str, float], after: dict[str, float]
             ) -> dict[str, float]:
    """Per-category CPU seconds between two ``tree_cpu`` results, plus the
    ``total``."""
    d = {k: after.get(k, 0.0) - before.get(k, 0.0)
         for k in ("driver", "jvm", "worker")}
    d["total"] = sum(d.values())
    return d


def quartile_spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
