"""Metric arithmetic of the benchmark, without Spark: the percentile
support rule, job-id-range attribution, driver self time as wall time
minus the union of job intervals, and the CPU diff over a process tree."""

import statistics
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench.procfs import _TICK, parse_stat  # noqa: E402
from perfbench.stats import (OpWindow, ProcStat, attribute_jobs,  # noqa: E402
                             classify_tree, cpu_diff,
                             highest_supported_percentile,
                             kind_matched_means, percentile,
                             quartile_spread, self_time, supports, tree_cpu,
                             union_length)
from perfbench.tracing import top_level, view_cache_hits  # noqa: E402


# ------------------------------------------------------------ percentiles
@pytest.mark.parametrize("n, want", [
    (0, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75),
    (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99)])
def test_highest_percentile_with_ten_samples_beyond(n, want):
    assert highest_supported_percentile(n) == want


def test_supported_percentile_leaves_ten_samples_above():
    for n in range(20, 1500, 7):
        q = highest_supported_percentile(n)
        xs = list(range(n))
        assert sum(x > percentile(xs, q) for x in xs) >= 10
        assert n * (100 - q) / 100 >= 10


def test_supports_needs_ten_samples_beyond():
    assert supports(100, 90) and not supports(99, 90)
    assert supports(20, 50) and not supports(19, 50)


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = rng.exponential(size=37).tolist()
    for q in (0, 10, 50, 90, 99, 100):
        assert percentile(xs, q) == pytest.approx(np.percentile(xs, q),
                                                  rel=1e-12)


def test_percentile_of_empty_sample_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_kind_matched_means_compare_like_with_like():
    # a holds mostly cheap ops, b mostly costly ones; per kind b is 10 %
    # slower, and the matched means say so where raw means would not
    a = [("cheap", 1.0)] * 3 + [("costly", 10.0)]
    b = [("cheap", 1.1)] + [("costly", 11.0)] * 3
    ma, mb = kind_matched_means(a, b)
    assert ma == pytest.approx((4 * 1.0 + 4 * 10.0) / 8)
    assert mb / ma == pytest.approx(1.1)


def test_kind_matched_means_keep_slow_ops_and_skip_unshared_kinds():
    a = [("k", 1.0), ("k", 1.0), ("k", 7.0), ("only_a", 100.0)]
    b = [("k", 3.0)]
    assert kind_matched_means(a, b) == (3.0, 3.0)
    with pytest.raises(ValueError):
        kind_matched_means([("x", 1.0)], [("y", 1.0)])


def test_jobs_attributed_by_id_range():
    windows = [OpWindow(0, 0.0, 1.0, 0, 3),
               OpWindow(1, 1.5, 2.0, 3, 3),      # an op that ran no job
               OpWindow(2, 2.5, 4.0, 5, 7)]
    got = attribute_jobs(windows, range(8))
    assert got == {0: 0, 1: 0, 2: 0, 5: 2, 6: 2}
    # jobs 3-4 ran between ops (a correctness check), job 7 after the last
    assert 3 not in got and 4 not in got and 7 not in got


# ---------------------------------------------------------- driver self time
def test_union_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], lo=1.5, hi=5.5) == 2.0
    assert union_length([(1, 2), (1, 2)]) == 1
    assert union_length([]) == 0
    assert union_length([(3, 3)]) == 0


def test_self_time_is_wall_minus_job_union():
    # op from 10 to 20; jobs 11-14 and 13-16 overlap (5 s together), one
    # job ends after the op (clipped at 20)
    assert self_time(10, 20, [(11, 14), (13, 16), (19, 25)]) == \
        pytest.approx(10 - 5 - 1)
    assert self_time(10, 20, []) == 10          # driver-only op
    assert self_time(10, 20, [(9, 21)]) == 0    # all in one job


# --------------------------------------------------------- /proc CPU diff
def _p(pid, ppid, comm, u, s=0.0, cu=0.0, cs=0.0):
    return ProcStat(pid, ppid, start=pid, comm=comm, utime=u, stime=s,
                    cutime=cu, cstime=cs)


def _table(*procs):
    return {p.pid: p for p in procs}


def test_tree_is_labelled_driver_jvm_worker():
    procs = _table(_p(1, 0, "init", 9), _p(100, 1, "python3", 1),
                   _p(200, 100, "java", 1), _p(300, 200, "python3", 1),
                   _p(400, 300, "python3", 1), _p(150, 100, "sh", 1),
                   _p(500, 1, "other", 99))
    assert classify_tree(procs, 100) == {100: "driver", 150: "driver",
                                         200: "jvm", 300: "worker",
                                         400: "worker"}


def test_cpu_diff_survives_a_worker_exiting():
    before = _table(_p(100, 1, "python3", 2.0, 0.5, cu=7.0),
                    _p(200, 100, "java", 10.0, 1.0),
                    _p(300, 200, "python3", 0.2),
                    _p(400, 300, "python3", 3.0, 0.5),
                    _p(500, 1, "unrelated", 50.0))
    # worker 400 used 1.5 s more, exited and was reaped by the daemon (its
    # 5 s now sit in the daemon's cutime); worker 401 started and used 2 s;
    # the JVM used 4 s, the driver 0.5 s; the unrelated process is ignored
    after = _table(_p(100, 1, "python3", 2.5, 0.5, cu=7.0),
                   _p(200, 100, "java", 13.0, 2.0),
                   _p(300, 200, "python3", 0.2, cu=4.5, cs=0.5),
                   _p(401, 300, "python3", 2.0),
                   _p(500, 1, "unrelated", 80.0))
    d = cpu_diff(tree_cpu(before, 100), tree_cpu(after, 100))
    assert d["driver"] == pytest.approx(0.5)
    assert d["jvm"] == pytest.approx(4.0)
    assert d["worker"] == pytest.approx(1.5 + 2.0)
    assert d["total"] == pytest.approx(8.0)


def test_parse_stat_handles_spaces_in_comm():
    fields = ["S", "100", "1", "1", "0", "-1", "4194560", "0", "0", "0",
              "0", "250", "30", "7", "3", "20", "0", "12", "0", "98765"]
    raw = "4242 (py (worker) x) " + " ".join(fields) + " 0 0\n"
    st = parse_stat(4242, raw)
    assert (st.pid, st.ppid, st.comm, st.start) == \
        (4242, 100, "py (worker) x", 98765)
    assert (st.utime, st.stime, st.cutime, st.cstime) == \
        (250 / _TICK, 30 / _TICK, 7 / _TICK, 3 / _TICK)


# ------------------------------------------------------------------ spans
def _s(name, parent, start, end, thread=1):
    return {"op": 0, "name": name, "parent": parent, "depth": 0,
            "thread": thread, "start": start, "end": end}


def test_view_cache_hit_is_a_registration_without_table_reads():
    spans = [_s("engine.register_project_views", "engine.execute_query", 0, 1),
             _s("engine.read_table", "engine.register_project_views", .2, .3),
             _s("engine.register_project_views", "engine.execute_query", 2, 3),
             _s("engine.read_table", "engine.preview", 2.5, 2.6)]
    assert view_cache_hits(spans) == (1, 2)


def test_top_level_skips_nested_engine_calls():
    spans = [_s("engine.preview", None, 0, 1),
             _s("engine.read_table", "engine.preview", 0.1, 0.2),
             _s("engine.execute_query", "pg", 2, 3)]
    assert [s["name"] for s in top_level(spans, "engine.")] == \
        ["engine.preview", "engine.execute_query"]


def test_quartile_spread_matches_statistics():
    xs = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 1.0, 0.98, 1.02, 1.01]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / q2)
