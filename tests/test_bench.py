"""bench.time_queries, the rep loop shared by bench.py and
tools/probe.py, driven by a fake runner and a fake clock (no Spark);
bench._prev_medians, the rep0_hot_x base, over records in a temp dir."""

from __future__ import annotations

import json
from types import SimpleNamespace

import bench
from bench import time_queries


class _Clock:
    def __init__(self):
        self.now = 0.0

    def __call__(self) -> float:
        return self.now


def _fake_spark():
    groups: list[tuple[str, str]] = []
    sc = SimpleNamespace(
        setJobGroup=lambda g, d: groups.append((g, d)),
        _jsc=SimpleNamespace(getPersistentRDDs=dict))
    spark = SimpleNamespace(sparkContext=sc,
                            catalog=SimpleNamespace(clearCache=lambda: None))
    return spark, groups


def _runner(clock, cost, calls, fail=()):
    """Advance the clock by ``cost(name, n)`` (n: the call count of
    that name so far) and raise on the first call of names in
    ``fail``; ``calls`` records (name, start time)."""
    def run(spark, sf_dir, name):
        n = sum(1 for c, _ in calls if c == name)
        calls.append((name, clock.now))
        clock.now += cost(name, n)
        if name in fail and n == 0:
            raise RuntimeError("boom")
    return run


def test_rep0_runs_every_query_even_with_zero_budget():
    clock, calls = _Clock(), []
    spark, groups = _fake_spark()
    out = time_queries(spark, "sf", ["a", "b", "c"], 3, deadline=0.0,
                       run=_runner(clock, lambda n, i: 2.0, calls),
                       clock=clock)
    assert out == {"a": [2.0], "b": [2.0], "c": [2.0]}
    assert groups == [("bench-a", "a rep0"), ("bench-b", "b rep0"),
                      ("bench-c", "c rep0")]


def test_failure_records_minus_one_and_is_retried_first():
    clock, calls = _Clock(), []
    spark, groups = _fake_spark()
    costs = {"a": 1.0, "b": 5.0, "c": 2.0}
    out = time_queries(spark, "sf", ["a", "b", "c"], 2,
                       run=_runner(clock, lambda n, i: costs[n], calls,
                                   fail={"b"}),
                       clock=clock)
    assert [c for c, _ in calls] == ["a", "b", "c", "b", "a", "c"]
    assert out == {"a": [1.0, 1.0], "b": [-1.0, 5.0], "c": [2.0, 2.0]}
    assert groups[3] == ("bench-b", "b rep1")


def test_later_reps_take_the_cheapest_prefix_of_the_equal_share():
    clock, calls = _Clock(), []
    spark, _ = _fake_spark()
    costs = {"a": 10.0, "b": 1.0, "c": 3.0, "d": 2.0}
    # rep 0 ends at 16; rep 1's share is (22 - 16) / 2 = 3, which buys
    # b + d (3) but not c; rep 2's share is (22 - 19) / 1 = 3 again
    out = time_queries(spark, "sf", sorted(costs), 3, deadline=22.0,
                       run=_runner(clock, lambda n, i: costs[n], calls),
                       clock=clock)
    assert [c for c, _ in calls] == ["a", "b", "c", "d",
                                     "b", "d", "b", "d"]
    assert {n: len(v) for n, v in out.items()} == {
        "a": 1, "b": 3, "c": 1, "d": 3}


def test_no_query_starts_after_the_budget():
    clock, calls = _Clock(), []
    spark, _ = _fake_spark()
    # rep 0 costs 1 s a query; repeats cost 5 s, so rep 1 (share
    # (12 - 4) / 2 = 4, all four queries) overruns mid-rep
    out = time_queries(spark, "sf", ["a", "b", "c", "d"], 3,
                       deadline=12.0,
                       run=_runner(clock,
                                   lambda n, i: 1.0 if i == 0 else 5.0,
                                   calls),
                       clock=clock)
    assert all(t <= 12.0 for _, t in calls)
    assert [c for c, _ in calls] == ["a", "b", "c", "d", "a", "b"]
    assert {n: len(v) for n, v in out.items()} == {
        "a": 2, "b": 2, "c": 1, "d": 1}


def test_prev_medians_needs_same_sf_and_cpus(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "HERE", str(tmp_path))

    def write(name, rec):
        (tmp_path / name).write_text(json.dumps(rec))

    write("BENCH_detail.json", {"sf": 0.1, "cpus": 8, "queries": {"a": 2.0}})
    # driver-captured record: same sf, no cpus
    write("BENCH_r01.json", {"parsed": {"sf": 0.1, "queries": {"a": 1.0}}})
    assert bench._prev_medians(0.1, 4) == {}
    assert bench._prev_medians(0.1, 8) == {"a": 2.0}
    assert bench._prev_medians(0.01, 8) == {}
    write("BENCH_r02.json", {"parsed": {"sf": 0.1, "cpus": 4,
                                        "queries": {"a": 3.0}}})
    assert bench._prev_medians(0.1, 4) == {"a": 3.0}
