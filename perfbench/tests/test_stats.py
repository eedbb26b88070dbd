"""Percentile/tail rule and span arithmetic."""

import pytest

from perfbench.stats import (
    STAGE_DEPS,
    build_accounting,
    critical_path,
    self_time,
    tail,
    union_length,
)


def test_tail_needs_more_than_ten_samples():
    assert tail([1.0] * 10) is None
    assert tail([]) is None


def test_tail_keeps_ten_samples_beyond():
    values = [float(v) for v in range(1, 21)]  # 20 samples
    pct, value, n = tail(values[::-1])
    assert (pct, value, n) == (50.0, 10.0, 20)
    assert sum(v > value for v in values) == 10


def test_tail_of_hundred_is_p90():
    values = [float(v) for v in range(100)]
    pct, value, n = tail(values)
    assert pct == 90.0 and value == 89.0 and n == 100
    assert sum(v > value for v in values) == 10


def test_union_merges_overlaps_and_clips():
    ivs = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert union_length(ivs, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)
    assert union_length([], 0.0, 10.0) == 0.0
    assert union_length([(2.0, 1.0)], 0.0, 10.0) == 0.0


def test_self_time_subtracts_covered_part_once():
    # two overlapping children cover [1, 4] of a [0, 10] parent
    assert self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0)]) == pytest.approx(7.0)
    assert self_time(0.0, 10.0, []) == pytest.approx(10.0)


def test_critical_path_follows_latest_dependency():
    spans = {
        "cells": (0.0, 2.0),
        "mentions": (0.0, 1.0),
        "postings": (2.0, 3.0),
        "attributes": (2.0, 3.5),
        "pred_merge_map": (2.0, 4.0),
        "clusters": (2.0, 6.0),
        "join_results": (1.0, 2.5),
        "resolved": (4.0, 5.0),
        "pred_dtypes": (4.0, 4.5),
        "triples": (6.0, 7.0),
    }
    assert set(spans) == set(STAGE_DEPS)
    assert critical_path(spans) == ["cells", "clusters", "triples"]
    spans["resolved"] = (4.0, 6.5)
    spans["triples"] = (6.5, 7.0)
    assert critical_path(spans) == ["cells", "pred_merge_map", "resolved", "triples"]


def test_build_accounting_spans_plus_gap_equal_wall():
    spans = {"cells": (1.0, 3.0), "mentions": (1.0, 2.0), "triples": (4.0, 5.0)}
    acc = build_accounting(0.0, 6.0, spans)
    assert acc["wall_s"] == 6.0
    assert acc["covered_s"] == pytest.approx(3.0)
    assert acc["driver_gap_s"] == pytest.approx(3.0)
    assert acc["covered_s"] + acc["driver_gap_s"] == pytest.approx(acc["wall_s"])
    assert acc["stage_overlap"] == pytest.approx(4.0 / 6.0)
    # triples has no recorded dependency here, so the path is triples alone
    assert acc["critical_path_s"] == pytest.approx(1.0)
