"""Tests of the benchmark's own metric math.

    python3 -m pytest perfbench -q
"""

import pytest

from perfbench.metrics import (
    Tracer,
    account,
    beyond,
    highest_supported,
    percentile,
    self_time,
)


def test_percentile_is_nearest_rank_with_count():
    values = [5, 1, 4, 2, 3]
    assert percentile(values, 50) == (3, 5)
    assert percentile(values, 100) == (5, 5)
    assert percentile(values, 1) == (1, 5)
    # never interpolates: p90 of 1..10 is a sample, 9
    assert percentile(list(range(1, 11)), 90) == (9, 10)
    assert percentile(list(range(1, 11)), 91) == (10, 10)


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1], 0)
    with pytest.raises(ValueError):
        percentile([1], 101)


def test_highest_supported_percentile_needs_ten_beyond():
    assert beyond(1000, 99) == 10
    assert highest_supported(1000) == 99.0
    assert highest_supported(999) == 90.0   # p99 would leave only 9 beyond
    assert highest_supported(10_000) == 99.9
    assert highest_supported(100_000) == 99.99
    assert highest_supported(20) == 50.0
    assert highest_supported(19) is None


def _s(start, end):
    return {"start": start, "end": end}


def test_self_time_subtracts_children_once():
    parent = _s(0.0, 10.0)
    assert self_time(parent, []) == 10.0
    assert self_time(parent, [_s(1, 3), _s(5, 6)]) == 7.0
    # overlapping children are not subtracted twice
    assert self_time(parent, [_s(1, 4), _s(2, 5)]) == 6.0
    # children are clipped to the parent; disjoint ones ignored
    assert self_time(parent, [_s(-2, 1), _s(9, 12), _s(20, 30)]) == 8.0


def test_tracer_self_times_by_name():
    tr = Tracer("t", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    outer = tr.spans[0]
    inner = tr.spans[1:]
    assert all(s["parent"] == outer["id"] for s in inner)
    st = tr.self_times()
    total_inner = sum(s["end"] - s["start"] for s in inner)
    assert st["inner"] == pytest.approx(total_inner)
    assert st["outer"] == pytest.approx(
        outer["end"] - outer["start"] - total_inner)


def test_disabled_tracer_records_nothing():
    tr = Tracer("t", enabled=False)
    with tr.span("x") as sp:
        assert sp is None
    tr.record("y", 0.0, 1.0)
    assert tr.spans == []


EXPECTED = [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_account_clean_stream():
    c = account(EXPECTED, list(EXPECTED))
    assert c["failed"] == 0 and c["failed_ratio"] == 0.0


def test_account_drop_counts_as_missing():
    c = account(EXPECTED, [(1, "a"), (2, "b"), (4, "d")])
    assert c["missing"] == 1
    assert c["failed"] == 1 and c["failed_ratio"] == 0.25


def test_account_duplicate_and_unexpected():
    c = account(EXPECTED, [(1, "a"), (2, "b"), (2, "b"), (3, "c"), (4, "d"),
                           (9, "z")])
    assert c["duplicate"] == 1 and c["unexpected"] == 1
    assert c["failed"] == 2 and c["failed_ratio"] == 0.5


def test_account_out_of_order_and_wrong_bytes():
    c = account(EXPECTED, [(1, "a"), (3, "c"), (2, "b"), (4, "D")])
    assert c["out_of_order"] == 1   # 2 arrived after 3
    assert c["wrong"] == 1          # 4's bytes differ
    assert c["missing"] == 0
    assert c["failed"] == 2


def test_account_one_class_per_line():
    # a late line that is also wrong counts once, as wrong
    c = account(EXPECTED, [(1, "a"), (3, "c"), (2, "B"), (4, "d")])
    assert (c["wrong"], c["out_of_order"], c["failed"]) == (1, 0, 1)


def test_tracer_overhead_prices_recorded_spans():
    tr = Tracer("t", enabled=True)
    for _ in range(3):
        with tr.span("x"):
            pass
    o = tr.overhead()
    assert o["spans"] == 3 and o["per_span_us"] > 0
    assert o["total_s"] == pytest.approx(3 * o["per_span_us"] / 1e6)


def test_expected_admitted_drops_planted_duplicates():
    from perfbench.gen import expected_admitted

    words = [f"w{i}" for i in range(60)]
    base = " ".join(["the"] * 20 + words)
    near = base.replace("w30", "zz")          # one word changed
    other = " ".join(["a"] * 20 + [f"v{i}" for i in range(60)])
    short = "the a of"                        # under 10 tokens
    rows = [(5, base), (2, near), (9, base), (4, other), (7, short)]
    admitted, counts = expected_admitted(rows)
    # 9 copies 5 exactly; 5 and 2 are one near-duplicate cluster kept
    # by its smallest id; 7 fails the quality rule
    assert admitted == {2, 4}
    assert counts["quality_or_exact_dup"] == 2 and counts["near_dup"] == 1
    assert counts["verified_pairs"] == 3      # (2, 5), (2, 9), (5, 9)
