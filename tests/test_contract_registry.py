"""Registry-order invariants: the driver records (at most) the first
~50 entries of queries() in dict order, so everything that must appear
in CORRECTNESS_r{N}.json is named in contract.DRIVER_HEAD, which the
registry puts first; every other entry follows, sorted by name."""

from __future__ import annotations

from poc_spark.contract import DRIVER_HEAD, REGISTRY

WINDOW = 50


def test_driver_head_is_the_window_prefix():
    names = list(REGISTRY)
    assert len(DRIVER_HEAD) <= WINDOW
    assert names[: len(DRIVER_HEAD)] == DRIVER_HEAD


def test_must_be_green_rows_only_entries_inside_window():
    assert "mm_decode" in DRIVER_HEAD  # round-1 red row's successor — now oracled


def test_tail_is_sorted():
    tail = list(REGISTRY)[len(DRIVER_HEAD):]
    assert tail == sorted(tail)


def test_no_duplicate_or_lost_entries():
    names = list(REGISTRY)
    assert len(names) == len(set(names))
    assert len(DRIVER_HEAD) == len(set(DRIVER_HEAD))
    assert set(DRIVER_HEAD) <= set(names)
