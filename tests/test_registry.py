"""Registry order invariants: the correctness harness verifies only the
first 50 queries() entries, so the order is derived from the
CORRECTNESS_r*.json records — least recently verified oracled queries
first, rows-only last."""

from __future__ import annotations

from beats_spark import queries as Q


def _green(*names: str) -> dict:
    return {n: {"hash_match": True} for n in names}


def test_window_is_the_first_fifty_and_fully_oracled():
    names = list(Q.queries())
    oracles = Q.oracle_sql()
    missing = [n for n in names[:50] if n not in oracles]
    assert missing == [], missing


def test_unproven_and_changed_queries_are_inside_the_window():
    # last-green rounds never decrease along the oracled order, so every
    # query verified less recently than the window's edge is inside it
    last = Q.last_green_round(Q._correctness_records())
    oracled = [n for n in Q.queries() if n in Q.ORACLES]
    rounds = [last.get(n, 0) for n in oracled]
    assert rounds == sorted(rounds)
    assert list(Q.oracle_sql()) == oracled


def test_registry_order_from_synthetic_records():
    names = ["old", "rows_only", "fresh", "never", "tie_a", "tie_b", "red"]
    oracled = {"old", "fresh", "never", "tie_a", "tie_b", "red"}
    records = {
        1: _green("old", "red", "tie_b", "tie_a"),
        2: {**_green("fresh", "tie_a", "tie_b"), "red": {"hash_match": False}},
        3: _green("fresh"),
    }
    assert Q.registry_order(names, oracled, records) == [
        "never", "old", "red", "tie_a", "tie_b", "fresh", "rows_only",
    ]
    # no records: registration order, rows-only still last
    assert Q.registry_order(names, oracled, {}) == [
        "old", "fresh", "never", "tie_a", "tie_b", "red", "rows_only",
    ]


def test_outside_window_only_long_green_or_rows_only():
    names = list(Q.queries())
    oracles = Q.oracle_sql()
    rows_only = [n for n in names if n not in oracles]
    # rows-only by declared design: community_id only (DuckDB lacks sha1;
    # reference vector pinned in pytest)
    assert rows_only == ["community_id"]
    assert names[-1:] == rows_only
    assert len(names) == 115 and len(oracles) == 114
