"""Driver-contract registry invariants.

The correctness gate evaluates ~50 registry entries in registration
order, so the repo budget is exactly 50 slots with every oracle-backed
query registered BEFORE the rows-only custom vectorized operators —
otherwise an oracle-backed query could fall outside the gated window
and silently lose its hash check.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry

ROWS_ONLY = {
    "ann_lsh_ivf_topk",
    "multimodal_decode_features",
    "warc_roundtrip",
}


def test_registry_is_exactly_fifty_slots():
    assert len(entry.queries()) == 50


def test_every_oracle_has_a_query():
    q = entry.queries()
    missing = [n for n in entry.oracle_sql() if n not in q]
    assert missing == []


def test_rows_only_entries_are_registered_last():
    names = list(entry.queries())
    oracles = entry.oracle_sql()
    tail = names[-len(ROWS_ONLY):]
    assert set(tail) == ROWS_ONLY
    # everything before the tail is oracle-backed
    assert all(n in oracles for n in names[: -len(ROWS_ONLY)])


def test_rows_only_set_matches_docs():
    """The three rows-only ops are exactly the documented non-SQL-
    expressible ones (README 'Rows-only' list)."""
    q = entry.queries()
    oracles = entry.oracle_sql()
    assert {n for n in q if n not in oracles} == ROWS_ONLY
