"""Driver-contract smoke: entry() + queries()/oracle_sql() consistency.
The full oracle comparison runs via tests/oracle_harness.py (and the driver)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod


def test_entry_returns_violations(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"doc_id", "rule_id", "path", "observed"}


def test_query_oracle_key_consistency():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs), "every oracle must have a query"
    assert len(qs) >= 20
    assert len(oracles) >= 18


def test_sampled_oracle_parity(spark):
    """One representative oracle compared end-to-end in pytest (fast); the
    harness covers all of them."""
    from tests.oracle_harness import compare_query, duck_connection

    con = duck_connection()
    problems = compare_query(
        spark, con, "q_validate_documents",
        entrymod.queries()["q_validate_documents"],
        entrymod.oracle_sql()["q_validate_documents"],
    )
    assert problems == []
