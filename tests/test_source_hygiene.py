"""Source hygiene checks that need no Spark session."""

from __future__ import annotations

import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "json_schema_py_spark"

# the same pattern as `grep -rniE "round[- ][0-9]|\br0[0-9]\b"`
ROUND_HISTORY = re.compile(r"round[- ][0-9]|\br0[0-9]\b", re.IGNORECASE)


def test_package_comments_carry_no_round_history():
    """Comments and docstrings state invariants; the history of how the
    code got there belongs in CHANGES.md."""
    hits = [
        f"{path.relative_to(PACKAGE.parent)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
        if ROUND_HISTORY.search(line)
    ]
    assert hits == [], "\n".join(hits)
