from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from json_schema_py_spark.session import get_spark

    s = get_spark(app_name="jsps-tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def collect_violations(df) -> set[tuple]:
    return {(r["doc_id"], r["rule_id"], r["path"], r["observed"]) for r in df.collect()}
