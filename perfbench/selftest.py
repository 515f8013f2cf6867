#!/usr/bin/env python3
"""Self-test of the benchmark, run from the root of a checkout:

    python3 perfbench/selftest.py

1. Each workload runs end to end at a tiny size and must
   report ``correct: true`` with every metric present.
2. Tampered copies of a real pass output must fail the correctness check:
   the validation job with one violation row dropped and with one verdict's
   pass flag flipped; curation with one verdict flipped and with one doc
   dropped.
3. In a directory holding only the benchmark, the benchmark must exit
   non-zero without printing a result.

Exits 0 when every case behaves, 1 otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import run  # noqa: E402

TINY = {"validate_job": 3_000, "curate_lowdup": 1_500, "curate_dup": 4_000}
SEED = 7


def _run(workload: str) -> tuple[dict, str]:
    """Run one workload tiny; return its result line and kept work dir."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "5", "--trace", "0",
           "--n-docs", str(TINY[workload]), "--keep-outputs"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{workload}: exit {out.returncode}\n{out.stderr[-3000:]}")
    line = json.loads(out.stdout.strip().splitlines()[-1])
    key = f"{workload}-s{SEED}-n{TINY[workload]}-g"
    work = max(glob.glob(os.path.join(run.WORK_ROOT, "work", key + "*-t0-*")), key=os.path.getmtime)
    return line, work


def _rewrite(path: str, sql: str) -> None:
    """Replace a parquet output directory with ``sql`` over its rows (view t)."""
    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE TABLE t AS SELECT * FROM {oracle._pq(path)}")
    shutil.rmtree(path)
    os.makedirs(path)
    con.sql(f"COPY ({sql}) TO '{os.path.join(path, 'part-0.parquet')}' (FORMAT parquet)")


def _tampered(src: str, name: str, edit) -> str:
    dst = os.path.join(tempfile.mkdtemp(dir=os.path.dirname(src)), name)
    shutil.copytree(src, dst)
    edit(dst)
    return dst


def main() -> int:
    problems: list[str] = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for workload in TINY:
        line, work = _run(workload)
        names = {m["name"] for m in json.load(open("BENCHMARK.json"))["end_to_end"]}
        expect(line["correct"] and line["failed"] == 0 and names <= set(line["metrics"]),
               f"{workload}: tiny run is correct and reports {sorted(names)}")
        out = os.path.join(work, "timed0")
        with open(os.path.join(work, "config.json")) as f:
            cfg = json.load(f)
        if workload == "validate_job":
            exp = oracle.validate_expectations(cfg["n_docs"])
            stdout = (f"streaming drift arm: identical=True\nviolations so far: {exp['per_row']} "
                      f"per-row + {exp['cross_row']} cross-row + {exp['drift']} drift")
            expect(oracle.check_validate(out, "bench", stdout, exp) == [],
                   "validate_job: the kept output passes its check")
            dropped = _tampered(out, "dropped", lambda d: _rewrite(
                d + "/violations", "SELECT * FROM t LIMIT (SELECT count(*) - 1 FROM t)"))
            expect(oracle.check_validate(dropped, "bench", stdout, exp) != [],
                   "validate_job: one dropped violation row fails the check")
            flipped = _tampered(out, "flipped", lambda d: _rewrite(
                d + "/lineage", "SELECT * REPLACE (NOT pass AS pass) FROM t"))
            expect(oracle.check_validate(flipped, "bench", stdout, exp) != [],
                   "validate_job: one flipped verdict fails the check")
        else:
            args = (cfg["input_dir"], cfg["expect_path"], cfg["params"])
            expect(oracle.check_curation(out, *args) == [],
                   f"{workload}: the kept output passes its check")
            flipped = _tampered(out, "flipped", lambda d: _rewrite(d, """
SELECT doc_id,
  CASE WHEN doc_id = (SELECT min(doc_id) FROM t WHERE reason = 'kept') THEN false ELSE keep END AS keep,
  CASE WHEN doc_id = (SELECT min(doc_id) FROM t WHERE reason = 'kept') THEN 'exact_duplicate'
       ELSE reason END AS reason
FROM t"""))
            expect(oracle.check_curation(flipped, *args) != [],
                   f"{workload}: one flipped verdict fails the check")
            dropped = _tampered(out, "dropped", lambda d: _rewrite(
                d, "SELECT * FROM t WHERE doc_id <> (SELECT max(doc_id) FROM t)"))
            expect(oracle.check_curation(dropped, *args) != [],
                   f"{workload}: one dropped doc fails the check")
        shutil.rmtree(work, ignore_errors=True)

    bare = tempfile.mkdtemp(dir=run.WORK_ROOT)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "validate_job",
                          "--seed", "1", "--seconds", "5", "--trace", "0"],
                         cwd=bare, capture_output=True, text=True, timeout=180)
    expect(out.returncode != 0 and not out.stdout.strip(),
           "a directory with only the benchmark exits non-zero without a result")
    shutil.rmtree(bare, ignore_errors=True)
    print("self-test:", "PASS" if not problems else f"{len(problems)} FAILED")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
