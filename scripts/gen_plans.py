#!/usr/bin/env python
"""Regenerate PLANS.md from the LIVE optimizer output so the document can
never drift from the code (a hand-captured plan dump goes stale with the
next plan change).

    python scripts/gen_plans.py          # rewrites PLANS.md in place
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
MAX_LINE = 400  # elide giant rule-expression bodies


def formatted(df, spark) -> str:
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    out = []
    for line in plan.splitlines():
        out.append(line if len(line) < MAX_LINE else line[: MAX_LINE - 20] + " …<elided>")
    return "\n".join(out).rstrip()


def main() -> int:
    from pyspark.sql import functions as F

    from json_schema_py_spark.operators.dedup import minhash_lsh_pairs
    from json_schema_py_spark.operators.referential import spans_fk_violations
    from json_schema_py_spark.operators.stats import column_stats
    from json_schema_py_spark.operators.uniqueness import duplicate_keys
    from json_schema_py_spark.schema.compiler import with_violations
    from json_schema_py_spark.session import get_spark
    from json_schema_py_spark.sources.synth import (
        DOCUMENTS_RULESET,
        media_dim,
        spans_documents,
    )

    spark = get_spark(cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF}/documents.parquet")

    ann = with_violations(spans_documents(spark, SF), DOCUMENTS_RULESET)
    sections = [
        (
            "Per-row validation (fused stats+constraint pass input)",
            "with_violations(spans_documents(...), DOCUMENTS_RULESET) + the "
            "count/violations aggregate — ONE Project over ONE scan, the only "
            "Exchange is the one-row-per-partition final aggregate; the "
            "boolean fires gate (bounded-array UNROLLED, whole-stage codegen) "
            "and the violation constructor live in the same projection.",
            ann.agg(F.count(F.lit(1)), F.sum(F.size("violations"))),
        ),
        (
            "Fused column statistics",
            "column_stats(docs, [n_chars, lang, source]) — every metric for "
            "every watched column in ONE HashAggregate over ONE scan; "
            "map-side partials mean the shuffle carries one row per "
            "partition at any corpus size; unwatched columns pruned at the "
            "scan.",
            column_stats(docs, ["n_chars", "lang", "source"]),
        ),
        (
            "Salted two-stage uniqueness",
            "duplicate_keys(spans, doc_id) — stage 1 groups on (key, salt) "
            "so a hot key spreads over 64 reducers; stage 2 sums the tiny "
            "partials per key. Both stages partial-aggregate map-side.",
            duplicate_keys(spans_documents(spark, SF), "doc_id"),
        ),
        (
            "Referential FK anti-join",
            "spans_fk_violations(spans, media_dim) — posexplode of span "
            "refs, BroadcastHashJoin LeftAnti against the (tiny) media "
            "dimension; the big side never shuffles.",
            spans_fk_violations(spans_documents(spark, SF), media_dim(spark)),
        ),
        (
            "MinHash-LSH near-dup pairs",
            "The md5 band-key fold runs once per document and hashes each "
            "shingle once (ONE md5 call; the 16 permutations are affine "
            "arithmetic on that value): ONE Generate "
            "posexplode feeds ONE (band, bkey) groupBy, whose exchange "
            "carries ids only — no text or shingles ride a table-sized "
            "shuffle, and no self-join branch re-evaluates the fold. Each "
            "bucket with more than one id yields its pairs (id_a < id_b, "
            "deduplicated across bands); the pairs, exploded to pair sides, "
            "are broadcast against the un-shuffled (id, text) projection, "
            "shingles are built only for the matched rows, and one "
            "candidate-sized aggregate zips sh_a with sh_b before the exact "
            "Jaccard verify. Asserted in tests/test_plan_shapes.py::"
            "test_lsh_band_exchange_carries_ids_only, "
            "::test_lsh_band_fold_runs_once_and_shingles_only_candidates and "
            "::test_lsh_band_fold_hashes_each_shingle_once.",
            minhash_lsh_pairs(docs),
        ),
    ]

    from json_schema_py_spark.operators.incremental import (
        corpus_index,
        incremental_dedup,
    )

    ex_idx, band_idx = corpus_index(docs.where("doc_id < 400"))
    probe_batch = docs.where("doc_id >= 400").select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    sections.append(
        (
            "Incremental cross-snapshot dedup probe",
            "incremental_dedup(batch, corpus, exact_index, band_index) — "
            "the exact probe is one equi-join on fingerprint (index side "
            "pre-distinct, AQE decides broadcast); the band probe joins "
            "batch×bands id-only rows against the (band, bkey)-clustered "
            "index; the verify step SEMI-JOINS the corpus to the candidate "
            "id set BEFORE tokenizing, so shingles are computed only for "
            "referenced corpus docs; best-match is a per-new_id window. "
            "No forced broadcasts anywhere (asserted in "
            "tests/test_incremental.py::test_incremental_no_forced_broadcast).",
            incremental_dedup(probe_batch, docs.where("doc_id < 400"), ex_idx, band_idx),
        )
    )

    parts = [
        "# PLANS — `.explain(\"formatted\")` of the headline operators\n\n"
        "REGENERATED from the live optimizer by `python scripts/gen_plans.py`\n"
        "(run it after any operator change — hand-captured dumps go stale).\n"
        "Captured at sf0.001; plan SHAPES are scale-invariant (AQE may\n"
        "further coalesce at runtime), and the same properties are ASSERTED\n"
        "in tests/test_plan_shapes.py so regressions fail fast. Long\n"
        "rule-expression bodies are elided for readability.\n"
    ]
    for title, blurb, df in sections:
        parts.append(f"\n## {title}\n\n{blurb}\n\n```\n{formatted(df, spark)}\n```\n")
    with open(REPO / "PLANS.md", "w") as fh:
        fh.write("".join(parts))
    print("PLANS.md regenerated")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
