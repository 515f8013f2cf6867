"""Corpus curation: the training-data pipeline composed end to end.

A pretraining corpus pass = quality gate → exact dedup → near-dup removal,
each stage already a first-class operator here; this plan wires them into
ONE verdict per document — ``(doc_id, keep, reason)`` — with deterministic,
auditable drop reasons (no silent row loss: every input doc appears exactly
once in the output).

Stage order and reason priority (first matching wins):

1. ``too_short`` / ``too_long``   — token-count bounds (functions/text.tokens)
2. ``lang_mismatch``              — n-gram-heuristic language id
3. ``low_quality``                — stopword-ratio floor (boilerplate/garbage)
4. ``pii`` (opt-in)               — PII occurrence count above max_pii_total
                                    (operators/contamination.PII_PATTERNS)
5. ``exact_duplicate``            — same normalized-text fingerprint as a
                                    SURVIVING doc with a smaller id
6. ``near_duplicate``             — verified Jaccard ≥ threshold against
                                    ANY smaller-id doc in the dedup corpus
                                    (MinHash-LSH candidates, exact verify)
7. ``kept``

Dedup stages see only quality-surviving docs (dropping garbage first keeps
the shuffle small and mirrors production pipelines). The smaller-id-wins
policy is deterministic and ONE-PASS: a doc drops iff some lower-id member
of the dedup corpus duplicates it, whether or not that member itself drops
— no transitive-closure iteration, which at 10^12 docs would mean
multi-round connected components for marginal yield (every dropped doc's
content survives via its duplicate chain's minimum id either way).

Scale shape: the quality gate is a pure projection; exact dedup is one
salted-able groupBy of (fingerprint, id); near-dup discovery is the
MinHash-LSH bucket groupBy (ids-only shuffle, operators/dedup.py); the final
reason join re-attaches the drop lists by doc_id WITHOUT a broadcast hint —
a heavily duplicated web corpus can drop a large fraction of its docs, so
the drop lists are corpus-sized in the worst case;
AQE / the size threshold still auto-broadcasts genuinely small ones. Everything
is DuckDB-oracle-able — the driver gate checks the full verdict column
(q_curation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_schema_py_spark.functions.text import (
    lang_id,
    stopword_ratio,
    text_fingerprint,
    token_count,
)
from json_schema_py_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs_with_lsh_sweep,
)


def curate_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    max_tokens: int = 1000,
    lang: str | None = "en",
    min_stopword_ratio: float = 0.0,
    near_dup_threshold: float = 0.7,
    near_dup_method: str = "lsh",
    near_dup_policy: str = "pairs",
    ngram_max_bucket_rows: int = 1000,
    max_pii_total: int | None = None,
    max_dup_line_fraction: float | None = None,
    max_top_ngram_char_fraction: float | None = None,
    repetition_ngram_n: int = 2,
    persist_intermediates: bool = True,
    lm: "tuple[DataFrame, DataFrame, DataFrame] | None" = None,
    max_perplexity: float | None = None,
) -> DataFrame:
    """One row PER INPUT DOC: (doc_id, keep, reason) — see module doc.

    ``near_dup_method``: ``"lsh"`` (default) discovers near-dups with banded
    MinHash-LSH — the 10^12-doc path. ``"ngram"`` uses EXACT n-gram-Jaccard
    within length bands, with bands hotter than ``ngram_max_bucket_rows``
    automatically swept by LSH (ngram_jaccard_pairs_with_lsh_sweep) — a
    capped band's near-dups are still caught, never silently lost
    (pinned in tests/test_curation.py).

    ``max_pii_total``: docs whose PII occurrence count
    (operators/contamination.pii_scan classes) exceeds the cap drop with
    reason ``"pii"`` — slotted after ``low_quality`` in the priority chain,
    before dedup (PII docs never enter the dedup corpus: they must not
    survive as the smaller-id keeper of a duplicate family).

    ``lm`` + ``max_perplexity``: the CCNet-style perplexity
    gate — ``lm`` is a (vocab, unigrams, bigrams) triple from
    operators/lm.train_bigram_lm (train it on a REFERENCE corpus, not
    necessarily this one); docs whose add-1 bigram perplexity exceeds
    the cap drop with reason ``"high_perplexity"``, slotted after the
    repetition caps and before ``pii``. Docs with NULL perplexity
    (< 2 tokens) are NOT dropped by this gate — the token-count bounds
    own that regime.

    ``near_dup_policy``: ``"pairs"`` (default) drops the larger
    id of every verified pair — one pass, no iteration, but a TRANSITIVE
    family member that never directly pairs with the family minimum can
    survive (star family {1,5},{2,5}: 5 drops, 1 AND 2 both stay).
    ``"components"`` folds the pair graph into connected components
    (operators/dedup.dedup_clusters, O(diameter) bounded rounds over the
    pair set) and keeps EXACTLY the minimum id of each family — the
    standard LSH-dedup semantics when one representative per family is
    the contract. Both deterministic.

    ``"components"`` makes this plan-builder EAGER —
    dedup_clusters runs a driver loop of bounded Spark actions (one
    count per propagation round) at call time and leaves its final
    labels frame persisted (released by Spark's LRU / clearCache).
    ``"pairs"`` keeps the fully-lazy plan-builder contract; callers
    composing larger lazy plans should prefer it or call this plan last."""
    if near_dup_method not in ("lsh", "ngram"):
        raise ValueError(f"near_dup_method must be 'lsh' or 'ngram', got {near_dup_method!r}")
    if near_dup_policy not in ("pairs", "components"):
        raise ValueError(
            f"near_dup_policy must be 'pairs' or 'components', got {near_dup_policy!r}"
        )
    if (lm is None) != (max_perplexity is None):
        raise ValueError("lm and max_perplexity must be provided together")
    base_cols = [
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        token_count(F.col(text_col)).alias("_ntok"),
        lang_id(F.col(text_col)).alias("_lang"),
        stopword_ratio(F.col(text_col)).alias("_swr"),
        text_fingerprint(F.col(text_col)).alias("_fp"),
    ]
    rep_gate = (
        max_dup_line_fraction is not None or max_top_ngram_char_fraction is not None
    )
    if rep_gate:
        # materialize the repetition struct as a COLUMN so both threshold
        # branches read one evaluation (two inline field refs would embed
        # — and evaluate — the whole sort+fold struct twice per row)
        from json_schema_py_spark.functions.text import repetition_metrics

        base_cols.append(
            repetition_metrics(F.col(text_col), ngram_n=repetition_ngram_n).alias("_rm")
        )
    base = docs.select(*base_cols)
    if lm is not None:
        # perplexity is a JOIN (score_perplexity runs its own windowed
        # pipeline), not a projection — attach it to the staged frame once
        from json_schema_py_spark.operators.lm import score_perplexity

        _vocab, _uni, _bi = lm
        ppl = score_perplexity(
            docs, _vocab, _uni, _bi, text_col=text_col, id_col=id_col
        ).select("doc_id", F.col("perplexity").alias("_ppl"))
        base = base.join(ppl, "doc_id", "left")
    quality_reason = (
        F.when(F.col("_ntok") < min_tokens, F.lit("too_short"))
        .when(F.col("_ntok") > max_tokens, F.lit("too_long"))
        .when(
            F.lit(lang is not None) & (F.col("_lang") != F.lit(lang or "")),
            F.lit("lang_mismatch"),
        )
        .when(F.col("_swr") < min_stopword_ratio, F.lit("low_quality"))
    )
    if rep_gate:
        # Gopher-rule family: within-document repetition caps —
        # slotted after low_quality, before pii, so the drop-reason priority
        # stays a strict chain. Opt-in: thresholds are corpus policy.
        if max_dup_line_fraction is not None:
            quality_reason = quality_reason.when(
                F.col("_rm")["dup_line_fraction"] > max_dup_line_fraction,
                F.lit("repetitive"),
            )
        if max_top_ngram_char_fraction is not None:
            quality_reason = quality_reason.when(
                F.col("_rm")["top_ngram_char_fraction"] > max_top_ngram_char_fraction,
                F.lit("repetitive"),
            )
    if max_perplexity is not None:
        # NULL _ppl (< 2 tokens) never trips this gate — the token-count
        # bounds own that regime
        quality_reason = quality_reason.when(
            F.col("_ppl") > max_perplexity, F.lit("high_perplexity")
        )
    if max_pii_total is not None:
        from json_schema_py_spark.operators.contamination import pii_total_col

        quality_reason = quality_reason.when(
            pii_total_col(F.col("text")) > max_pii_total, F.lit("pii")
        )
    staged = base.withColumn("_qreason", quality_reason)
    if persist_intermediates:
        # the staged projection (tokenize + lang-id + stopword + fingerprint
        # over the FULL corpus) is referenced by five plan subtrees (exact
        # min-fp, its re-join, the dedup corpus, LSH's two corpus reads, the
        # final reason join) — without a persist each reference re-evaluates
        # it (measured 2701 s against ~175 s of actual LSH on a 2M-doc run).
        # MEMORY_AND_DISK: verdict-plan intermediates must never
        # recompute-on-evict mid-join. Released by Spark's LRU / clearCache;
        # pass persist_intermediates=False inside an outer plan that manages
        # its own caching.
        from pyspark import StorageLevel

        staged = staged.persist(StorageLevel.MEMORY_AND_DISK)
    surviving = staged.where(F.col("_qreason").isNull())

    # exact dedup among survivors: every id above the group minimum drops.
    # min() partial-aggregates map-side, so a boilerplate fingerprint shared
    # by 10^9 docs never concentrates on one reducer (collect_list would);
    # the re-join on _fp is AQE-skew-handled like the uniqueness check
    minfp = surviving.groupBy("_fp").agg(F.min("doc_id").alias("_keep_id"))
    exact_drops = (
        surviving.select("doc_id", "_fp")
        .join(minfp, "_fp")
        .where(F.col("doc_id") != F.col("_keep_id"))
        .select("doc_id", F.lit("exact_duplicate").alias("_dreason"))
    )

    # near-dup among survivors NOT already exact-dropped: drop the higher id
    # of every verified pair whose lower side is a survivor. exact_drops is
    # corpus-sized in the worst case (a boilerplate-heavy web corpus can be
    # mostly duplicates), so NO broadcast hint — the anti-join shuffles on
    # doc_id and AQE auto-broadcasts genuinely small drop lists
    dedup_corpus = surviving.join(
        exact_drops.select("doc_id"), "doc_id", "left_anti"
    )
    if near_dup_method == "ngram":
        pairs = ngram_jaccard_pairs_with_lsh_sweep(
            dedup_corpus, text_col="text", id_col="doc_id",
            threshold=near_dup_threshold,
            max_bucket_rows=ngram_max_bucket_rows,
        )
    else:
        pairs = minhash_lsh_pairs(
            dedup_corpus, text_col="text", id_col="doc_id", threshold=near_dup_threshold
        )
    if near_dup_policy == "components":
        from json_schema_py_spark.operators.dedup import dedup_clusters

        near_drops = (
            dedup_clusters(pairs)
            .where(F.col("doc_id") != F.col("cluster_id"))
            .select("doc_id", F.lit("near_duplicate").alias("_dreason"))
        )
    else:
        near_drops = (
            pairs.select(F.col("id_b").alias("doc_id"))
            .distinct()
            .select("doc_id", F.lit("near_duplicate").alias("_dreason"))
        )

    # same reasoning: the combined drop list is unbounded — plain left join
    drops = exact_drops.unionByName(near_drops)
    out = staged.join(drops, "doc_id", "left")
    reason = F.coalesce(F.col("_qreason"), F.col("_dreason"), F.lit("kept"))
    return out.select(
        "doc_id",
        (reason == "kept").alias("keep"),
        reason.alias("reason"),
    )
