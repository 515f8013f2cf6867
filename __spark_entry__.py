"""Driver contract for the spark-graft builder (PySpark target).

Every ``queries()`` entry is an implemented operator of json_schema_py_spark
(SURVEY.md §2 + the training-pipeline additions); ``oracle_sql()`` holds the
independent DuckDB derivation of the same result. The validation oracles do
NOT re-run the engine's mechanics — they compute the expected violation set
directly from the deterministic plant arithmetic (sources/synth.py), which
makes them a true differential check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------- rulesets

LINEITEM_RULESET = {
    "type": "object",
    "properties": {
        "l_quantity": {"type": "number", "minimum": 5},
        "l_discount": {"type": "number", "maximum": 0.06},
        "l_returnflag": {"enum": ["A", "N"]},
        "l_linenumber": {"type": "integer", "minimum": 1, "maximum": 7},
    },
}

PROPS_RULESET = {
    "type": "object",
    "properties": {
        "props": {
            "type": "object",
            "minProperties": 1,
            "propertyNames": {"pattern": "^[a-z]+$"},
            "additionalProperties": {"type": "integer", "minimum": 50},
        }
    },
}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------- queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full validation plan (2 rulesets + uniqueness + FK) over the
    derived interleaved documents table at sf0.001."""
    from json_schema_py_spark.plans.validation import run_validation
    from json_schema_py_spark.sources.synth import (
        DOCUMENTS_RULESET,
        MEDIA_DEPENDENCY_RULESET,
        media_dim,
        spans_documents,
    )

    sd = spans_documents(spark, "/root/testdata/sf0.001")
    run = run_validation(
        sd,
        {"structural": DOCUMENTS_RULESET, "media_dep": MEDIA_DEPENDENCY_RULESET},
        media_dim=media_dim(spark),
    )
    return run.violations


def q_validate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.schema.compiler import validate
    from json_schema_py_spark.sources.synth import DOCUMENTS_RULESET, spans_documents

    return validate(spans_documents(spark, sf_dir), DOCUMENTS_RULESET)


def q_validate_media_dep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO arms in one gate query (round-6 consolidation — the driver
    records at most 50 CORRECTNESS rows, so same-fixture variants merge
    into multi-arm queries with an ``arm`` discriminator; VERDICT r05
    item 1): ``basic`` is the plain anyOf failure set; ``verbose`` is
    round-2 verbose mode on the Column path, where a failed anyOf emits
    per-branch anyOf[i]:-prefixed details after ANY_OF_NO_MATCH
    (reference logical.py:206-222)."""
    from json_schema_py_spark.schema.compiler import validate
    from json_schema_py_spark.sources.synth import MEDIA_DEPENDENCY_RULESET, spans_documents

    sd = spans_documents(spark, sf_dir)
    basic = validate(sd, MEDIA_DEPENDENCY_RULESET).withColumn("arm", F.lit("basic"))
    verbose = validate(sd, MEDIA_DEPENDENCY_RULESET, verbose=True).withColumn(
        "arm", F.lit("verbose")
    )
    return basic.unionByName(verbose)


def q_doc_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.schema.compiler import with_violations
    from json_schema_py_spark.sources.synth import DOCUMENTS_RULESET, spans_documents

    sd = spans_documents(spark, sf_dir)
    return with_violations(sd, DOCUMENTS_RULESET).select(
        F.col("src_id"),
        F.col("valid"),
        F.size("violations").alias("n_violations"),
    )


def q_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.operators.uniqueness import duplicate_keys
    from json_schema_py_spark.sources.synth import spans_documents

    return duplicate_keys(spans_documents(spark, sf_dir), "doc_id")


def q_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.operators.referential import spans_fk_violations
    from json_schema_py_spark.sources.synth import media_dim, spans_documents

    return spans_fk_violations(spans_documents(spark, sf_dir), media_dim(spark))


def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.operators.stats import column_stats

    s = column_stats(
        _docs(spark, sf_dir), ["n_chars", "lang", "source"], exact_distinct=True
    )
    return s.select(
        "column",
        "n_rows",
        "n_null",
        "n_distinct",
        "min_str",
        "max_str",
        F.round("mean", 4).alias("mean_r"),
    )


def q_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.operators.stats import column_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = column_stats(
        li, ["l_quantity", "l_extendedprice", "l_discount"], exact_distinct=True
    )
    return s.select(
        "column", "n_rows", "n_null", "n_distinct", "min", "max",
        F.round("mean", 4).alias("mean_r"),
    )


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.operators.drift import histogram, psi

    d = _docs(spark, sf_dir)
    base = histogram(d.where(F.col("doc_id") < 250), "n_chars", 0.0, 600.0, 12)
    cur = histogram(d.where(F.col("doc_id") >= 250), "n_chars", 0.0, 600.0, 12)
    return psi(cur, base)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.functions.text import lang_id, quality_metrics

    return _docs(spark, sf_dir).select(
        "doc_id",
        quality_metrics(F.col("text")).alias("q"),
        lang_id(F.col("text")).alias("lang_pred"),
    ).select(
        "doc_id",
        F.col("q.n_chars").alias("n_chars"),
        F.col("q.n_tokens").alias("n_tokens"),
        F.col("q.stopword_ratio").alias("stopword_ratio"),
        F.col("q.mean_token_len").alias("mean_token_len"),
        "lang_pred",
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All per-doc token/fingerprint signals in ONE projection (round-6
    consolidation: absorbs the former q_fingerprints — same fixture,
    same projection family, one CORRECTNESS row)."""
    from json_schema_py_spark.functions.text import (
        bpe_ish_token_count,
        regex_token_count,
        rolling_fingerprint,
        text_fingerprint,
        token_count,
    )

    return _docs(spark, sf_dir).select(
        "doc_id",
        text_fingerprint(F.col("text")).alias("fp"),
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
        regex_token_count(F.col("text")).alias("regex_tokens"),
        rolling_fingerprint(F.col("text")).alias("rolling_fp"),
    )


def q_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO arms (round-6 consolidation): ``long_id`` is round-2 GPT-style
    sequence packing — every doc's position in the global token
    concatenation and its fixed-window assignment via the two-pass
    distributed prefix sum (operators/packing.py). ``str_id`` (round-3,
    VERDICT r02 item 9) re-runs it over a STRING-keyed corpus whose ids
    'd<doc_id>' sort LEXICOGRAPHICALLY (d1 < d10 < d2 …), exercising the
    order-preserving surrogate bucketing. Both oracles are the naive
    global window; doc_id is normalized to string so the arms share one
    schema."""
    from json_schema_py_spark.operators.packing import assign_token_spans

    d = _docs(spark, sf_dir)
    payload = ["n_tokens", "start_tok", "first_pack", "last_pack"]
    num = assign_token_spans(d, max_tokens=512).select(
        F.lit("long_id").alias("arm"),
        F.col("doc_id").cast("string").alias("doc_id"),
        *payload,
    )
    ds = d.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("doc_id"),
        "text",
    )
    s = assign_token_spans(ds, max_tokens=512).select(
        F.lit("str_id").alias("arm"), "doc_id", *payload
    )
    return num.unionByName(s)


def q_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO arms (round-6 consolidation): ``budget`` is round-3
    quality-first selection to a global token budget via the two-pass
    distributed prefix sum ordered by (quality DESC, id) — n_chars stands
    in as the quality score. ``mixture`` is round-4 data mixing: fill a
    3000-token budget at weights src0:2, src1:1, src2:1 with
    best-quality-first per-source prefixes; docs from unlisted sources
    come back keep=False/NULL. Oracles are the naive (per-source)
    windows; the budget arm carries source=NULL."""
    from json_schema_py_spark.operators.packing import (
        select_mixture,
        select_to_token_budget,
    )

    budget = select_to_token_budget(
        _docs(spark, sf_dir), budget_tokens=10000, quality_col="n_chars"
    ).select(
        F.lit("budget").alias("arm"),
        "doc_id",
        F.lit(None).cast("string").alias("source"),
        "n_tokens",
        "cum_tokens",
        "keep",
    )
    d = _docs(spark, sf_dir).select("doc_id", "text", "source", "n_chars")
    mixture = select_mixture(
        d, 3000, {"src0": 2.0, "src1": 1.0, "src2": 1.0}, quality_col="n_chars"
    ).select(
        F.lit("mixture").alias("arm"),
        "doc_id",
        "source",
        "n_tokens",
        "cum_tokens",
        "keep",
    )
    return budget.unionByName(mixture)


def q_pack_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-writer manifest over the packed token stream: per-window doc
    and landing-token counts (exact tiling of the global concatenation)."""
    from json_schema_py_spark.operators.packing import assign_token_spans, pack_summary

    spans = assign_token_spans(_docs(spark, sf_dir), max_tokens=512)
    return pack_summary(spans, max_tokens=512)


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two arms (round-6 incremental addition under the 50-row gate cap):

    * 'groups' — exact dedup over documents ∪ planted byte copies
      (ids +100000), the original q_exact_dedup surface.
    * 'incremental' — cross-snapshot dedup of a planted batch (5 exact
      copies +100000, 5 near-copies +200000 with 2 appended tokens, 2
      novel docs +300000) against the corpus snapshot's persisted
      indexes. The oracle recomputes the ENTIRE pipeline from scratch:
      normalized fingerprints, all 16 md5-affine minhashes, the 4 banded
      bucket keys (sentinel for shingle-less docs), the bucket cap, the
      band-collision candidate set, exact-Jaccard verification, and the
      (max jaccard, min id) best-match tie-break — so this single row
      attests corpus_index + incremental_dedup end to end.
    """
    from json_schema_py_spark.operators.dedup import exact_duplicates
    from json_schema_py_spark.operators.incremental import (
        corpus_index,
        incremental_dedup,
    )

    d = _docs(spark, sf_dir)
    extra = d.where(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    groups = exact_duplicates(d.unionByName(extra)).select(
        F.lit("groups").alias("arm"),
        F.col("fingerprint").alias("key"),
        F.col("ids").getItem(0).alias("id_a"),
        F.col("ids").getItem(1).alias("id_b"),
        F.col("cnt"),
        F.lit(None).cast("double").alias("score"),
    )

    batch = (
        d.where(F.col("doc_id") < 5)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        .unionByName(
            d.where(F.col("doc_id") < 5).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zzzz yyyy")).alias("text"),
            )
        )
        .unionByName(
            d.where(F.col("doc_id") < 2).select(
                (F.col("doc_id") + 300000).alias("doc_id"),
                F.concat(
                    F.lit("totally novel sentence number "),
                    F.col("doc_id").cast("string"),
                    F.lit(" with no corpus counterpart at all"),
                ).alias("text"),
            )
        )
    )
    exact_idx, band_idx = corpus_index(d)
    inc = incremental_dedup(batch, d, exact_idx, band_idx).select(
        F.lit("incremental").alias("arm"),
        F.col("verdict").alias("key"),
        F.col("doc_id").alias("id_a"),
        F.col("matched_id").alias("id_b"),
        F.lit(None).cast("long").alias("cnt"),
        F.col("jaccard").alias("score"),
    )
    return groups.unionByName(inc)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.operators.dedup import ngram_jaccard_pairs

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 120)
    pairs = ngram_jaccard_pairs(d, threshold=0.0, bucket_by_token_count=False)
    return pairs.orderBy(F.desc("jaccard"), "id_a", "id_b").limit(25)


def q_combined_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 (VERDICT r03 item 6): MinHash + SimHash in ONE projection
    over ONE tokenize pass — bit-identical to the standalone operators.
    The oracle recomputes BOTH signature families from scratch (it
    composes the former standalone q_minhash SQL with the simhash CTE and
    joins), so this row fully attests minhash_signatures too — the
    standalone q_minhash query was absorbed here in round 6 to free a
    gate slot under the driver's 50-row cap."""
    from json_schema_py_spark.operators.dedup import combined_signatures

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 50)
    sigs = combined_signatures(d, num_hashes=4)
    return sigs.select(
        "id",
        *[F.get(F.col("sig"), i).alias(f"mh{i}") for i in range(4)],
        "simhash",
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.operators.dedup import minhash_lsh_pairs

    d = _docs(spark, sf_dir)
    extra = d.where(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return minhash_lsh_pairs(d.unionByName(extra), threshold=0.7)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-6: fastText/CCNet-style linear quality classifier — train a
    closed-form NB log-odds model (Laplace alpha=1) on an
    English-vs-rest label split of the documents corpus, score every doc
    with the multinomial log-odds sum. DuckDB recomputes the ENTIRE
    pipeline exactly: per-class token counts, united-vocab smoothing,
    ln-weight arithmetic, per-occurrence scoring, the prior bias."""
    from json_schema_py_spark.operators.classifier import (
        score_quality,
        train_nb_classifier,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
    )
    w, b = train_nb_classifier(d)
    return score_quality(d, w, b)


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-6, FIVE arms — sub-document dedup at both granularities
    (operators/substring.py). N-gram tier (raw corpus): ``hot`` =
    corpus-wide 8-token shingles occurring >= 3 times (occurrence
    counts, not doc counts); ``span`` = every hot occurrence as a
    half-open 0-based token span; ``strip`` = the corpus with covered
    tokens removed and survivors single-space re-joined. Line tier
    (planted multi-line corpus — the base corpus is single-line):
    ``hotline`` = trimmed lines in >= 2 distinct docs; ``stripline`` =
    per-doc boilerplate-line removal with original bytes preserved.
    DuckDB recomputes all five exactly."""
    from json_schema_py_spark.operators.substring import (
        duplicate_ngram_spans,
        hot_lines,
        hot_ngrams,
        strip_boilerplate_lines,
        strip_duplicate_ngrams,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    hot = hot_ngrams(d, k=8, min_count=3)
    h = hot.select(
        F.lit("hot").alias("arm"),
        F.col("ngram").alias("key"),
        F.col("cnt").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.lit(None).cast("string").alias("txt"),
    )
    s = duplicate_ngram_spans(d, hot, k=8).select(
        F.lit("span").alias("arm"),
        F.concat_ws(":", F.col("doc_id"), F.col("start_tok")).alias("key"),
        F.col("start_tok").cast("long").alias("a"),
        F.col("end_tok").cast("long").alias("b"),
        F.col("ngram").alias("txt"),
    )
    t = strip_duplicate_ngrams(d, hot, k=8).select(
        F.lit("strip").alias("arm"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("n_tokens").cast("long").alias("a"),
        F.col("n_removed").cast("long").alias("b"),
        F.col("clean_text").alias("txt"),
    )
    dl = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("COPYRIGHT NOTICE\n\n"),
                F.col("text"),
                F.lit("\nall rights reserved"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit("\n  COPYRIGHT NOTICE  ")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    hl = hot_lines(dl, min_docs=2)
    hla = hl.select(
        F.lit("hotline").alias("arm"),
        F.col("line").alias("key"),
        F.col("n_docs").cast("long").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.lit(None).cast("string").alias("txt"),
    )
    sl = strip_boilerplate_lines(dl, hl).select(
        F.lit("stripline").alias("arm"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("n_lines").cast("long").alias("a"),
        F.col("n_removed_lines").cast("long").alias("b"),
        F.col("clean_text").alias("txt"),
    )
    return h.unionByName(s).unionByName(t).unionByName(hla).unionByName(sl)


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5: TF-IDF top-3 terms per document (smoothed sklearn-style
    idf, deterministic (tfidf DESC, term ASC) tie-break, min_df=2) —
    DuckDB recomputes tf, df, the idf arithmetic, and the ranked top-k
    exactly."""
    from json_schema_py_spark.operators.keywords import tfidf_top_terms

    return tfidf_top_terms(
        _docs(spark, sf_dir).select("doc_id", "text"), k=3, min_df=2
    )


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5: bigram-LM perplexity scoring (the CCNet/Gopher quality
    filter shape) — train an add-1-smoothed bigram LM on the documents
    corpus at vocab_size=100 (forcing real <unk> traffic), score every
    doc. DuckDB recomputes the ENTIRE pipeline exactly: deterministic
    top-k vocab (count DESC, token ASC), OOV mapping, unigram/bigram
    counts, the Laplace arithmetic, per-doc aggregation."""
    from json_schema_py_spark.operators.lm import score_perplexity, train_bigram_lm

    d = _docs(spark, sf_dir).select("doc_id", "text")
    vocab, uni, bi = train_bigram_lm(d, vocab_size=100)
    return score_perplexity(d, vocab, uni, bi)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5: connected components over the LSH near-dup pair graph —
    (doc_id, cluster_id = min reachable id), folding transitive duplicate
    families (A~B, B~C, A!~C) into one canonical representative.
    Distributed min-label propagation, O(diameter) bounded rounds, each
    one join + one min-agg over the pair set (operators/dedup
    .dedup_clusters). Oracle: DuckDB recursive-CTE transitive closure
    over the SAME brute-force-verified pair set."""
    from json_schema_py_spark.operators.dedup import dedup_clusters, minhash_lsh_pairs

    d = _docs(spark, sf_dir)
    extra = d.where(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    pairs = minhash_lsh_pairs(d.unionByName(extra), threshold=0.7)
    return dedup_clusters(pairs)


def q_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE arms (round-6 consolidation, same seeded-hash determinism
    family): ``hash`` is the deterministic Bernoulli-by-hash sample —
    membership a pure function of the row (seeded md5 < fraction x 2^60),
    zero shuffle, layout-independent, monotone in fraction.
    ``stratified`` is the exact-n-per-stratum sample — rank by (seeded
    hash, id) within each stratum, keep the first 25; output bounded at
    strata x n at any corpus size. ``shards`` is the deterministic global
    training shuffle — seeded hash drives shard assignment (mod 8) AND
    within-shard position, one hash shuffle + partition-local sort, no
    global sort (doc_id < 200 slice keeps the attested rows bounded;
    determinism is corpus-wide). shard_id/pos are NULL on the sampling
    arms. DuckDB recomputes all three with identical md5 arithmetic."""
    from json_schema_py_spark.operators.sampling import (
        hash_sample,
        shuffle_shards,
        stratified_sample,
    )

    nulls = [
        F.lit(None).cast("long").alias("shard_id"),
        F.lit(None).cast("long").alias("pos"),
    ]
    h = hash_sample(_docs(spark, sf_dir), 0.2, seed="r5").select(
        F.lit("hash").alias("arm"), "doc_id", "source", *nulls
    )
    s = stratified_sample(_docs(spark, sf_dir), "source", 25, seed="r5").select(
        F.lit("stratified").alias("arm"), "doc_id", "source", *nulls
    )
    sh = (
        shuffle_shards(_docs(spark, sf_dir).where(F.col("doc_id") < 200), 8, seed="r6")
        .select(
            F.lit("shards").alias("arm"),
            "doc_id",
            "source",
            F.col("shard_id").cast("long").alias("shard_id"),
            "pos",
        )
    )
    return h.unionByName(s).unionByName(sh)


def q_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (round-6; Xie et al. 2023), TWO arms on
    one weights frame. Target distribution = docs 0-199's hashed
    unigram+bigram profile (512 buckets), raw = the whole corpus; weight
    = per-doc log likelihood ratio with add-one smoothing.

    ``weights`` attests the weighting math itself on docs 0-99 (bounded
    slice; the formula is corpus-wide). ``resample`` attests the Gumbel
    top-k draw: key = log_w + (-ln(-ln(u))), u from the seeded md5 of the
    id, top 300 by key — sampling-without-replacement proportional to
    exp(log_w). DuckDB recomputes the ENTIRE pipeline: feature lists,
    bucket hashing, both profiles, smoothing constants, Gumbel keys."""
    from json_schema_py_spark.operators.importance import (
        hashed_ngram_profile,
        importance_resample,
        importance_weights,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    target = hashed_ngram_profile(d.where(F.col("doc_id") < 200), 512)
    raw = hashed_ngram_profile(d, 512)
    w = importance_weights(d, target, raw, 512)
    wa = w.where(F.col("doc_id") < 100).select(
        F.lit("weights").alias("arm"),
        "doc_id",
        "n_feats",
        F.round("log_w", 6).alias("log_w"),
        F.lit(None).cast("double").alias("key"),
    )
    ra = importance_resample(w, 300, seed="r6").select(
        F.lit("resample").alias("arm"),
        "doc_id",
        "n_feats",
        F.round("log_w", 6).alias("log_w"),
        F.round("key", 6).alias("key"),
    )
    return wa.unionByName(ra)


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE arms (round-6 consolidation), all against the same planted
    benchmark (docs 0-9 replayed as eval items with ids +900000):

    ``exact`` (round-3) — corpus docs sharing ≥3 distinct 8-gram shingles
    with a benchmark item; oracle is brute-force list_intersect.

    ``cms`` (round-5, VERDICT r04 item 7) — CMS-BACKED hot-shingle
    filtering: the exact per-benchmark corpus counting pass replaced by
    point lookups against the reusable corpus shingle sketch
    (corpus_shingle_cms; bounded depth×width rows at any scale).
    width=1024/depth=2 with cap=30 forces GENUINE sketch-collision
    filtering at this corpus size. Deterministic seeded-md5 arithmetic
    end to end, so DuckDB recomputes EXACTLY: bucket counts →
    min-over-rows estimates → cap filter → hit counts over kept shingles.
    est ≥ true keeps the work bound; the overdrop audit is pinned in
    tests/test_contamination.py.

    ``norm`` (round-4, VERDICT r03 item 2) — NORMALIZED decontamination
    at the 13-gram convention: the benchmark quotes docs 0-9 with hostile
    casing/punctuation (uppercased, comma after every word), which raw
    shingling cannot match; normalize=True canonicalizes both sides so
    every plant is caught."""
    from json_schema_py_spark.operators.contamination import (
        contamination_hits,
        corpus_shingle_cms,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    bench = d.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 900000).alias("bench_id"), "text"
    )
    exact = contamination_hits(d, bench, shingle_k=8, min_shared=3).select(
        F.lit("exact").alias("arm"), "doc_id", "bench_id", "n_shared"
    )
    cms_sketch = corpus_shingle_cms(d, shingle_k=8, width=1024, depth=2)
    cms = contamination_hits(
        d, bench, shingle_k=8, min_shared=1, max_shingle_hits=30,
        shingle_cms=cms_sketch,
    ).select(F.lit("cms").alias("arm"), "doc_id", "bench_id", "n_shared")
    bench_norm = d.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 900000).alias("bench_id"),
        F.regexp_replace(F.upper(F.col("text")), " ", ", ").alias("text"),
    )
    norm = contamination_hits(
        d, bench_norm, shingle_k=13, min_shared=1, normalize=True
    ).select(F.lit("norm").alias("arm"), "doc_id", "bench_id", "n_shared")
    return exact.unionByName(cms).unionByName(norm)


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3: PII scanner — per-doc occurrence counts for email / phone /
    SSN-like / IPv4 patterns. The synthetic corpus carries no organic PII,
    so deterministic plants are appended per residue class; the oracle
    re-counts with DuckDB regexp_extract_all over identical patterns."""
    from json_schema_py_spark.operators.contamination import pii_scan

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" reach bob@example.com now")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-123-4567 today")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" ssn 123-45-6789 leaked")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 17 == 0, F.lit(" host 10.0.0.1 up")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scan(d)


def q_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 counts arm + round-6 cap arm on ONE planted-URL corpus,
    normalized to (arm, domain, a, b):
      - 'counts': corpus domain frequency — (domain, n_docs, n_urls);
      - 'cap': host-diversity cap (domain_cap, n_per_domain=5) —
        (first-url domain, doc_id, rank_in_domain); exempt no-URL docs
        carry NULL domain/rank, capped docs are absent.
    DuckDB mirrors the regex pipeline, the first-url extraction, and the
    row_number cap exactly."""
    from json_schema_py_spark.operators.contamination import (
        domain_cap,
        domain_counts,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.lit(" see https://www.Example.com/a and http://blog.example.com/x?q=1"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 6 == 0, F.lit(" ref https://data.org:8080/path")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    counts = domain_counts(d).select(
        F.lit("counts").alias("arm"),
        "domain",
        F.col("n_docs").cast("long").alias("a"),
        F.col("n_urls").cast("long").alias("b"),
    )
    cap = domain_cap(d, n_per_domain=5).select(
        F.lit("cap").alias("arm"),
        "domain",
        F.col("doc_id").cast("long").alias("a"),
        F.col("rank_in_domain").cast("long").alias("b"),
    )
    return counts.unionByName(cap)


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4: within-document repetition signals (the Gopher-rule
    family — duplicate lines, top-bigram character coverage). The corpus
    is single-line by construction, so repetition is planted per residue
    class; DuckDB recomputes every fraction with list folds over the
    identical definitions."""
    from json_schema_py_spark.functions.text import repetition_metrics

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("\nrepeat me now\nrepeat me now\nunique tail line"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit(" spam ham spam ham spam ham")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    m = repetition_metrics(F.col("text"), ngram_n=2)
    return d.select(
        "doc_id",
        m["dup_line_fraction"].alias("dup_line_fraction"),
        m["dup_line_char_fraction"].alias("dup_line_char_fraction"),
        m["top_ngram_char_fraction"].alias("top_ngram_char_fraction"),
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO arms (round-6 consolidation), normalized to (arm, a, b, v):

    ``sig`` — the 64-bit SimHash fingerprints themselves (a=id, b=NULL,
    v=simhash).

    ``pairs`` (round-2) — the Hamming-ball pair join (block-partition
    pigeonhole, exact recall at distance ≤ k); oracle is brute-force
    bit_count(xor) over the same deterministic fingerprints (a=id_a,
    b=id_b, v=hamming). Round-3: 64-bit fingerprints make organic ≤3-bit
    pairs rare, so near-dups are PLANTED: each doc_id < 30 gets a clone
    with one appended token — the majority vote moves by ≤1 per bit,
    flipping only boundary bits."""
    from json_schema_py_spark.operators.dedup import simhash, simhash_near_pairs

    sig = simhash(_docs(spark, sf_dir).where(F.col("doc_id") < 100)).select(
        F.lit("sig").alias("arm"),
        F.col("id").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.col("simhash").alias("v"),
    )
    d = _docs(spark, sf_dir).where(F.col("doc_id") < 150).select("doc_id", "text")
    extra = d.where(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzzz")).alias("text"),
    )
    pairs = simhash_near_pairs(d.unionByName(extra), max_hamming=3).select(
        F.lit("pairs").alias("arm"),
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        F.col("hamming").cast("long").alias("v"),
    )
    return sig.unionByName(pairs)


def q_ann_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO arms (round-6 consolidation): ``brute`` is float cosine top-k;
    ``quantized`` (round-3) is cosine top-k over int8-QUANTIZED
    embeddings (4× smaller on the lake — the storage-honest
    candidate-generation path); the oracle replicates the exact
    quantize→dequantize→cosine arithmetic in DuckDB (floor-half-up on
    both sides because round() semantics disagree on negative halves)."""
    from json_schema_py_spark.operators.similarity import (
        brute_force_topk,
        quantized_topk,
    )

    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 10)
    brute = brute_force_topk(e, q, k=5).select(
        F.lit("brute").alias("arm"), "query_id", "neighbor_id", "score", "rank"
    )
    quant = quantized_topk(e, q, k=5).select(
        F.lit("quantized").alias("arm"), "query_id", "neighbor_id", "score", "rank"
    )
    return brute.unionByName(quant)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two arms (round-6): 'near_dup' = hyperplane-LSH bucketed cosine
    near-dup pairs over embeddings ∪ planted copies (the original
    surface); 'diversity' = k-means cluster-balanced representative
    sampling (k=4, 2 Lloyd iterations, 20 kept per cluster). The oracle
    recomputes the FULL deterministic Lloyd iteration in SQL — seed init
    from the 4 lowest ids, rounded centroid means, rounded argmin
    distances, empty-cluster hold, and both rank tie-breaks — so this
    row attests kmeans_fit + kmeans_assign + semantic_diversity_sample
    end to end."""
    from json_schema_py_spark.operators.clustering import (
        semantic_diversity_sample,
    )
    from json_schema_py_spark.operators.similarity import embedding_near_dup_pairs

    e = _emb(spark, sf_dir)
    extra = e.where(F.col("vec_id") < 5).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    near = embedding_near_dup_pairs(
        e.unionByName(extra), dim=64, threshold=0.99, n_planes=8
    ).select(
        F.lit("near_dup").alias("arm"),
        "id_a",
        "id_b",
        F.col("cos").alias("score"),
        F.lit(None).cast("long").alias("rank"),
    )
    div = semantic_diversity_sample(e, k=4, iters=2, n_per_cluster=20).select(
        F.lit("diversity").alias("arm"),
        F.col("id").alias("id_a"),
        F.col("cluster").cast("long").alias("id_b"),
        F.col("dist").alias("score"),
        F.col("rank_in_cluster").cast("long").alias("rank"),
    )
    return near.unionByName(div)


def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-2: the composed training-corpus curation plan — quality gate →
    exact dedup → LSH near-dup removal, one (doc_id, keep, reason) verdict
    per input doc, smaller-id-wins, reason priority documented in
    plans/curation.py. Oracle recomputes every stage independently
    (brute-force Jaccard for the near-dup stage)."""
    from json_schema_py_spark.plans.curation import curate_documents

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 1200)
    extra = d.where(F.col("doc_id") < 10).withColumn("doc_id", F.col("doc_id") + 100000)
    return curate_documents(
        d.unionByName(extra), min_tokens=30, max_tokens=80, lang="en",
        near_dup_threshold=0.7,
    )


def q_validate_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.schema.compiler import validate

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "row_key", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    return validate(li, LINEITEM_RULESET, key_col="row_key")


def q_validate_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.schema.compiler import validate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.from_json("props", "map<string,bigint>").alias("props")
    )
    return validate(ev, PROPS_RULESET, key_col="event_id")


# props payload validated through the dynamic-JSON paths: same ruleset shape,
# rooted at the raw JSON string — three independent engine paths (typed
# Column, exact pandas, pre-parsed map) must all match the same oracle
_PROPS_JSON_RULESET = {
    "type": "object",
    "minProperties": 1,
    "propertyNames": {"pattern": "^[a-z]+$"},
    "additionalProperties": {"type": "integer", "minimum": 50},
}


def q_validate_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.plans.json_docs import validate_json_typed

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return validate_json_typed(ev, "props", _PROPS_JSON_RULESET, key_col="event_id")


def q_validate_json_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.plans.json_docs import validate_json_exact

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return validate_json_exact(ev, "props", _PROPS_JSON_RULESET, key_col="event_id")


def q_validate_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-2: Spark 4 VariantType dynamic-JSON path — per-value runtime
    typing (exact-path semantics) fully JVM-side; fourth independent engine
    path against the same oracle."""
    from json_schema_py_spark.plans.json_variant import validate_json_variant

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return validate_json_variant(ev, "props", _PROPS_JSON_RULESET, key_col="event_id")


def q_as_of_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5: backward AS-OF join (operators/temporal) — every click
    gains the latest error at-or-before it per user (NULL when none).
    ONE union + ONE window per key, no range explosion. Oracle: DuckDB's
    NATIVE ASOF LEFT JOIN."""
    from json_schema_py_spark.operators.temporal import as_of_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    right = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value"
    )
    out = as_of_join(left, right, ["user_id"])
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_event_id"),
        F.col("asof_value"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("asof_ts").cast("timestamp"))
        ).alias("lag_us"),
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5: bucketed interval (range) join — clicks inside ±5-minute
    windows around each purchase, per user. Intervals explode to fixed
    time buckets, events equi-join on their ONE bucket — never a cross
    join; per-interval bucket cap + audit bound the work."""
    from json_schema_py_spark.operators.temporal import interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("interval_id"),
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 5 MINUTES")).alias("start"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("end"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return interval_join(
        clicks, purchases, key_cols=["user_id"], bucket_seconds=600
    ).select("interval_id", "event_id")


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5: hypertable-style multi-granularity rollup — hour AND day
    aggregates of event values in ONE grouping-sets pass (set identity by
    grouping_id, so NULL-timestamp groups can't be misattributed)."""
    from json_schema_py_spark.operators.temporal import time_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    fmt = "yyyy-MM-dd HH:mm:ss"
    r = time_rollup(ev, "ts", "value", ("hour", "day"))
    return r.select(
        "granularity",
        F.date_format("bucket_start", fmt).alias("bucket_start"),
        F.col("n").cast("long").alias("n"),
        F.round("sum", 6).alias("sum"),
        F.round("min", 6).alias("min"),
        F.round("max", 6).alias("max"),
        F.round("mean", 6).alias("mean"),
    )


def q_validate_variant_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5: the VariantType-NATIVE entry (plans/json_variant
    .validate_variant) — the lake-native form where the column already IS
    a (possibly shredded) VARIANT: no to_json→parse round trip. Same
    ruleset, same oracle as the string entry; parse_json happens at
    ingest, as a lake writer would."""
    from json_schema_py_spark.plans.json_variant import validate_variant

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.parse_json("props").alias("v")
    )
    return validate_variant(ev, "v", _PROPS_JSON_RULESET, key_col="event_id")


def q_violations_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4: cross-run regression diff — prev = the documents ruleset's
    violation set; cur = a deterministic perturbation (ENUM_MISMATCH rows
    fixed, NUMBER_TOO_SMALL observed moved, one new rule planted per p=2
    doc). Exercises all four statuses plus the null-safe doc_id join
    (the p=8 REQUIRED row has doc_id NULL)."""
    from json_schema_py_spark.plans.validation import violations_diff
    from json_schema_py_spark.schema.compiler import validate
    from json_schema_py_spark.sources.synth import DOCUMENTS_RULESET, spans_documents

    prev = validate(spans_documents(spark, sf_dir), DOCUMENTS_RULESET)
    cur = prev.where(F.col("rule_id") != "ENUM_MISMATCH").select(
        "doc_id",
        "rule_id",
        "path",
        F.when(F.col("rule_id") == "NUMBER_TOO_SMALL", F.lit("-2"))
        .otherwise(F.col("observed"))
        .alias("observed"),
    ).unionByName(
        prev.where(F.col("rule_id") == "ENUM_MISMATCH").select(
            "doc_id",
            F.lit("STRING_TOO_LONG").alias("rule_id"),
            F.lit("/x").alias("path"),
            F.lit("v").alias("observed"),
        )
    )
    return violations_diff(prev, cur)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.operators.sessions import session_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return session_stats(ev, gap_minutes=30.0).select(
        "user_id",
        "session_seq",
        "n_events",
        F.date_format("t_start", fmt).alias("t_start"),
        F.date_format("t_end", fmt).alias("t_end"),
    )


def q_span_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-sequence equality (BASELINE input_hint invariant), gate-checked:
    reverse the span arrays of residue-11 docs (an unused plant class) and
    assert sequence_mismatches reports exactly those docs from both sides —
    order-SENSITIVE detection, no false positives on untouched docs."""
    from json_schema_py_spark.operators.spans import sequence_mismatches
    from json_schema_py_spark.sources.synth import spans_documents

    before = spans_documents(spark, sf_dir)
    after = before.withColumn(
        "spans",
        F.when(F.col("src_id") % 101 == 11, F.reverse("spans")).otherwise(
            F.col("spans")
        ),
    )
    return sequence_mismatches(before, after).select("doc_id", "n_spans", "side")


def q_out_of_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.operators.sessions import out_of_order_events

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return out_of_order_events(ev).select(
        "event_id", "user_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts")
    )


# ------------------------------------------------- non-SQL-expressible ops


def q_sketch_contracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO arms (round-6 consolidation), normalized to
    (arm, k1, k2, n, nd_ok, q25_ok, q50_ok, q75_ok):

    ``bounds`` — HLL distinct + GK quantile sketches, gate-checked against
    their hard error bounds (the sketch VALUES are approximate by design,
    so the oracle asserts the published contracts instead):
    approx_count_distinct(rsd=0.05) within 15% of the exact count, each
    percentile_approx(accuracy=10000) value inside the exact
    [q-0.01, q+0.01] rank envelope (GK guarantees rank error ≤
    n/accuracy = 0.0001 ≪ 0.01). A bound violation flips a boolean and
    the gate hash mismatches. k1=column, k2=NULL, n=n_rows.

    ``cms`` (round-4) — count-min sketch over the corpus token stream as
    a TABLE (depth 3 x width 64): the sketch STRUCTURE is exactly
    verifiable even though estimates are approximate — every
    (row, bucket) count recomputed by DuckDB with the identical seeded
    md5 hash. k1=row, k2=bucket, n=cnt, bound booleans NULL. Estimate
    contracts (est >= true, bounded overestimate) stay pinned in
    tests/test_engine_ops.py."""
    from json_schema_py_spark.operators.stats import cms_table, column_stats

    toks = _docs(spark, sf_dir).select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.col("tok") != "")
    nb = F.lit(None).cast("boolean")
    cms = cms_table(toks, "tok", width=64, depth=3).select(
        F.lit("cms").alias("arm"),
        F.col("row").cast("string").alias("k1"),
        F.col("bucket").cast("string").alias("k2"),
        F.col("cnt").cast("long").alias("n"),
        nb.alias("nd_ok"), nb.alias("q25_ok"), nb.alias("q50_ok"), nb.alias("q75_ok"),
    )
    return _sketch_bounds_arm(spark, sf_dir).unionByName(cms)


def _sketch_bounds_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_schema_py_spark.operators.stats import column_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice"]
    s = column_stats(li, cols, exact_distinct=False)

    exact_aggs = []
    for c in cols:
        exact_aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__xnd"))
        exact_aggs.append(
            F.expr(f"percentile({c}, array(0.24, 0.49, 0.74))").alias(f"{c}__lo")
        )
        exact_aggs.append(
            F.expr(f"percentile({c}, array(0.26, 0.51, 0.76))").alias(f"{c}__hi")
        )
    ex = li.agg(*exact_aggs)

    xnd = F.coalesce(
        *[
            F.when(F.col("column") == c, F.col(f"{c}__xnd")).otherwise(F.lit(None))
            for c in cols
        ]
    )
    q_ok = []
    for i in range(3):
        lo = F.coalesce(
            *[
                F.when(F.col("column") == c, F.get(F.col(f"{c}__lo"), i))
                for c in cols
            ]
        )
        hi = F.coalesce(
            *[
                F.when(F.col("column") == c, F.get(F.col(f"{c}__hi"), i))
                for c in cols
            ]
        )
        q_ok.append(
            F.get(F.col("quantiles"), i).between(lo, hi).alias(f"q{(25, 50, 75)[i]}_ok")
        )

    return s.crossJoin(ex).select(
        F.lit("bounds").alias("arm"),
        F.col("column").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("n_rows").cast("long").alias("n"),
        (F.abs(F.col("n_distinct") - xnd) <= 0.15 * xnd).alias("nd_ok"),
        *q_ok,
    )


def _recall_bound(truth: DataFrame, approx: DataFrame, floor: float) -> DataFrame:
    """Aggregate recall of ``approx`` against ``truth`` (both keyed on
    query_id, neighbor_id), emitted as a gate-hashable boolean: if recall
    drops below ``floor`` the hash mismatches. Truth comes from the
    brute-force path, itself 3/3 oracle-verified via q_ann_exact."""
    hit = approx.select("query_id", "neighbor_id").withColumn("hit", F.lit(1))
    joined = truth.select("query_id", "neighbor_id").join(
        F.broadcast(hit), ["query_id", "neighbor_id"], "left"
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_truth"),
        (
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count(F.lit(1))) >= floor
        ).alias("meets_floor"),
    )


def q_ann_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO arms (round-6 consolidation; the metric column already
    discriminates): LSH-bucketed and IVF-bucketed ANN, each gate-checked
    as a recall bound — approximate by design, so the oracle asserts
    recall@5 ≥ floor vs the (oracle-verified) brute-force truth rather
    than exact neighbor sets."""
    from json_schema_py_spark.operators.similarity import (
        ann_lsh_topk,
        brute_force_topk,
        ivf_topk,
    )

    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 10)
    truth = brute_force_topk(e, q, k=5)
    lsh = _recall_bound(
        truth, ann_lsh_topk(e, q, dim=64, k=5, n_planes=8, probe_radius=2), floor=0.3
    ).select(F.lit("ann_lsh_recall_at_5").alias("metric"), "n_truth", "meets_floor")
    ivf = _recall_bound(
        truth, ivf_topk(e, q, dim=64, k=5, n_cells=16, n_probe=4), floor=0.4
    ).select(F.lit("ann_ivf_recall_at_5").alias("metric"), "n_truth", "meets_floor")
    return lsh.unionByName(ivf)


def _media_feature_cols(prefix_arm: str):
    return [
        F.lit(prefix_arm).alias("arm"),
        F.col("media_ref"),
        F.col("mime"),
    ]


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE arms (round-6 consolidation), one (arm, media_ref, mime,
    f0..f7) schema:

    ``ppm`` (round-3) — REAL image decode: deterministic P6 images
    (gradient pixels (x*3+s)%256 / (y*5+2s)%256 / (x+y+s)%256) generated
    and decoded by the numpy PPM decoder; the oracle recomputes every
    feature CLOSED-FORM over the pixel grid in SQL (means, population
    luma std, max/min) — the decoder is proven against independent math,
    not itself.

    ``wav`` (round-4) — REAL audio decode: deterministic PCM16 WAVs
    (integer sawtooth s_i = (i*(seed+3)) % 4096 - 2048) containerized as
    RIFF and decoded by the numpy WAV parser; oracle recomputes every
    feature closed-form over range(n).

    ``fake`` — the multimodal PLUMBING gate (payload attach +
    Arrow-batched feature extract); the fake decoder is deterministic
    md5 arithmetic, exactly recomputed by the oracle."""
    import pyspark.sql.types as T

    from json_schema_py_spark.functions.text import stable_hash64
    from json_schema_py_spark.operators.multimodal import (
        FEATURE_DIM,
        attach_fake_payloads,
        extract_media_features,
        make_ppm,
        make_wav,
    )
    from json_schema_py_spark.sources.synth import media_dim

    feat_cols = lambda: [  # noqa: E731 — per-arm fresh Column objects
        F.round(F.get(F.col("features"), i), 6).alias(f"f{i}")
        for i in range(FEATURE_DIM)
    ]

    gen_schema = T.StructType(
        [
            T.StructField("media_ref", T.StringType()),
            T.StructField("mime", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    # --- ppm arm
    ppm_media = spark.range(37).select(
        F.concat(F.lit("m/"), F.col("id").cast("string")).alias("media_ref"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        (F.pmod(stable_hash64(F.concat(F.lit("m/"), F.col("id").cast("string")), seed="w"), F.lit(12)) + 4).cast("int").alias("w"),
        (F.pmod(stable_hash64(F.concat(F.lit("m/"), F.col("id").cast("string")), seed="h"), F.lit(12)) + 4).cast("int").alias("h"),
        F.pmod(stable_hash64(F.concat(F.lit("m/"), F.col("id").cast("string")), seed="s"), F.lit(256)).cast("int").alias("seed"),
    )

    def gen_ppm(it):
        for pdf in it:
            pdf = pdf.copy()
            pdf["payload"] = [
                bytearray(make_ppm(int(w), int(h), int(s)))
                for w, h, s in zip(pdf["w"], pdf["h"], pdf["seed"])
            ]
            yield pdf[["media_ref", "mime", "payload"]]

    ppm = extract_media_features(
        ppm_media.mapInPandas(gen_ppm, gen_schema), decode="ppm"
    ).select(*_media_feature_cols("ppm"), *feat_cols())

    # --- wav arm
    ref = F.concat(F.lit("a/"), F.col("id").cast("string"))
    wav_media = spark.range(29).select(
        ref.alias("media_ref"),
        F.lit("audio/wav").alias("mime"),
        (F.pmod(stable_hash64(ref, seed="n"), F.lit(400)) + 50).cast("int").alias("n"),
        (F.pmod(stable_hash64(ref, seed="r"), F.lit(3)) * 8000 + 8000).cast("int").alias("sr"),
        F.pmod(stable_hash64(ref, seed="s"), F.lit(97)).cast("int").alias("seed"),
    )

    def gen_wav(it):
        for pdf in it:
            pdf = pdf.copy()
            pdf["payload"] = [
                bytearray(make_wav(int(n), int(sr), int(s)))
                for n, sr, s in zip(pdf["n"], pdf["sr"], pdf["seed"])
            ]
            yield pdf[["media_ref", "mime", "payload"]]

    wav = extract_media_features(
        wav_media.mapInPandas(gen_wav, gen_schema), decode="wav"
    ).select(*_media_feature_cols("wav"), *feat_cols())

    # --- fake-plumbing arm
    fake = extract_media_features(attach_fake_payloads(media_dim(spark))).select(
        F.lit("fake").alias("arm"), "media_ref", "mime", *feat_cols()
    )

    return ppm.unionByName(wav).unionByName(fake)


def q_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4: schema-evolution check of the documents table against a
    declared contract that (deliberately) expects source:int and an
    absent quality column, and doesn't know n_chars — exercising
    type_changed / missing / added / ok. Metadata-only (no scan); the
    oracle is the literal expectation table (the parquet schema is part
    of the fixed testdata contract, TESTDATA.md)."""
    import pyspark.sql.types as T

    from json_schema_py_spark.plans.validation import schema_drift

    expected = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.IntegerType()),
            T.StructField("quality", T.DoubleType()),
        ]
    )
    return schema_drift(spark.read.parquet(f"{sf_dir}/documents.parquet"), expected)


def q_partition_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition pass/fail rollup on a DURABLE partition key
    (src_id % 16 — content-derived, layout-independent), so DuckDB can
    recompute every verdict row exactly (round-2 VERDICT item 6: the
    spark_partition_id flavor is plan-dependent and stays pytest-covered in
    tests/test_checkpoint.py; the durable-key flavor is also the documented
    100 TB usage — resume keys must survive a re-plan)."""
    from json_schema_py_spark.plans.validation import partition_verdicts
    from json_schema_py_spark.schema.compiler import with_violations
    from json_schema_py_spark.sources.synth import DOCUMENTS_RULESET, spans_documents

    sd = spans_documents(spark, sf_dir)
    return partition_verdicts(
        with_violations(sd, DOCUMENTS_RULESET),
        partition_key=F.pmod(F.col("src_id"), F.lit(16)).cast("string"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """50 gate queries (round-6 consolidation, VERDICT r05 item 1): the
    driver records at most 50 CORRECTNESS rows, so same-fixture families
    merged into multi-arm queries with an ``arm`` discriminator column —
    every registered operator now gets a driver row every round. The
    oracle SQL UNIONs the same arms with matching column names."""
    return {
        "q_validate_documents": q_validate_documents,
        "q_violations_diff": q_violations_diff,
        "q_validate_media_dep": q_validate_media_dep,
        "q_doc_verdicts": q_doc_verdicts,
        "q_partition_verdicts": q_partition_verdicts,
        "q_uniqueness": q_uniqueness,
        "q_referential": q_referential,
        "q_column_stats": q_column_stats,
        "q_stats_lineitem": q_stats_lineitem,
        "q_psi_drift": q_psi_drift,
        "q_text_quality": q_text_quality,
        "q_token_counts": q_token_counts,
        "q_curation": q_curation,
        "q_token_packing": q_token_packing,
        "q_token_budget_mixture": q_token_budget_mixture,
        "q_pack_summary": q_pack_summary,
        "q_exact_dedup": q_exact_dedup,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_combined_signatures": q_combined_signatures,
        "q_minhash_lsh_pairs": q_minhash_lsh_pairs,
        "q_lm_perplexity": q_lm_perplexity,
        "q_tfidf_terms": q_tfidf_terms,
        "q_quality_classifier": q_quality_classifier,
        "q_substring_dedup": q_substring_dedup,
        "q_dedup_clusters": q_dedup_clusters,
        "q_sampling": q_sampling,
        "q_importance": q_importance,
        "q_media_decode": q_media_decode,
        "q_contamination": q_contamination,
        "q_pii_scan": q_pii_scan,
        "q_domains": q_domains,
        "q_repetition": q_repetition,
        "q_simhash": q_simhash,
        "q_ann_exact": q_ann_exact,
        "q_embedding_near_dup": q_embedding_near_dup,
        "q_validate_lineitem": q_validate_lineitem,
        "q_validate_events_props": q_validate_events_props,
        "q_validate_json_typed": q_validate_json_typed,
        "q_validate_json_exact": q_validate_json_exact,
        "q_validate_json_variant": q_validate_json_variant,
        "q_validate_variant_native": q_validate_variant_native,
        "q_sessionize": q_sessionize,
        "q_as_of_join": q_as_of_join,
        "q_interval_join": q_interval_join,
        "q_time_rollup": q_time_rollup,
        "q_span_sequence": q_span_sequence,
        "q_out_of_order": q_out_of_order,
        # approximate ops, gated via error-bound / recall-bound oracles:
        "q_sketch_contracts": q_sketch_contracts,
        "q_schema_drift": q_schema_drift,
        "q_ann_bounded": q_ann_bounded,
    }


# ---------------------------------------------------------------- oracles

_IDS_CTE = """
WITH d AS (
  SELECT doc_id AS i, text, doc_id % 101 AS p FROM documents
), ids AS (
  SELECT i, p, text,
    CASE
      WHEN p = 3 THEN 'DOC_x' || CAST(i AS VARCHAR)
      WHEN p = 8 THEN NULL
      WHEN p = 9 THEN 'doc-' || lpad(CAST(i - 2 AS VARCHAR), 12, '0')
      ELSE 'doc-' || lpad(CAST(i AS VARCHAR), 12, '0')
    END AS did
  FROM d
)
"""

_TOKS = "list_filter(string_split(text, ' '), t -> t <> '')"
_FPRINT = (
    "md5(trim(regexp_replace(regexp_replace(lower(text), "
    "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))"
)


def _norm_toks_sql(expr: str = "text") -> str:
    """DuckDB mirror of functions/text.normalize_text + tokens: lowercase,
    strip non-[a-z0-9 ], collapse whitespace, split."""
    norm = (
        f"trim(regexp_replace(regexp_replace(lower({expr}), "
        f"'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    )
    return f"list_filter(string_split({norm}, ' '), t -> t <> '')"
_STOPW = "['the','a','an','of','to','and','in','is','it','for']"


def _shingles_sql(toks: str, k: int = 3) -> str:
    return (
        f"list_distinct([array_to_string({toks}[i:i+{k-1}], ' ') "
        f"for i in range(1, greatest(len({toks}) - {k - 2}, 1))])"
    )


def _hash64_sql(expr: str, seed: str) -> str:
    return f"('0x' || substr(md5('{seed}|' || {expr}), 1, 15))::BIGINT"


def _kmeans_ctes(k: int, iters: int, dim: int) -> str:
    """DuckDB mirror of operators/clustering.kmeans_fit: c0 = the k
    lowest-id vectors; each iteration assigns by rounded (4 dp) squared-L2
    argmin (lowest cluster on ties) and re-centers with rounded (5 dp)
    per-dim means, holding the previous centroid for empty clusters.
    Emits CTEs c0..c{iters}; assign against c{iters}."""
    dist = (
        "ROUND(list_sum(list_transform(list_zip(e.embedding, c.cvec), "
        "p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE))), 4)"
    )
    parts = [
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, embedding::DOUBLE[] AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k})
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""d{t} AS (
  SELECT e.vec_id, e.embedding, c.cluster, {dist} AS dist
  FROM embeddings e CROSS JOIN c{t - 1} c
), a{t} AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT vec_id, embedding, cluster,
      row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cluster ASC) AS rk
    FROM d{t}) WHERE rk = 1
), m{t} AS (
  SELECT cluster, list(mv ORDER BY dim) AS cvec FROM (
    SELECT a.cluster, u.i AS dim, ROUND(avg(a.embedding[u.i]::DOUBLE), 5) AS mv
    FROM a{t} a, (SELECT unnest(generate_series(1, {dim})) AS i) u
    GROUP BY a.cluster, u.i
  ) GROUP BY cluster
), c{t} AS (
  SELECT p.cluster, COALESCE(m{t}.cvec, p.cvec) AS cvec
  FROM c{t - 1} p LEFT JOIN m{t} ON p.cluster = m{t}.cluster
)"""
        )
    return ",\n".join(parts)


def _minhash_sql(shl: str, i: int) -> str:
    """DuckDB mirror of slot i of operators/dedup's md5 MinHash family,
    derived from its definition: h = md5-prefix('mh|' || s) mod p per
    shingle, slot i = min over shingles of (a_i * h + b_i) mod p, with
    p = 2^31 - 1, a_i = 1 + md5-prefix('mha|i') mod (p - 1) and
    b_i = md5-prefix('mhb|i') mod p. NULL for an empty shingle list."""
    p = (1 << 31) - 1
    a = f"(1 + {_hash64_sql(repr(str(i)), 'mha')} % {p - 1})"
    b = f"({_hash64_sql(repr(str(i)), 'mhb')} % {p})"
    hs = f"list_transform({shl}, s -> {_hash64_sql('s', 'mh')} % {p})"
    return f"list_min(list_transform({hs}, h -> ({a} * h + {b}) % {p}))"


def _bandkeys_sql(shl: str, num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB mirror of operators/dedup._band_keys: the list of per-band
    bucket keys ('-'-joined minhash strings), sentinel-filled for
    shingle-less docs (Spark's aggregate over an empty array returns the
    init sentinels)."""
    rows = num_hashes // bands
    sigs = [
        f"COALESCE({_minhash_sql(shl, i)}, 4611686018427387904)"
        for i in range(num_hashes)
    ]
    keys = [
        " || '-' || ".join(f"({sigs[b * rows + r]})::VARCHAR" for r in range(rows))
        for b in range(bands)
    ]
    return "[" + ", ".join(keys) + "]"


def _simhash_cte(limit: int, bits: int = 64, planted_below: int | None = None) -> str:
    # 64-bit fingerprints (round-2 VERDICT): bits 0-59 from the 'sh'-seeded
    # 60-bit hash, 60-63 from an independent 'sh2' hash; bit 63's literal is
    # Long.MIN_VALUE (1<<63 is not a positive BIGINT) and packing is
    # bitwise-OR, never arithmetic — mirrors operators/dedup.simhash
    th0 = f"list_transform({_TOKS}, t -> {_hash64_sql('t', 'sh')})"
    th1 = f"list_transform({_TOKS}, t -> {_hash64_sql('t', 'sh2')})"

    def term(b: int) -> str:
        src, sh = ("th0", b) if b < 60 else ("th1", b - 60)
        val = (1 << b) if b < 63 else -(1 << 63)
        return (
            f"(CASE WHEN 2 * list_sum(list_transform({src}, h -> (h >> {sh}) & 1))"
            f" >= len(th0) THEN {val} ELSE 0 END)::BIGINT"
        )

    bit_terms = " | ".join(term(b) for b in range(bits))
    src = f"SELECT doc_id, text FROM documents WHERE doc_id < {limit}"
    if planted_below is not None:
        # mirror q_simhash_near_pairs' planted near-dup clones
        src += (
            f" UNION ALL SELECT doc_id + 100000, text || ' zzzz'"
            f" FROM documents WHERE doc_id < {planted_below}"
        )
    return f"""
WITH base AS (
  SELECT doc_id AS id, {th0} AS th0, {th1} AS th1 FROM ({src})
), sh AS (
  SELECT id, ({bit_terms}) AS simhash FROM base
)
"""


def _simhash_sql() -> str:
    return _simhash_cte(100) + "SELECT id, simhash FROM sh"


def oracle_sql() -> dict[str, str]:
    sh = _shingles_sql(_TOKS)
    return {
        "q_validate_documents": _IDS_CTE + """
SELECT did AS doc_id, 'NUMBER_TOO_SMALL' AS rule_id, '/spans/0/offset' AS path, '-1' AS observed FROM ids WHERE p = 1
UNION ALL
SELECT did, 'ENUM_MISMATCH', '/spans/0/kind', 'vidoe' FROM ids WHERE p = 2
UNION ALL
SELECT did, 'PATTERN_MISMATCH', '/doc_id', did FROM ids WHERE p = 3
UNION ALL
SELECT did, 'ARRAY_TOO_SHORT', '/spans', '0' FROM ids WHERE p = 4
UNION ALL
SELECT did, 'ARRAY_ITEMS_NOT_UNIQUE', '/spans/' || CAST(1 + i % 4 AS VARCHAR),
  CASE WHEN i % 3 = 0
    THEN '{"kind":"media","media_ref":"m/' || CAST((i*31) % 37 AS VARCHAR) || '.png","offset":0}'
    ELSE '{"kind":"text","text":"' || substr(rpad(text, 64, 'x'), 1, 12) || '","offset":0}'
  END
FROM ids WHERE p = 5
UNION ALL
SELECT did, 'STRING_TOO_SHORT', '/spans/0/text', '' FROM ids WHERE p = 7
UNION ALL
SELECT NULL, 'REQUIRED_PROPERTY_MISSING', '/doc_id', 'None' FROM ids WHERE p = 8
""",
        # four-status regression diff over the SAME prev set; doc_id joins
        # null-safely (IS NOT DISTINCT FROM) — the p=8 row has doc_id NULL
        "q_violations_diff": _IDS_CTE + """, prev AS (
SELECT did AS doc_id, 'NUMBER_TOO_SMALL' AS rule_id, '/spans/0/offset' AS path, '-1' AS observed FROM ids WHERE p = 1
UNION ALL
SELECT did, 'ENUM_MISMATCH', '/spans/0/kind', 'vidoe' FROM ids WHERE p = 2
UNION ALL
SELECT did, 'PATTERN_MISMATCH', '/doc_id', did FROM ids WHERE p = 3
UNION ALL
SELECT did, 'ARRAY_TOO_SHORT', '/spans', '0' FROM ids WHERE p = 4
UNION ALL
SELECT did, 'ARRAY_ITEMS_NOT_UNIQUE', '/spans/' || CAST(1 + i % 4 AS VARCHAR),
  CASE WHEN i % 3 = 0
    THEN '{"kind":"media","media_ref":"m/' || CAST((i*31) % 37 AS VARCHAR) || '.png","offset":0}'
    ELSE '{"kind":"text","text":"' || substr(rpad(text, 64, 'x'), 1, 12) || '","offset":0}'
  END
FROM ids WHERE p = 5
UNION ALL
SELECT did, 'STRING_TOO_SHORT', '/spans/0/text', '' FROM ids WHERE p = 7
UNION ALL
SELECT NULL, 'REQUIRED_PROPERTY_MISSING', '/doc_id', 'None' FROM ids WHERE p = 8
), cur AS (
  SELECT doc_id, rule_id, path,
    CASE WHEN rule_id = 'NUMBER_TOO_SMALL' THEN '-2' ELSE observed END AS observed
  FROM prev WHERE rule_id <> 'ENUM_MISMATCH'
  UNION ALL
  SELECT doc_id, 'STRING_TOO_LONG', '/x', 'v' FROM prev WHERE rule_id = 'ENUM_MISMATCH'
), pk AS (
  SELECT doc_id, rule_id, path, MAX(observed) AS observed FROM prev GROUP BY 1,2,3
), ck AS (
  SELECT doc_id, rule_id, path, MAX(observed) AS observed FROM cur GROUP BY 1,2,3
)
SELECT
  COALESCE(p.doc_id, c.doc_id) AS doc_id,
  COALESCE(p.rule_id, c.rule_id) AS rule_id,
  COALESCE(p.path, c.path) AS path,
  p.observed AS observed_prev,
  c.observed AS observed_cur,
  CASE WHEN p.rule_id IS NULL THEN 'new'
       WHEN c.rule_id IS NULL THEN 'fixed'
       WHEN p.observed IS NOT DISTINCT FROM c.observed THEN 'unchanged'
       ELSE 'changed' END AS status
FROM pk p FULL OUTER JOIN ck c
  ON p.doc_id IS NOT DISTINCT FROM c.doc_id
 AND p.rule_id = c.rule_id AND p.path = c.path
""",
        # two arms: 'basic' is the bare anyOf failure; 'verbose' adds the two
        # branch-failure details for each plant-6 span (branch 0: kind
        # 'media' fails the text enum; branch 1: media_ref is the planted
        # NULL → required fails). Deep pointers kept (documented deviation
        # from the reference's path truncation).
        "q_validate_media_dep": _IDS_CTE + """
SELECT 'basic' AS arm, did AS doc_id, 'ANY_OF_NO_MATCH' AS rule_id, '/spans/0' AS path, '' AS observed
FROM ids WHERE p = 6
UNION ALL
SELECT 'verbose', did, 'ANY_OF_NO_MATCH', '/spans/0', '' FROM ids WHERE p = 6
UNION ALL
SELECT 'verbose', did, 'anyOf[0]:ENUM_MISMATCH', '/spans/0/kind', 'media' FROM ids WHERE p = 6
UNION ALL
SELECT 'verbose', did, 'anyOf[1]:REQUIRED_PROPERTY_MISSING', '/spans/0/media_ref', 'None' FROM ids WHERE p = 6
""",
        "q_doc_verdicts": _IDS_CTE + """
SELECT i AS src_id,
  (p NOT IN (1,2,3,4,5,7,8)) AS valid,
  (CASE WHEN p IN (1,2,3,4,5,7,8) THEN 1 ELSE 0 END) AS n_violations
FROM ids
""",
        "q_uniqueness": _IDS_CTE + """
SELECT did AS doc_id, COUNT(*) AS cnt FROM ids WHERE did IS NOT NULL
GROUP BY did HAVING COUNT(*) > 1
""",
        "q_referential": _IDS_CTE + """
SELECT did AS doc_id, 'REFERENTIAL_VIOLATION' AS rule_id,
  '/spans/0/media_ref' AS path,
  'm/ghost-' || CAST(i AS VARCHAR) || '.png' AS observed
FROM ids WHERE p = 10
""",
        "q_column_stats": """
SELECT 'n_chars' AS "column", COUNT(*) AS n_rows,
  COUNT(*) FILTER (n_chars IS NULL) AS n_null,
  COUNT(DISTINCT n_chars) AS n_distinct,
  CAST(MIN(n_chars) AS VARCHAR) AS min_str, CAST(MAX(n_chars) AS VARCHAR) AS max_str,
  ROUND(AVG(n_chars), 4) AS mean_r
FROM documents
UNION ALL
SELECT 'lang', COUNT(*), COUNT(*) FILTER (lang IS NULL), COUNT(DISTINCT lang),
  MIN(lang), MAX(lang), NULL FROM documents
UNION ALL
SELECT 'source', COUNT(*), COUNT(*) FILTER (source IS NULL), COUNT(DISTINCT source),
  MIN(source), MAX(source), NULL FROM documents
""",
        "q_stats_lineitem": """
SELECT 'l_quantity' AS "column", COUNT(*) AS n_rows,
  COUNT(*) FILTER (l_quantity IS NULL) AS n_null,
  COUNT(DISTINCT l_quantity) AS n_distinct,
  MIN(l_quantity)::DOUBLE AS min, MAX(l_quantity)::DOUBLE AS max,
  ROUND(AVG(l_quantity), 4) AS mean_r
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', COUNT(*), COUNT(*) FILTER (l_extendedprice IS NULL),
  COUNT(DISTINCT l_extendedprice), MIN(l_extendedprice)::DOUBLE,
  MAX(l_extendedprice)::DOUBLE, ROUND(AVG(l_extendedprice), 4)
FROM lineitem
UNION ALL
SELECT 'l_discount', COUNT(*), COUNT(*) FILTER (l_discount IS NULL),
  COUNT(DISTINCT l_discount), MIN(l_discount)::DOUBLE, MAX(l_discount)::DOUBLE,
  ROUND(AVG(l_discount), 4)
FROM lineitem
""",
        "q_psi_drift": """
WITH b AS (
  SELECT LEAST(GREATEST(FLOOR(n_chars / 50.0), 0), 11)::INT AS bucket,
    (doc_id >= 250) AS cur
  FROM documents
), h AS (
  SELECT bucket,
    COUNT(*) FILTER (cur) AS c_cur,
    COUNT(*) FILTER (NOT cur) AS c_base
  FROM b GROUP BY bucket
), t AS (
  SELECT SUM(c_cur) AS t_cur, SUM(c_base) AS t_base FROM h
)
SELECT ROUND(SUM(
  (GREATEST(c_cur / t_cur, 1e-6) - GREATEST(c_base / t_base, 1e-6))
  * LN(GREATEST(c_cur / t_cur, 1e-6) / GREATEST(c_base / t_base, 1e-6))
), 6) AS psi
FROM h, t
""",
        "q_text_quality": f"""
WITH base AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
)
SELECT doc_id,
  length(text) AS n_chars,
  len(toks) AS n_tokens,
  ROUND(CASE WHEN len(toks) > 0
    THEN len(list_filter(toks, t -> list_contains({_STOPW}, lower(t))))::DOUBLE / len(toks)
    ELSE 0.0 END, 6) AS stopword_ratio,
  ROUND(CASE WHEN len(toks) > 0
    THEN list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)
    ELSE 0.0 END, 6) AS mean_token_len,
  CASE WHEN CASE WHEN len(toks) > 0
    THEN len(list_filter(toks, t -> list_contains({_STOPW}, lower(t))))::DOUBLE / len(toks)
    ELSE 0.0 END >= 0.03 THEN 'en' ELSE 'unknown' END AS lang_pred
FROM base
""",
        "q_token_counts": f"""
WITH base AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp,
  len(toks) AS n_tokens,
  list_sum(list_transform(toks, t -> CEIL(length(t) / 4.0)::BIGINT))::BIGINT AS bpe_tokens,
  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS regex_tokens,
  list_reduce(
    list_prepend(0::BIGINT,
      list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647)),
    (a, b) -> (a * 131 + b) % 2147483647) AS rolling_fp
FROM base
""",
        "q_curation": f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 1200
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 10
), q AS (
  SELECT doc_id, text,
    len({_TOKS}) AS ntok,
    CASE WHEN len({_TOKS}) > 0
      THEN len(list_filter({_TOKS}, t -> list_contains({_STOPW}, lower(t))))::DOUBLE / len({_TOKS})
      ELSE 0.0 END AS swr,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
  FROM corpus
), staged AS (
  SELECT *, CASE
    WHEN ntok < 30 THEN 'too_short'
    WHEN ntok > 80 THEN 'too_long'
    WHEN (CASE WHEN swr >= 0.03 THEN 'en' ELSE 'unknown' END) <> 'en' THEN 'lang_mismatch'
    END AS qreason
  FROM q
), surv AS (
  SELECT * FROM staged WHERE qreason IS NULL
), exact_drops AS (
  SELECT doc_id FROM (
    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS keep_id FROM surv
  ) WHERE doc_id <> keep_id
), corpus2 AS (
  SELECT s.doc_id, {_shingles_sql(_TOKS)} AS sh
  FROM surv s WHERE s.doc_id NOT IN (SELECT doc_id FROM exact_drops)
), near_drops AS (
  SELECT DISTINCT b.doc_id
  FROM corpus2 a, corpus2 b
  WHERE a.doc_id < b.doc_id
    AND len(list_distinct(list_concat(a.sh, b.sh))) > 0
    AND len(list_intersect(a.sh, b.sh))::DOUBLE
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7
)
SELECT s.doc_id,
  (reason = 'kept') AS keep, reason
FROM (
  SELECT doc_id, COALESCE(
    qreason,
    CASE WHEN doc_id IN (SELECT doc_id FROM exact_drops) THEN 'exact_duplicate'
         WHEN doc_id IN (SELECT doc_id FROM near_drops) THEN 'near_duplicate' END,
    'kept') AS reason
  FROM staged
) s
""",
        # two arms: 'long_id' ranks numerically; 'str_id' over the
        # lexicographic 'd<id>' surrogate keys (doc_id normalized VARCHAR)
        "q_token_packing": f"""
WITH base AS (SELECT doc_id, len({_TOKS}) AS n FROM documents),
c AS (
  SELECT doc_id, n,
    SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM base
), sbase AS (
  SELECT 'd' || CAST(doc_id AS VARCHAR) AS sid, len({_TOKS}) AS n FROM documents
), sc AS (
  SELECT sid, n,
    SUM(n) OVER (ORDER BY sid ROWS UNBOUNDED PRECEDING) AS cum
  FROM sbase
)
SELECT 'long_id' AS arm, CAST(doc_id AS VARCHAR) AS doc_id,
  n::BIGINT AS n_tokens, (cum - n)::BIGINT AS start_tok,
  ((cum - n) // 512)::BIGINT AS first_pack,
  ((cum - 1) // 512)::BIGINT AS last_pack
FROM c
UNION ALL
SELECT 'str_id', sid, n::BIGINT, (cum - n)::BIGINT,
  ((cum - n) // 512)::BIGINT, ((cum - 1) // 512)::BIGINT
FROM sc
""",
        "q_pack_summary": f"""
WITH base AS (SELECT doc_id, len({_TOKS}) AS n FROM documents),
c AS (
  SELECT doc_id, n,
    SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM base
), spans AS (
  SELECT doc_id, n::BIGINT AS n, (cum - n)::BIGINT AS start_tok,
    ((cum - n) // 512)::BIGINT AS first_pack, ((cum - 1) // 512)::BIGINT AS last_pack
  FROM c WHERE n > 0
), touched AS (
  SELECT s.doc_id, s.n, s.start_tok, gs.pack_id
  FROM spans s, LATERAL (
    SELECT UNNEST(generate_series(s.first_pack, s.last_pack)) AS pack_id
  ) gs
)
SELECT pack_id::BIGINT AS pack_id, COUNT(*) AS n_docs,
  SUM(LEAST(start_tok + n, (pack_id + 1) * 512)
      - GREATEST(start_tok, pack_id * 512))::BIGINT AS n_tokens
FROM touched GROUP BY pack_id
""",
        # two arms: 'budget' = quality-first global budget (source NULL);
        # 'mixture' = per-source budgets src0 floor(3000*2/4)=1500,
        # src1/src2 750
        "q_token_budget_mixture": f"""
WITH bbase AS (
  SELECT doc_id, n_chars::DOUBLE AS q, len({_TOKS}) AS n FROM documents
), bc AS (
  SELECT doc_id, n,
    SUM(n) OVER (ORDER BY q DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM bbase
), d AS (
  SELECT doc_id, source, len({_TOKS}) AS nt,
    n_chars::DOUBLE AS q
  FROM documents
), listed AS (
  SELECT doc_id, source, nt,
    SUM(nt) OVER (PARTITION BY source ORDER BY q DESC, doc_id
                  ROWS UNBOUNDED PRECEDING) AS cum,
    CASE source WHEN 'src0' THEN 1500 ELSE 750 END AS budget
  FROM d WHERE source IN ('src0', 'src1', 'src2')
)
SELECT 'budget' AS arm, doc_id, NULL::VARCHAR AS source,
  n::BIGINT AS n_tokens, cum::BIGINT AS cum_tokens, (cum <= 10000) AS keep
FROM bc
UNION ALL
SELECT 'mixture', doc_id, source, nt::BIGINT, cum::BIGINT, (cum <= budget)
FROM listed
UNION ALL
SELECT 'mixture', doc_id, source, nt::BIGINT, NULL::BIGINT, FALSE
FROM d WHERE source NOT IN ('src0', 'src1', 'src2') OR source IS NULL
""",
        # two arms. 'groups': the sf corpus has no natural byte-duplicate
        # groups, so the planted +100000 copies are the exact answer.
        # 'incremental': the FULL cross-snapshot pipeline recomputed from
        # scratch — fingerprints, 16 md5-affine minhashes, 4 band keys,
        # the bucket cap, band collisions, exact-Jaccard verification and
        # the (max jaccard, min id) best-match tie-break.
        "q_exact_dedup": f"""
WITH batch AS (
  SELECT doc_id + 100000 AS new_id, text FROM documents WHERE doc_id < 5
  UNION ALL
  SELECT doc_id + 200000, text || ' zzzz yyyy' FROM documents WHERE doc_id < 5
  UNION ALL
  SELECT doc_id + 300000,
    'totally novel sentence number ' || doc_id::VARCHAR || ' with no corpus counterpart at all'
  FROM documents WHERE doc_id < 2
), exact_idx AS (
  SELECT {_FPRINT} AS fingerprint, min(doc_id) AS rep_id FROM documents GROUP BY 1
), bsh AS (
  SELECT new_id, {_FPRINT} AS fingerprint, {_shingles_sql(_TOKS)} AS sh_new FROM batch
), csh AS (
  SELECT doc_id AS old_id, {_shingles_sql(_TOKS)} AS sh_old FROM documents
), band_no(band) AS (VALUES (0), (1), (2), (3)),
cband AS (
  SELECT old_id, band, bks[band + 1] AS bkey
  FROM (SELECT old_id, {_bandkeys_sql('sh_old')} AS bks FROM csh), band_no
), capped AS (
  SELECT band, bkey FROM cband GROUP BY band, bkey HAVING count(*) <= 1000
), exact_hits AS (
  SELECT new_id, 'exact_dup' AS verdict, rep_id AS matched_id, NULL::DOUBLE AS jaccard
  FROM bsh JOIN exact_idx USING (fingerprint)
), rest AS (
  SELECT bsh.* FROM bsh ANTI JOIN exact_idx USING (fingerprint)
), bband AS (
  SELECT new_id, band, bks[band + 1] AS bkey
  FROM (SELECT new_id, {_bandkeys_sql('sh_new')} AS bks FROM rest), band_no
), cand AS (
  SELECT DISTINCT new_id, old_id
  FROM bband JOIN capped USING (band, bkey) JOIN cband USING (band, bkey)
), verified AS (
  SELECT cand.new_id, cand.old_id,
    ROUND(CASE WHEN len(list_distinct(list_concat(sh_new, sh_old))) > 0
      THEN len(list_intersect(sh_new, sh_old))::DOUBLE
           / len(list_distinct(list_concat(sh_new, sh_old)))
      ELSE 0.0 END, 6) AS jaccard
  FROM cand JOIN rest USING (new_id) JOIN csh USING (old_id)
), near_hits AS (
  SELECT new_id, 'near_dup' AS verdict, old_id AS matched_id, jaccard,
    row_number() OVER (PARTITION BY new_id ORDER BY jaccard DESC, old_id ASC) AS rk
  FROM verified WHERE jaccard >= 0.7
), inc AS (
  SELECT new_id, verdict, matched_id, jaccard FROM exact_hits
  UNION ALL
  SELECT new_id, verdict, matched_id, jaccard FROM near_hits WHERE rk = 1
  UNION ALL
  SELECT new_id, 'new', NULL::BIGINT, NULL::DOUBLE FROM bsh
  WHERE new_id NOT IN (
    SELECT new_id FROM exact_hits UNION ALL SELECT new_id FROM near_hits WHERE rk = 1
  )
)
SELECT 'groups' AS arm, {_FPRINT} AS key, doc_id AS id_a,
  doc_id + 100000 AS id_b, 2::BIGINT AS cnt, NULL::DOUBLE AS score
FROM documents WHERE doc_id < 10
UNION ALL
SELECT 'incremental', verdict, new_id, matched_id, NULL::BIGINT, jaccard FROM inc
""",
        "q_ngram_jaccard": f"""
WITH base AS (
  SELECT doc_id AS id, {sh} AS sh FROM documents WHERE doc_id < 120
)
SELECT a.id AS id_a, b.id AS id_b,
  ROUND(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
    THEN len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh)))
    ELSE 0.0 END, 6) AS jaccard
FROM base a, base b WHERE a.id < b.id
ORDER BY jaccard DESC, id_a, id_b LIMIT 25
""",
        # oracle = full brute-force Jaccard over the same corpus: the testdata
        # itself carries planted near-dup pairs (plus our +100000 copies), and
        # the banded LSH must reach them all (16 hashes / 4 bands keeps
        # P[miss] < 2% at s=0.9; fixed hashes make the check deterministic)
        "q_minhash_lsh_pairs": f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 10
), base AS (
  SELECT doc_id AS id, {_shingles_sql(_TOKS)} AS sh FROM corpus
)
SELECT a.id AS id_a, b.id AS id_b,
  ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
        / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM base a, base b
WHERE a.id < b.id AND len(list_distinct(list_concat(a.sh, b.sh))) > 0
  AND len(list_intersect(a.sh, b.sh))::DOUBLE
      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7
""",
        # the whole NB pipeline recomputed: per-class occurrence counts,
        # united-vocab Laplace smoothing, ln-weight arithmetic, the
        # per-occurrence multinomial sum, the doc-prior bias
        "q_quality_classifier": f"""
WITH d AS (
  SELECT doc_id, text, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label FROM documents
), toks AS (
  SELECT label, t.t AS token FROM (SELECT label, {_TOKS} AS l FROM d), unnest(l) AS t(t)
), counts AS (
  SELECT token,
         SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END)::BIGINT AS c1,
         SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS c0
  FROM toks GROUP BY token
), tot AS (
  SELECT SUM(c1)::BIGINT AS t1, SUM(c0)::BIGINT AS t0, COUNT(*)::BIGINT AS v FROM counts
), wts AS (
  SELECT token, ln((c1 + 1.0) / (t1 + 1.0 * v)) - ln((c0 + 1.0) / (t0 + 1.0 * v)) AS weight
  FROM counts, tot
), bias AS (
  SELECT ln(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) * 1.0
            / SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END)) AS bias FROM d
), dtoks AS (
  SELECT doc_id, t.t AS token FROM (SELECT doc_id, {_TOKS} AS l FROM d), unnest(l) AS t(t)
), per_doc AS (
  SELECT d.doc_id,
         COUNT(t.token)::BIGINT AS n_tokens,
         COUNT(w.weight)::BIGINT AS matched,
         COALESCE(SUM(w.weight), 0.0) AS w_sum
  FROM d LEFT JOIN dtoks t ON d.doc_id = t.doc_id
         LEFT JOIN wts w ON t.token = w.token
  GROUP BY d.doc_id
)
SELECT doc_id, n_tokens, matched, ROUND(w_sum + bias, 6) AS score FROM per_doc, bias
""",
        # positional (non-distinct) 8-token shingles with 0-based start
        # indices; hot = occurrence count >= 3; strip removes the UNION of
        # covered indices and re-joins survivors with single spaces
        "q_substring_dedup": f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), pos AS (
  SELECT doc_id, s AS start_tok,
         array_to_string(list_slice(toks, s + 1, s + 8), ' ') AS ngram
  FROM t, LATERAL (SELECT unnest(generate_series(0, len(toks) - 8)) AS s)
), hot AS (
  SELECT ngram, COUNT(*)::BIGINT AS cnt FROM pos GROUP BY ngram HAVING COUNT(*) >= 3
), spans AS (
  SELECT p.doc_id, p.start_tok, p.start_tok + 8 AS end_tok, p.ngram
  FROM pos p JOIN hot h USING (ngram)
), cov AS (
  SELECT DISTINCT doc_id, unnest(generate_series(start_tok, start_tok + 7)) AS idx FROM spans
), kept AS (
  SELECT t.doc_id, i.i AS idx, t.toks[i.i + 1] AS tok
  FROM t, LATERAL (SELECT unnest(generate_series(0, len(t.toks) - 1)) AS i) i
  WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.idx = i.i)
)
SELECT 'hot' AS arm, ngram AS key, cnt AS a, NULL::BIGINT AS b, NULL::VARCHAR AS txt FROM hot
UNION ALL
SELECT 'span', doc_id || ':' || start_tok, start_tok::BIGINT, end_tok::BIGINT, ngram FROM spans
UNION ALL
SELECT 'strip', CAST(t.doc_id AS VARCHAR), len(t.toks)::BIGINT,
       COALESCE((SELECT COUNT(*) FROM cov c WHERE c.doc_id = t.doc_id), 0)::BIGINT,
       COALESCE((SELECT string_agg(k.tok, ' ' ORDER BY k.idx) FROM kept k WHERE k.doc_id = t.doc_id), '')
FROM t
UNION ALL
SELECT * FROM (
  WITH dl AS (
    SELECT doc_id,
      CASE WHEN doc_id % 3 = 0
             THEN 'COPYRIGHT NOTICE' || chr(10) || chr(10) || text || chr(10) || 'all rights reserved'
           WHEN doc_id % 5 = 0
             THEN text || chr(10) || '  COPYRIGHT NOTICE  '
           ELSE text END AS text
    FROM documents
  ), lx AS (
    SELECT doc_id, ls, i.i AS pos, ls[i.i + 1] AS raw, trim(ls[i.i + 1]) AS line
    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM dl),
         LATERAL (SELECT unnest(generate_series(0, len(ls) - 1)) AS i) i
  ), perdoc AS (
    SELECT DISTINCT doc_id, line FROM lx WHERE len(line) >= 1
  ), hotl AS (
    SELECT line, COUNT(*)::BIGINT AS nd FROM perdoc GROUP BY 1 HAVING COUNT(*) >= 2
  ), marked AS (
    SELECT lx.doc_id, lx.pos, lx.raw, (h.line IS NOT NULL) AS is_hot
    FROM lx LEFT JOIN hotl h ON lx.line = h.line
  )
  SELECT 'hotline' AS arm, line AS key, nd AS a, NULL::BIGINT AS b, NULL::VARCHAR AS txt FROM hotl
  UNION ALL
  SELECT 'stripline', CAST(doc_id AS VARCHAR), COUNT(*)::BIGINT,
         SUM(CASE WHEN is_hot THEN 1 ELSE 0 END)::BIGINT,
         COALESCE(string_agg(CASE WHEN NOT is_hot THEN raw END, chr(10) ORDER BY pos), '')
  FROM marked GROUP BY doc_id
)
""",
        "q_tfidf_terms": f"""
WITH toks AS (
  SELECT doc_id, t.t AS term FROM (SELECT doc_id, {_TOKS} AS l FROM documents), unnest(l) AS t(t)
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1 HAVING COUNT(*) >= 2),
n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
sc AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
    ROUND(tf.tf * (ln((1.0 + n.nd) / (1.0 + dfq.df)) + 1.0), 6) AS tfidf
  FROM tf JOIN dfq USING (term), n
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
  )::INT AS rank FROM sc
)
SELECT doc_id, term, tf, df, tfidf, rank FROM r WHERE rank <= 3
""",
        # the full LM pipeline recomputed: top-k vocab, OOV mapping,
        # counts, Laplace smoothing, per-doc perplexity
        "q_lm_perplexity": f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS l FROM documents),
cnt AS (SELECT t.t AS tok, COUNT(*) AS c FROM tk, unnest(l) AS t(t) GROUP BY 1),
voc AS (
  SELECT tok FROM (
    SELECT tok, ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS rk FROM cnt
  ) WHERE rk <= 100
),
vl AS (SELECT list(tok) AS vs FROM voc),
m AS (
  SELECT doc_id,
    list_transform(l, t -> CASE WHEN list_contains(vs, t) THEN t ELSE '<unk>' END) AS ml
  FROM tk, vl
),
uni AS (SELECT t.t AS w, COUNT(*) AS c1 FROM m, unnest(ml) AS t(t) GROUP BY 1),
vt AS (SELECT COUNT(*) AS v FROM uni),
bge AS (
  SELECT doc_id, b.b AS pair FROM (
    SELECT doc_id,
      [ml[i] || chr(1) || ml[i+1] for i in range(1, greatest(len(ml), 1))] AS bl
    FROM m
  ), unnest(bl) AS b(b)
),
bic AS (SELECT pair, COUNT(*) AS c2 FROM bge GROUP BY 1),
sc AS (
  SELECT g.doc_id,
    ln((COALESCE(bic.c2, 0) + 1.0)
       / (uni.c1 + 1.0 * vt.v)) AS lp
  FROM bge g
  LEFT JOIN bic ON bic.pair = g.pair
  JOIN uni ON uni.w = split_part(g.pair, chr(1), 1), vt
),
agg AS (SELECT doc_id, COUNT(*) AS n, SUM(lp) AS s FROM sc GROUP BY 1)
SELECT d.doc_id, COALESCE(agg.n, 0)::BIGINT AS n_bigrams,
  ROUND(agg.s / agg.n, 6) AS avg_logp,
  ROUND(exp(-agg.s / agg.n), 6) AS perplexity
FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
""",
        # connected components over the brute-force-verified pair graph:
        # recursive transitive closure, min reachable id per node
        "q_dedup_clusters": f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 10
), base AS (
  SELECT doc_id AS id, {_shingles_sql(_TOKS)} AS sh FROM corpus
), p AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM base a, base b
  WHERE a.id < b.id AND len(list_distinct(list_concat(a.sh, b.sh))) > 0
    AND len(list_intersect(a.sh, b.sh))::DOUBLE
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7
), edges AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION
  SELECT id_b, id_a FROM p
), reach(u, label) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t(u)
  UNION
  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
)
SELECT u AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY u
""",
        # two arms: 'hash' = Bernoulli-by-hash; 'stratified' = exact-n rank
        "q_sampling": f"""
WITH r AS (
  SELECT doc_id, source,
    ROW_NUMBER() OVER (
      PARTITION BY source
      ORDER BY ('0x' || substr(md5('r5|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
               doc_id
    ) AS rk
  FROM documents
), sharded AS (
  SELECT doc_id, source,
    ('0x' || substr(md5('r6|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM documents WHERE doc_id < 200
)
SELECT 'hash' AS arm, doc_id, source,
       CAST(NULL AS BIGINT) AS shard_id, CAST(NULL AS BIGINT) AS pos
FROM documents
WHERE ('0x' || substr(md5('r5|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      < {int(0.2 * (1 << 60))}
UNION ALL
SELECT 'stratified', doc_id, source, NULL, NULL FROM r WHERE rk <= 25
UNION ALL
SELECT 'shards', doc_id, source, h % 8,
       ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1
FROM sharded
""",
        # DSIR end-to-end recompute: tagged unigram+bigram feature lists,
        # seeded-md5 bucket hashing into 512 buckets, target (docs 0-199)
        # and raw (full corpus) profiles, add-one-smoothed log ratios with
        # the n_feats * smoothing-constant identity, and the deterministic
        # Gumbel top-300 (u from the 'r6'-seeded hash of the id).
        "q_importance": f"""
WITH d AS (
  SELECT doc_id, list_concat(
    list_transform(toks, t -> 'u|' || t),
    [ 'b|' || toks[i] || ' ' || toks[i+1] for i in range(1, len(toks)) ]
  ) AS feats
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
),
occ AS (
  SELECT doc_id, {_hash64_sql('f', 'dsir')} % 512 AS bucket
  FROM (SELECT doc_id, unnest(feats) AS f FROM d)
),
tp AS (SELECT bucket, COUNT(*) AS ct FROM occ WHERE doc_id < 200 GROUP BY bucket),
rp AS (SELECT bucket, COUNT(*) AS cr FROM occ GROUP BY bucket),
tot AS (
  SELECT ln((SELECT COALESCE(SUM(cr), 0) FROM rp) + 512.0)
       - ln((SELECT COALESCE(SUM(ct), 0) FROM tp) + 512.0) AS smooth_const
),
ratio AS (
  SELECT COALESCE(tp.bucket, rp.bucket) AS bucket,
         ln(COALESCE(ct, 0) + 1.0) - ln(COALESCE(cr, 0) + 1.0) AS lr
  FROM tp FULL OUTER JOIN rp ON tp.bucket = rp.bucket
),
summed AS (
  SELECT occ.doc_id, SUM(COALESCE(ratio.lr, 0.0)) AS s
  FROM occ LEFT JOIN ratio ON occ.bucket = ratio.bucket
  GROUP BY occ.doc_id
),
w AS (
  SELECT d.doc_id, len(d.feats)::BIGINT AS n_feats,
         COALESCE(summed.s, 0.0) + len(d.feats) * tot.smooth_const AS log_w
  FROM d LEFT JOIN summed ON d.doc_id = summed.doc_id, tot
),
keyed AS (
  SELECT doc_id, n_feats, log_w,
    log_w + (-ln(-ln((({_hash64_sql("CAST(doc_id AS VARCHAR)", 'r6')}) + 0.5)
                     / 1152921504606846976.0))) AS key
  FROM w
)
SELECT 'weights' AS arm, doc_id, n_feats, ROUND(log_w, 6) AS log_w,
       CAST(NULL AS DOUBLE) AS key
FROM w WHERE doc_id < 100
UNION ALL
SELECT 'resample', doc_id, n_feats, ROUND(log_w, 6), ROUND(key, 6)
FROM (SELECT * FROM keyed ORDER BY key DESC, doc_id LIMIT 300) t
""",
        # three arms. 'exact': brute-force list_intersect over the SAME
        # 8-gram shingle definition. 'cms': the ENTIRE CMS composition
        # recomputed (sketch bucket counts with the seeded md5,
        # min-over-rows estimates, cap filter, hits over kept shingles) —
        # deterministic end to end. 'norm': normalized 13-gram
        # decontamination — the bench side is the SAME docs uppercased with
        # a comma after every word, so normalization must canonicalize both
        # sides back to identical shingles.
        "q_contamination": f"""
SELECT 'exact' AS arm, t.* FROM (
  WITH d AS (SELECT doc_id, {_shingles_sql(_TOKS, 8)} AS sh FROM documents),
  b AS (SELECT doc_id + 900000 AS bench_id, {_shingles_sql(_TOKS, 8)} AS sh
        FROM documents WHERE doc_id < 10)
  SELECT d.doc_id, b.bench_id, len(list_intersect(d.sh, b.sh))::BIGINT AS n_shared
  FROM d, b WHERE len(list_intersect(d.sh, b.sh)) >= 3
) t
UNION ALL
SELECT 'cms', t.* FROM (
  WITH d AS (SELECT doc_id, {_shingles_sql(_TOKS, 8)} AS sh FROM documents),
  ds AS (SELECT doc_id, unnest(sh) AS sh FROM d),
  cms AS (
    SELECT r.r AS row,
      ('0x' || substr(md5('cms' || r.r || '|' || sh), 1, 15))::BIGINT % 1024 AS bucket,
      COUNT(*) AS cnt
    FROM ds, range(2) r(r) GROUP BY 1, 2
  ),
  b AS (SELECT doc_id + 900000 AS bench_id, {_shingles_sql(_TOKS, 8)} AS sh
        FROM documents WHERE doc_id < 10),
  bs AS (SELECT bench_id, unnest(sh) AS sh FROM b),
  q AS (SELECT DISTINCT sh FROM bs),
  keys AS (
    SELECT q.sh, r.r AS row,
      ('0x' || substr(md5('cms' || r.r || '|' || q.sh), 1, 15))::BIGINT % 1024 AS bucket
    FROM q, range(2) r(r)
  ),
  est AS (
    SELECT keys.sh, MIN(COALESCE(cms.cnt, 0)) AS est
    FROM keys LEFT JOIN cms ON cms.row = keys.row AND cms.bucket = keys.bucket
    GROUP BY keys.sh
  ),
  kept AS (SELECT sh FROM est WHERE est <= 30)
  SELECT ds.doc_id, bs.bench_id, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM ds JOIN kept USING (sh) JOIN bs USING (sh)
  GROUP BY 1, 2
  HAVING COUNT(*) >= 1
) t
UNION ALL
SELECT 'norm', t.* FROM (
  WITH d AS (SELECT doc_id, {_shingles_sql(_norm_toks_sql('text'), 13)} AS sh FROM documents),
  b AS (SELECT doc_id + 900000 AS bench_id,
        {_shingles_sql(_norm_toks_sql("regexp_replace(upper(text), ' ', ', ', 'g')"), 13)} AS sh
        FROM documents WHERE doc_id < 10)
  SELECT d.doc_id, b.bench_id, len(list_intersect(d.sh, b.sh))::BIGINT AS n_shared
  FROM d, b WHERE len(list_intersect(d.sh, b.sh)) >= 1
) t
""",
        "q_pii_scan": """
WITH d AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 7 = 0 THEN ' reach bob@example.com now' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567 today' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789 leaked' ELSE '' END
    || CASE WHEN doc_id % 17 = 0 THEN ' host 10.0.0.1 up' ELSE '' END AS text
  FROM documents)
SELECT doc_id,
  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::INT AS n_email,
  len(regexp_extract_all(text, '\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}'))::INT AS n_phone,
  len(regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}'))::INT AS n_ssn_like,
  len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))::INT AS n_ipv4,
  (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
   + len(regexp_extract_all(text, '\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}'))
   + len(regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}'))
   + len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')))::INT AS pii_total
FROM d
""",
        "q_combined_signatures": _simhash_cte(50) + f""", mbase AS (
  SELECT doc_id AS id, {_shingles_sql(_TOKS)} AS shl FROM documents WHERE doc_id < 50
), mh AS (
  SELECT id, {", ".join(f"{_minhash_sql('shl', i)} AS mh{i}" for i in range(4))}
  FROM mbase
)
SELECT mh.id, mh0, mh1, mh2, mh3, sh.simhash
FROM mh JOIN sh ON mh.id = sh.id
""",
        # repetition signals: lines/bigram folds with explicit multiplicity
        # recomputation (O(k^2) list_filter counts are fine for an oracle)
        "q_repetition": """
WITH d AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 5 = 0
       THEN chr(10) || 'repeat me now' || chr(10) || 'repeat me now' || chr(10) || 'unique tail line'
       ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' spam ham spam ham spam ham' ELSE '' END AS text
  FROM documents
), parts AS (
  SELECT doc_id, text,
    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS lines,
    list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM d
), grams AS (
  SELECT doc_id, text, lines,
    [array_to_string(toks[i:i+1], ' ') for i in range(1, greatest(len(toks) - 0, 1))] AS gs
  FROM parts
)
SELECT doc_id,
  ROUND(CASE WHEN len(lines) > 0
    THEN (len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines) ELSE 0.0 END, 6)
    AS dup_line_fraction,
  ROUND(CASE WHEN list_sum(list_transform(lines, l -> len(l))) > 0
    THEN list_sum(list_transform(list_distinct(lines),
           dl -> (len(list_filter(lines, x -> x = dl)) - 1) * len(dl)))::DOUBLE
         / list_sum(list_transform(lines, l -> len(l)))
    ELSE 0.0 END, 6) AS dup_line_char_fraction,
  ROUND(CASE WHEN len(text) > 0 AND len(gs) > 0
    THEN list_max(list_transform(list_distinct(gs),
           g -> len(list_filter(gs, x -> x = g)) * len(g)))::DOUBLE / len(text)
    ELSE 0.0 END, 6) AS top_ngram_char_fraction
FROM grams
""",
        "q_domains": r"""
WITH d AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 4 = 0
       THEN ' see https://www.Example.com/a and http://blog.example.com/x?q=1' ELSE '' END
    || CASE WHEN doc_id % 6 = 0 THEN ' ref https://data.org:8080/path' ELSE '' END AS text
  FROM documents
), u AS (
  SELECT doc_id,
    unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?::[0-9]+)?(?:/[^\s]*)?')) AS url
  FROM d
), dom AS (
  SELECT doc_id,
    regexp_replace(lower(regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1)), '^www\.', '') AS domain
  FROM u
), per AS (
  SELECT doc_id, domain, COUNT(*) AS urls FROM dom GROUP BY 1, 2
), first_dom AS (
  SELECT doc_id,
    regexp_replace(lower(regexp_extract(
      list_extract(regexp_extract_all(text,
        'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?::[0-9]+)?(?:/[^\s]*)?'), 1),
      'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1)), '^www\.', '') AS domain
  FROM d
), ranked AS (
  SELECT doc_id, domain,
    ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id ASC) AS rnk
  FROM first_dom WHERE domain IS NOT NULL
)
SELECT 'counts' AS arm, domain, CAST(COUNT(*) AS BIGINT) AS a, CAST(SUM(urls) AS BIGINT) AS b
FROM per GROUP BY domain
UNION ALL
SELECT 'cap', domain, CAST(doc_id AS BIGINT), CAST(rnk AS BIGINT)
FROM ranked WHERE rnk <= 5
UNION ALL
SELECT 'cap', NULL, CAST(doc_id AS BIGINT), NULL
FROM first_dom WHERE domain IS NULL
""",
        # two arms normalized to (arm, a, b, v): 'sig' = fingerprints;
        # 'pairs' = brute-force Hamming truth — the block-partition join is
        # EXACT at distance <= k (pigeonhole), so the full pair set must match
        "q_simhash": (
            "SELECT 'sig' AS arm, t.id AS a, NULL::BIGINT AS b, t.simhash AS v FROM ("
            + _simhash_sql()
            + """) t
UNION ALL
SELECT 'pairs', t.id_a, t.id_b, t.hamming::BIGINT FROM ("""
            + _simhash_cte(150, planted_below=30)
            + """
SELECT a.id AS id_a, b.id AS id_b,
  bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sh a, sh b
WHERE a.id < b.id AND bit_count(xor(a.simhash, b.simhash)) <= 3
) t
"""
        ),
        # two arms: 'brute' = float cosine; 'quantized' = exact replication
        # of the int8 quantize→dequantize→cosine math (integer inner
        # product — the per-vector scale cancels out of cosine, so
        # score = int dot / (int norm x int norm); identical floor-half-up
        # quantization, identical arithmetic order)
        "q_ann_exact": """
SELECT 'brute' AS arm, t.* FROM (
  WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
  q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
  s AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      list_dot_product(q.v, e.v)
        / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS sc
    FROM q, e WHERE e.vec_id <> q.vec_id
  ), r AS (
    SELECT query_id, neighbor_id, ROUND(sc, 4) AS score,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sc DESC, neighbor_id)::INT AS rank
    FROM s
  )
  SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
) t
UNION ALL
SELECT 'quantized', t.* FROM (
  WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
  qz AS (
    SELECT vec_id, list_max(list_transform(v, x -> abs(x))) AS s, v FROM e
  ), iq AS (
    SELECT vec_id,
      CASE WHEN s > 0
        THEN list_transform(v, x -> floor(x / s * 127 + 0.5)::BIGINT)
        ELSE list_transform(v, x -> 0::BIGINT) END AS q
    FROM qz
  ), nq AS (
    SELECT vec_id, q, sqrt(list_dot_product(q, q)::DOUBLE) AS n FROM iq
  ), qs AS (SELECT vec_id, q, n FROM nq WHERE vec_id < 10),
  s AS (
    SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
      list_dot_product(qs.q, c.q)::DOUBLE / (c.n * qs.n) AS sc
    FROM qs, nq c WHERE c.vec_id <> qs.vec_id AND c.n > 0 AND qs.n > 0
  ), r AS (
    SELECT query_id, neighbor_id, ROUND(sc, 4) AS score,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sc DESC, neighbor_id)::INT AS rank
    FROM s
  )
  SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
) t
""",
        # 'near_dup': the sf corpus has no natural cosine-0.99 pairs, so
        # the planted +100000 copies are the exact answer. 'diversity':
        # the full deterministic Lloyd iteration recomputed in SQL.
        "q_embedding_near_dup": f"""
WITH {_kmeans_ctes(k=4, iters=2, dim=64)},
dfin AS (
  SELECT e.vec_id, c.cluster,
    ROUND(list_sum(list_transform(list_zip(e.embedding, c.cvec),
      p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE))), 4) AS dist
  FROM embeddings e CROSS JOIN c2 c
), afin AS (
  SELECT vec_id, cluster, dist FROM (
    SELECT vec_id, cluster, dist,
      row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cluster ASC) AS rk
    FROM dfin) WHERE rk = 1
)
SELECT 'near_dup' AS arm, vec_id AS id_a, vec_id + 100000 AS id_b,
  1.0 AS score, NULL::BIGINT AS rank
FROM embeddings WHERE vec_id < 5
UNION ALL
SELECT 'diversity', vec_id, cluster::BIGINT, dist, rank_in_cluster FROM (
  SELECT vec_id, cluster, dist,
    row_number() OVER (PARTITION BY cluster ORDER BY dist ASC, vec_id ASC) AS rank_in_cluster
  FROM afin
) WHERE rank_in_cluster <= 20
""",
        # three arms sharing (arm, media_ref, mime, f0..f7). 'ppm':
        # closed-form pixel math over the deterministic gradient images —
        # the REAL numpy decoder is checked against independent SQL, not
        # itself. 'wav': closed-form audio math — sawtooth
        # s_i = (i*(seed+3))%4096-2048 regenerated per media_ref over
        # range(n), features recomputed with SQL aggregates (population
        # std, strict sign-flip crossings). 'fake': the md5-arithmetic
        # plumbing decoder recomputed exactly.
        "q_media_decode": f"""
SELECT 'ppm' AS arm, t.media_ref, 'image/x-portable-pixmap' AS mime,
  t.f0, t.f1, t.f2, t.f3, t.f4, t.f5, t.f6, t.f7
FROM (
  WITH m AS (
    SELECT 'm/' || CAST(i AS VARCHAR) AS media_ref,
      ({_hash64_sql("'m/' || CAST(i AS VARCHAR)", 'w')} % 12) + 4 AS w,
      ({_hash64_sql("'m/' || CAST(i AS VARCHAR)", 'h')} % 12) + 4 AS h,
      {_hash64_sql("'m/' || CAST(i AS VARCHAR)", 's')} % 256 AS s
    FROM range(37) t(i)
  ), px AS (
    SELECT m.media_ref, m.w, m.h,
      ((x.x * 3 + m.s) % 256) / 255.0 AS r,
      ((y.y * 5 + m.s * 2) % 256) / 255.0 AS g,
      ((x.x + y.y + m.s) % 256) / 255.0 AS b
    FROM m, range(16) x(x), range(16) y(y)
    WHERE x.x < m.w AND y.y < m.h
  )
  SELECT media_ref,
    ROUND(MAX(w)::DOUBLE, 6) AS f0, ROUND(MAX(h)::DOUBLE, 6) AS f1,
    ROUND(AVG(r), 6) AS f2, ROUND(AVG(g), 6) AS f3, ROUND(AVG(b), 6) AS f4,
    ROUND(stddev_pop(0.299*r + 0.587*g + 0.114*b), 6) AS f5,
    ROUND(MAX(0.299*r + 0.587*g + 0.114*b), 6) AS f6,
    ROUND(MIN(0.299*r + 0.587*g + 0.114*b), 6) AS f7
  FROM px GROUP BY media_ref
) t
UNION ALL
SELECT 'wav', t.media_ref, 'audio/wav',
  t.f0, t.f1, t.f2, t.f3, t.f4, t.f5, t.f6, t.f7
FROM (
  WITH m AS (
  SELECT 'a/' || CAST(i AS VARCHAR) AS media_ref,
    (('0x' || substr(md5('n|' || 'a/' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 400) + 50 AS n,
    (('0x' || substr(md5('r|' || 'a/' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 3) * 8000 + 8000 AS sr,
    ('0x' || substr(md5('s|' || 'a/' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 97 AS seed
  FROM range(29) t(i)
), s AS (
  SELECT media_ref, n, sr, i.i AS idx,
    ((i.i * (seed + 3)) % 4096 - 2048) AS sv
  FROM m, range(450) i(i) WHERE i.i < m.n
), x AS (
  SELECT media_ref, n, sr, idx, sv, sv / 32768.0 AS xv,
    lead(sv) OVER (PARTITION BY media_ref ORDER BY idx) AS nxt
  FROM s
)
SELECT media_ref,
  ROUND(MAX(sr)::DOUBLE, 6) AS f0,
  ROUND(MAX(n)::DOUBLE, 6) AS f1,
  ROUND(MAX(n)::DOUBLE / MAX(sr), 6) AS f2,
  ROUND(AVG(xv), 6) AS f3,
  ROUND(sqrt(AVG(xv * xv)), 6) AS f4,
  ROUND(MAX(abs(xv)), 6) AS f5,
  ROUND(SUM(CASE WHEN nxt IS NOT NULL AND sv * nxt < 0 THEN 1 ELSE 0 END)::DOUBLE
        / (MAX(n) - 1), 6) AS f6,
  ROUND(stddev_pop(xv), 6) AS f7
FROM x GROUP BY media_ref
) t
UNION ALL
SELECT 'fake', t.media_ref, t.mime,
  t.f0, t.f1, t.f2, t.f3, t.f4, t.f5, t.f6, t.f7
FROM (
  WITH m AS (
    SELECT 'm/' || CAST(r AS VARCHAR) || '.png' AS media_ref,
      (['image/png','image/jpeg','video/mp4'])[(r % 3)::INT + 1] AS mime
    FROM range(37) t(r)
  ), p AS (
    SELECT media_ref, mime, md5(repeat(md5(media_ref), 4)) AS h FROM m
  )
  SELECT media_ref, mime,
    ROUND(('0x' || substr(h, 1, 2))::INT / 255.0, 6) AS f0,
    ROUND(('0x' || substr(h, 3, 2))::INT / 255.0, 6) AS f1,
    ROUND(('0x' || substr(h, 5, 2))::INT / 255.0, 6) AS f2,
    ROUND(('0x' || substr(h, 7, 2))::INT / 255.0, 6) AS f3,
    ROUND(('0x' || substr(h, 9, 2))::INT / 255.0, 6) AS f4,
    ROUND(('0x' || substr(h, 11, 2))::INT / 255.0, 6) AS f5,
    ROUND(('0x' || substr(h, 13, 2))::INT / 255.0, 6) AS f6,
    ROUND(('0x' || substr(h, 15, 2))::INT / 255.0, 6) AS f7
  FROM p
) t
""",
        # the documents parquet schema is fixed testdata (TESTDATA.md):
        # bigint/varchar columns as below; the oracle is the literal diff
        "q_schema_drift": """
SELECT * FROM (VALUES
  ('doc_id', 'ok', 'bigint', 'bigint'),
  ('text', 'ok', 'string', 'string'),
  ('lang', 'ok', 'string', 'string'),
  ('source', 'type_changed', 'int', 'string'),
  ('quality', 'missing', 'double', NULL),
  ('n_chars', 'added', NULL, 'bigint')
) AS t(\"column\", status, expected_type, actual_type)
""",
        # two arms on (arm, k1, k2, n, nd_ok, q25_ok, q50_ok, q75_ok).
        # 'bounds': the oracle states the error-bound contract (all
        # booleans TRUE) + exact row count; the Spark side computes the
        # actual sketch-vs-exact comparison, so any bound violation
        # mismatches. 'cms': exact bucket recomputation with the identical
        # seeded md5 hash (k1=row, k2=bucket, n=cnt, booleans NULL).
        "q_sketch_contracts": f"""
SELECT 'bounds' AS arm, 'l_quantity' AS k1, NULL::VARCHAR AS k2,
  COUNT(*)::BIGINT AS n,
  TRUE AS nd_ok, TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok
FROM lineitem
UNION ALL
SELECT 'bounds', 'l_extendedprice', NULL, COUNT(*)::BIGINT,
  TRUE, TRUE, TRUE, TRUE
FROM lineitem
UNION ALL
SELECT 'cms', CAST(t.row AS VARCHAR), CAST(t.bucket AS VARCHAR), t.cnt,
  NULL, NULL, NULL, NULL
FROM (
  WITH tk AS (
    SELECT unnest({_TOKS}) AS tok FROM documents
  ), rb AS (
    SELECT r.r AS row, ('0x' || substr(md5('cms' || r.r || '|' || tok), 1, 15))::BIGINT % 64 AS bucket
    FROM tk, range(3) r(r)
  )
  SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM rb GROUP BY 1, 2
) t
""",
        # durable partition key (src_id % 16): every verdict row is
        # layout-independent and recomputable — planted classes 1-5,7,8
        # carry exactly one violation each (same plants as q_doc_verdicts)
        "q_partition_verdicts": _IDS_CTE + """
SELECT 'run-0' AS run_id, CAST(i % 16 AS VARCHAR) AS partition_key,
  (SUM(CASE WHEN p IN (1,2,3,4,5,7,8) THEN 1 ELSE 0 END) = 0) AS pass,
  CAST(COUNT(*) AS BIGINT) AS docs,
  CAST(SUM(CASE WHEN p IN (1,2,3,4,5,7,8) THEN 1 ELSE 0 END) AS BIGINT) AS violations
FROM ids GROUP BY i % 16
""",
        "q_validate_lineitem": """
WITH li AS (
  SELECT l_orderkey * 10 + l_linenumber AS row_key, l_quantity, l_discount, l_returnflag
  FROM lineitem
)
SELECT row_key AS doc_id, 'NUMBER_TOO_SMALL' AS rule_id, '/l_quantity' AS path,
  CAST(l_quantity AS VARCHAR) AS observed
FROM li WHERE l_quantity < 5
UNION ALL
SELECT row_key, 'NUMBER_TOO_LARGE', '/l_discount', CAST(l_discount AS VARCHAR)
FROM li WHERE l_discount > 0.06
UNION ALL
SELECT row_key, 'ENUM_MISMATCH', '/l_returnflag', l_returnflag
FROM li WHERE l_returnflag NOT IN ('A', 'N')
""",
        "q_validate_events_props": """
SELECT event_id AS doc_id, 'NUMBER_TOO_SMALL' AS rule_id, '/props/k' AS path,
  (props::JSON ->> 'k') AS observed
FROM events WHERE (props::JSON ->> 'k')::BIGINT < 50
""",
        "q_validate_json_typed": """
SELECT event_id AS doc_id, 'NUMBER_TOO_SMALL' AS rule_id, '/k' AS path,
  (props::JSON ->> 'k') AS observed
FROM events WHERE (props::JSON ->> 'k')::BIGINT < 50
""",
        "q_validate_json_exact": """
SELECT event_id AS doc_id, 'NUMBER_TOO_SMALL' AS rule_id, '/k' AS path,
  (props::JSON ->> 'k') AS observed
FROM events WHERE (props::JSON ->> 'k')::BIGINT < 50
""",
        "q_validate_json_variant": """
SELECT event_id AS doc_id, 'NUMBER_TOO_SMALL' AS rule_id, '/k' AS path,
  (props::JSON ->> 'k') AS observed
FROM events WHERE (props::JSON ->> 'k')::BIGINT < 50
""",
        # the native VariantType entry validates the SAME payloads to the
        # SAME rows — one oracle, two engine paths
        "q_validate_variant_native": """
SELECT event_id AS doc_id, 'NUMBER_TOO_SMALL' AS rule_id, '/k' AS path,
  (props::JSON ->> 'k') AS observed
FROM events WHERE (props::JSON ->> 'k')::BIGINT < 50
""",
        # DuckDB's NATIVE ASOF JOIN is the oracle for the engine's
        # union+window formulation
        "q_as_of_join": """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
r AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'error')
SELECT l.event_id, l.user_id,
  r.event_id AS asof_event_id, r.value AS asof_value,
  epoch_us(l.ts) - epoch_us(r.ts) AS lag_us
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
""",
        "q_interval_join": """
WITH p AS (
  SELECT event_id AS interval_id, user_id,
    ts - INTERVAL 5 MINUTE AS s, ts + INTERVAL 5 MINUTE AS e
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT p.interval_id, c.event_id
FROM p JOIN c ON p.user_id = c.user_id AND c.ts >= p.s AND c.ts <= p.e
""",
        "q_time_rollup": """
WITH h AS (
  SELECT 'hour' AS granularity, date_trunc('hour', ts) AS b,
    COUNT(*)::BIGINT AS n, ROUND(SUM(value), 6) AS sum,
    ROUND(MIN(value), 6) AS min, ROUND(MAX(value), 6) AS max,
    ROUND(AVG(value), 6) AS mean
  FROM events GROUP BY 2
), d AS (
  SELECT 'day' AS granularity, date_trunc('day', ts) AS b,
    COUNT(*)::BIGINT AS n, ROUND(SUM(value), 6) AS sum,
    ROUND(MIN(value), 6) AS min, ROUND(MAX(value), 6) AS max,
    ROUND(AVG(value), 6) AS mean
  FROM events GROUP BY 2
), u AS (SELECT * FROM h UNION ALL SELECT * FROM d)
SELECT granularity, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_start,
  n, sum, min, max, mean
FROM u
""",
        "q_sessionize": """
WITH s AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0 THEN 1 ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s2 AS (
  SELECT user_id, ts,
    (SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
  FROM s
)
SELECT user_id, session_seq, COUNT(*) AS n_events,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS t_start,
  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS t_end
FROM s2 GROUP BY user_id, session_seq
""",
        # residue-11 docs with >1 span (i%4 != 0 → n_spans = i%4+1 > 1) get a
        # reversed sequence → reported from BOTH snapshots; single-span docs
        # reverse to themselves → no row (order-sensitivity, no false hits)
        "q_span_sequence": _IDS_CTE + """
SELECT did AS doc_id, (i % 4 + 1)::INT AS n_spans, s.side
FROM ids, (SELECT 'before' AS side UNION ALL SELECT 'after') s
WHERE p = 11 AND i % 4 <> 0
""",
        "q_out_of_order": """
SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts FROM (
  SELECT event_id, user_id, ts,
    lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS p
  FROM events
) WHERE p IS NOT NULL AND ts < p
""",
        # recall bounds, two arms (metric discriminates): truth cardinality
        # derived from the data; meets_floor is the contract (engine
        # computes actual recall vs brute force)
        "q_ann_bounded": """
SELECT 'ann_lsh_recall_at_5' AS metric, COUNT(*)::BIGINT * 5 AS n_truth,
  TRUE AS meets_floor
FROM embeddings WHERE vec_id < 10
UNION ALL
SELECT 'ann_ivf_recall_at_5', COUNT(*)::BIGINT * 5, TRUE
FROM embeddings WHERE vec_id < 10
""",
    }
