"""DSIR-style importance resampling — the published data-selection method
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling") that picks raw-corpus documents whose hashed-n-gram profile
looks like a small high-quality TARGET set. The standard shape: fit two
bag-of-hashed-n-grams categorical distributions (target p, raw q), weight
every raw doc by its log likelihood ratio log p(x) - log q(x), then sample
without replacement via Gumbel top-k.

Feature space: unigrams + bigrams of whitespace tokens, each hashed into a
FIXED number of buckets B (the whole point of the hashing trick — the
model is O(B) regardless of corpus vocabulary, so at 10^12 docs the
distribution tables are still just B rows). Features are tagged 'u|' /
'b|' before hashing so a unigram never aliases a bigram by string value;
bucket collisions WITHIN the space are the method's intended compression.

    bucket(f)   = md5-hash60(seed|f) mod B            (stable_hash64)
    p_b         = (c_target(b) + 1) / (T_target + B)   (add-one smoothing)
    q_b         = (c_raw(b) + 1) / (T_raw + B)
    log w(doc)  = sum over feature OCCURRENCES of [ln p_b - ln q_b]
                = sum_b [ln(c_t(b)+1) - ln(c_r(b)+1)]
                  + n_feats * [ln(T_raw + B) - ln(T_target + B)]
    key(doc)    = log w(doc) + Gumbel(hash-seeded)     (top-k = resample)

The second identity is how it's computed here: the per-bucket table only
needs buckets OBSERVED in either profile (≤ B rows either way), and the
smoothing constant rides on n_feats — no dense B-row materialization.

Scale shape (100 TB doctrine):
  - profile fit: ONE tokenize+explode pass -> groupBy(bucket) count
    (map-side partials; output bounded at B rows).
  - weighting: tokenize+explode the scored corpus once, join the ≤B-row
    log-ratio table (F.broadcast IS forced here — B is a caller-fixed
    constant, 65,536 by convention, genuinely bounded by construction
    unlike a corpus vocabulary), one map-side-combinable per-doc sum.
    The corpus itself never shuffles except that per-doc re-agg.
  - resample: deterministic Gumbel key per row (pure projection) + a
    bounded global top-k that Catalyst compiles to TakeOrderedAndProject
    (per-partition heaps, never a single-task global sort).

Everything is seeded-md5 + ln arithmetic in whole-stage codegen — no
Python UDFs, no RNG state — so DuckDB recomputes the ENTIRE pipeline
exactly (gate query q_importance; rounding to 6 digits at the gate edge
only, full precision inside, same convention as operators/lm.py).

Reference parity note: the reference validator (json-schema-py) has no
data-selection surface — this module is part of the training-data-pipeline
extension mandated alongside SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_schema_py_spark.functions.text import (
    positional_shingles_of_tokens,
    stable_hash64,
    tokens,
)
from json_schema_py_spark.util import collapse_mode, text_units

_HASH_SPACE = 1 << 60  # stable_hash64 is a 60-bit value (15 hex chars)


def dsir_features(col):
    """Tagged unigram + bigram feature OCCURRENCES (multiset, order kept):
    ['u|the', 'u|cat', 'b|the cat']. One tokenize pass feeds both tiers."""
    toks = tokens(col)
    uni = F.transform(toks, lambda t: F.concat(F.lit("u|"), t))
    big = F.transform(
        positional_shingles_of_tokens(toks, 2),
        lambda s: F.concat(F.lit("b|"), s),
    )
    return F.concat(uni, big)


def _bucket(feat_col, n_buckets: int, seed: str):
    return stable_hash64(feat_col, seed=seed) % F.lit(n_buckets)


def hashed_ngram_profile(
    df: DataFrame,
    n_buckets: int,
    text_col: str = "text",
    seed: str = "dsir",
    collapse="auto",
) -> DataFrame:
    """Bag-of-hashed-n-grams distribution of a corpus: (bucket, cnt),
    at most ``n_buckets`` rows at ANY corpus size. One explode + one
    map-side-combinable groupBy over text units (util.text_units), each
    feature counted with its unit's weight: a duplicate-heavy corpus is
    featurized once per distinct text, with integer-identical counts."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    mode = collapse_mode(df, text_col, collapse)
    units, _ = text_units(df, text_col, None, mode)
    feats = units.select(
        "_w", F.explode_outer(dsir_features(F.col("_t"))).alias("feat")
    ).where(F.col("feat").isNotNull())
    return feats.groupBy(
        _bucket(F.col("feat"), n_buckets, seed).alias("bucket")
    ).agg(F.sum("_w").alias("cnt"))


def importance_weights(
    df: DataFrame,
    target_profile: DataFrame,
    raw_profile: DataFrame,
    n_buckets: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "dsir",
    collapse="auto",
) -> DataFrame:
    """Per-doc DSIR log importance weight over the scored corpus:
    (id, n_feats, log_w). Both profiles must have been fit with the SAME
    ``n_buckets``/``seed`` (they come from hashed_ngram_profile).

    Docs with zero features (empty/whitespace text) get n_feats=0 and
    log_w=0.0 — they never vanish from the output. Buckets the scored
    corpus hits that NEITHER profile observed contribute exactly the
    smoothing constant (lr=0 plus the n_feats term), which the left-join
    coalesce implements.

    ONE featurize pass per text unit (util.text_units): n_feats is
    counted in the same exploded aggregation that sums the log-ratios,
    and a duplicate-heavy corpus is featurized once per distinct text."""
    # ≤ B rows by construction: forced broadcast is safe and intended.
    ratio = F.broadcast(
        target_profile.withColumnRenamed("cnt", "ct")
        .join(
            raw_profile.withColumnRenamed("cnt", "cr"),
            "bucket",
            "full_outer",
        )
        .select(
            "bucket",
            (
                F.log(F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                - F.log(F.coalesce(F.col("cr"), F.lit(0)) + F.lit(1.0))
            ).alias("lr"),
        )
    )
    # 1-row smoothing constant: ln(T_raw + B) - ln(T_target + B).
    const = F.broadcast(
        target_profile.agg(F.sum("cnt").alias("tt"))
        .crossJoin(raw_profile.agg(F.sum("cnt").alias("tr")))
        .select(
            (
                F.log(F.coalesce(F.col("tr"), F.lit(0)) + F.lit(float(n_buckets)))
                - F.log(F.coalesce(F.col("tt"), F.lit(0)) + F.lit(float(n_buckets)))
            ).alias("smooth_const")
        )
    )
    mode = collapse_mode(df, text_col, collapse)
    units, attach = text_units(df, text_col, id_col, mode)
    # explode_outer keeps featureless units as one NULL-feature row (its
    # NULL bucket matches no ratio), so every unit reaches the groupBy
    per_unit = (
        units.select(
            "_k",
            F.col("_t").isNotNull().alias("_has"),
            F.explode_outer(dsir_features(F.col("_t"))).alias("feat"),
        )
        .select("_k", "_has", _bucket(F.col("feat"), n_buckets, seed).alias("bucket"))
        .join(ratio, "bucket", "left")
        .groupBy("_k", "_has")
        .agg(
            F.count(F.col("bucket")).alias("_nf"),
            F.sum(F.coalesce(F.col("lr"), F.lit(0.0))).alias("_s"),
        )
    )
    # n_feats: 0 for featureless docs, NULL for NULL text; log_w inherits
    # the NULL through the n_feats term
    n_feats = F.when(F.col("_has"), F.col("_nf")).cast("long")
    return attach(per_unit).crossJoin(const).select(
        id_col,
        n_feats.alias("n_feats"),
        (F.col("_s") + n_feats * F.col("smooth_const")).alias("log_w"),
    )


def gumbel_key(id_col, log_w_col, seed: str):
    """log_w + Gumbel(0) noise, Gumbel drawn deterministically from the
    seeded hash of the id: u = (h + 0.5)/2^60 in (0,1), g = -ln(-ln(u)).
    Top-k by this key IS sampling-without-replacement proportional to
    exp(log_w) — the Gumbel-top-k identity DSIR uses."""
    u = (stable_hash64(id_col.cast("string"), seed=seed) + F.lit(0.5)) / F.lit(
        float(_HASH_SPACE)
    )
    return log_w_col + (-F.log(-F.log(u)))


def importance_resample(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    log_w_col: str = "log_w",
    seed: str = "resample",
) -> DataFrame:
    """Gumbel top-k resample over an importance_weights frame: the k
    selected docs as (id, log_w, key), deterministic for a given seed.
    The limit-k global order compiles to TakeOrderedAndProject (bounded
    per-partition heaps) — never a single-task sort."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    keyed = weights.withColumn(
        "key", gumbel_key(F.col(id_col), F.col(log_w_col), seed)
    )
    return keyed.orderBy(F.col("key").desc(), F.col(id_col).asc()).limit(k)
