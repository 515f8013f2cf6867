"""Sequence packing for pretraining: concat-all-docs, chunk into fixed
token windows (the GPT-style packing policy), as a deterministic table op.

Every doc gets its token-stream position in the GLOBAL concatenation
(ordered by id) and therefore its window assignment:

    (doc_id, n_tokens, start_tok, first_pack, last_pack)

``start_tok`` = tokens before this doc; window w covers tokens
[w·max_tokens, (w+1)·max_tokens); a doc straddling a boundary reports the
full first_pack..last_pack range (the downstream shard writer duplicates
the straddling doc's tail into the next window, exactly as a token-level
packer would).

Scale shape — the naive plan is a GLOBAL window (single ordered partition:
dead at 10^12 rows). This implements the classic distributed prefix sum:

1. deterministic range-bucket on id (``width_bucket`` over the id span —
   O(1) per row, stable across re-evaluations, unlike spark_partition_id
   which depends on physical planning);
2. per-bucket token totals → collect (ONE row per bucket, bounded) →
   exclusive prefix offsets on the driver;
3. per-bucket cumulative window (partitionBy bucket — one shuffle) +
   broadcast offset join.

Cost: one shuffle by bucket + one tiny collect. Uniform-width buckets
assume a roughly uniform id space (the dense doc-index case); for skewed
id spaces substitute quantile boundaries from table stats — the prefix-sum
machinery is unchanged. The same two-pass pattern serves any global
running aggregate over an ordered corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_py_spark.functions.text import token_count


def _prefix_offsets(bucketed: DataFrame, value_col: str) -> DataFrame:
    """Per-bucket totals → driver-side EXCLUSIVE prefix offsets as a tiny
    (_b, _off) frame — the shared second pass of every distributed prefix
    sum here (one copy, so a fix such as the NULL-sum guard lands once).
    Bounded driver traffic: one row per
    bucket."""
    totals = {
        r["_b"]: r["_sum"]
        for r in bucketed.groupBy("_b").agg(F.sum(value_col).alias("_sum")).collect()
    }
    offsets, acc = [], 0
    for b in sorted(totals):
        offsets.append((int(b), acc))
        # an all-NULL bucket (null-text docs) sums to NULL — counts as 0
        acc += totals[b] or 0
    return bucketed.sparkSession.createDataFrame(offsets, "_b long, _off long")


def _quantile_bucket_col(base: DataFrame, sur, n_buckets: int):
    """Order-consistent bucket id from approx-quantile boundaries of the
    (surrogate) id: bucket = 1 + #(boundaries ≤ sur). One aggregate over
    the corpus (percentile_approx, bounded sketch), one driver row, then
    a static comparison chain per row — same cost class as width_bucket.
    Duplicate boundaries (heavy ties) leave some buckets empty, which the
    prefix-sum machinery handles as zero-total buckets."""
    if n_buckets <= 1:
        # percentile_approx([]) fails analysis; one bucket
        # needs no boundaries
        return F.lit(1).cast("long")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = base.select(
        F.percentile_approx(sur, qs, 10_000).alias("bs")
    ).collect()[0]["bs"]
    b = F.lit(1)
    for bd in bounds:
        b = b + (sur >= F.lit(bd)).cast("int")
    return b.cast("long")


def assign_token_spans(
    docs: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int | None = None,
    bucket_mode: str = "range",
) -> DataFrame:
    """(doc_id, n_tokens, start_tok, first_pack, last_pack) — see module doc.

    Deterministic: the global order is ``id_col`` ascending (numeric or
    lexicographic); ids must be unique (validate upstream via
    operators/uniqueness).

    STRING ids range-bucket on an ORDER-PRESERVING
    numeric surrogate: the first 7 UTF-8 bytes AFTER the common prefix of
    min(id)/max(id), zero-padded, read big-endian. Monotone w.r.t. Spark's
    binary string order (shared-prefix bytes compare equal; the first
    differing byte decides both orders the same way), so bucket boundaries
    respect the lexicographic total order and the within-bucket window
    simply orders by the full string. Stripping the corpus-wide common
    prefix ('doc-000…') keeps the surrogate's numeric span meaningful —
    without it every id would collapse into one bucket (the global-sort
    death this operator exists to avoid).

    ``bucket_mode``: "range" (default)
    splits the id span into uniform-width buckets — O(1) per row, right
    for roughly uniform id spaces (the dense doc-index case). "quantile"
    draws bucket boundaries from percentile_approx over the (surrogate)
    id, so a PATHOLOGICAL id distribution (90% of ids packed into 1% of
    the span) still yields balanced buckets instead of one hot reducer.
    The OUTPUT is bucketing-invariant — any order-consistent bucketing
    produces the identical global prefix sum — so the approx sketch's
    run-to-run boundary wobble never reaches the results (pinned in
    tests/test_packing)."""
    if bucket_mode not in ("range", "quantile"):
        raise ValueError(f"bucket_mode must be 'range' or 'quantile', got {bucket_mode!r}")
    dt = docs.schema[id_col].dataType
    string_ids = isinstance(dt, T.StringType)
    if not string_ids and not isinstance(
        dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType)
    ):
        raise ValueError(
            f"assign_token_spans needs a numeric or string {id_col!r} for "
            "deterministic range bucketing"
        )
    # the tokenized projection feeds two driver-side collects plus the
    # returned plan — persist through the collects so the corpus tokenizes
    # once there, then UNPERSIST before returning (a leaked cache entry per
    # call pins executor memory forever; the returned plan recomputes the
    # narrow projection once at its own action). At full lake scale,
    # materialize this projection to the lake instead and pass it in
    # pre-counted.
    base = docs.select(
        F.col(id_col).alias("doc_id"), token_count(F.col(text_col)).alias("n_tokens")
    ).persist()
    n_buckets = num_buckets or max(
        base.sparkSession.sparkContext.defaultParallelism, 2
    )
    mm = base.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).collect()[0]
    lo, hi = mm["lo"], mm["hi"]
    if lo is None:
        base.unpersist(blocking=False)
        return base.select(
            "doc_id", "n_tokens",
            F.lit(None).cast("long").alias("start_tok"),
            F.lit(None).cast("long").alias("first_pack"),
            F.lit(None).cast("long").alias("last_pack"),
        )
    if string_ids:
        lo_b, hi_b = str(lo).encode("utf-8"), str(hi).encode("utf-8")
        cp = 0
        while cp < min(len(lo_b), len(hi_b)) and lo_b[cp] == hi_b[cp]:
            cp += 1

        def _sur_py(s: str) -> int:
            # driver twin of the Column surrogate below — must match bit-
            # for-bit ('' → zero-padded → 0, like the coalesce)
            seg = s.encode("utf-8")[cp:cp + 7]
            return int(seg.hex().ljust(14, "0") or "0", 16)

        sur_col = F.coalesce(
            F.conv(
                F.rpad(
                    F.hex(F.substring(F.encode(F.col("doc_id"), "UTF-8"), cp + 1, 7)),
                    14,
                    "0",
                ),
                16,
                10,
            ).cast("long"),
            F.lit(0),
        )
        lo_n, hi_n = _sur_py(str(lo)), _sur_py(str(hi))
        sur, s_lo, s_hi = sur_col, lo_n, hi_n
    else:
        sur, s_lo, s_hi = F.col("doc_id"), lo, hi
    if bucket_mode == "quantile":
        bucketed = base.withColumn("_b", _quantile_bucket_col(base, sur, n_buckets))
    else:
        bucketed = base.withColumn(
            "_b", F.width_bucket(sur, F.lit(s_lo), F.lit(s_hi) + 1, F.lit(n_buckets))
        )
    # pass 1: per-bucket totals → driver offsets (shared helper)
    off_df = _prefix_offsets(bucketed, "n_tokens")
    base.unpersist(blocking=False)
    # pass 2: bucket-local running sum (ONE shuffle by bucket)
    w = Window.partitionBy("_b").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        bucketed.join(F.broadcast(off_df), "_b")
        .withColumn("_cum", F.sum("n_tokens").over(w) + F.col("_off"))
    )
    start = F.col("_cum") - F.col("n_tokens")
    return cum.select(
        "doc_id",
        "n_tokens",
        start.alias("start_tok"),
        F.floor(start / max_tokens).cast("long").alias("first_pack"),
        F.floor((F.col("_cum") - 1) / max_tokens).cast("long").alias("last_pack"),
    )


def pack_summary(spans: DataFrame, max_tokens: int) -> DataFrame:
    """(pack_id, n_docs, n_tokens) per window — the shard writer's manifest.
    A straddling doc counts in every window it touches; token counts are the
    tokens LANDING in the window (exact, not doc-attributed). Zero-token
    docs never touch a window (first_pack..last_pack is empty for them only
    when n_tokens = 0 at a window boundary — handled by the explode)."""
    touched = spans.where(F.col("n_tokens") > 0).select(
        "doc_id",
        "n_tokens",
        "start_tok",
        F.explode(F.sequence("first_pack", "last_pack")).alias("pack_id"),
    )
    w_start = F.col("pack_id") * max_tokens
    w_end = w_start + max_tokens
    in_window = F.least(F.col("start_tok") + F.col("n_tokens"), w_end) - F.greatest(
        F.col("start_tok"), w_start
    )
    return (
        touched.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(in_window).alias("n_tokens"),
        )
    )


def select_to_token_budget(
    docs: DataFrame,
    budget_tokens: int,
    quality_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, cum_tokens, keep) — greedy best-quality-first
    selection up to a GLOBAL token budget: the data-mixing primitive
    ("fill the training run with the best N tokens"). keep = the doc's
    running total (quality DESC, id ASC — fully deterministic) fits within
    ``budget_tokens``; the result is a strict prefix of the quality
    ordering, not a knapsack fit. Docs with a NULL, NaN, or
    non-double-castable quality score get keep=False and NULL cum_tokens —
    unknown quality is never silently selected.

    Scale shape — two-pass distributed prefix sum (never a single-
    partition global sort), with TWO bucketing regimes because quality
    scores are usually LOW-CARDINALITY (classifier buckets, {0..5}): a
    plain range-bucket on quality would put billions of tied rows into one
    bucket — exactly the degenerate window this operator exists to avoid.

    * nq ≤ 2048 distinct scores: bucket on the COMPOSITE surrogate
      qrank + id_fraction — strictly increasing in the (quality DESC, id)
      order across rank boundaries and monotone within (id_fraction is an
      order-preserving [0,1) mapping of the id: numeric ids normalize over
      their span; string ids use the prefix-stripped 7-byte surrogate).
      Tied rows SPREAD across ~8 buckets per distinct score, so a
      constant-score corpus parallelizes fully.
    * nq > 2048 (continuous scores): range-bucket on -quality directly —
      ties are small by construction in this regime.
    """
    # NULL, NaN, and non-castable quality are all "unknown quality": NaN
    # would break the prefix sum (Python sorted() and F.desc disagree on NaN
    # placement, so bucket offsets and window order diverge) and a value that
    # try_casts to NULL would be dropped by the rank join, losing the
    # one-row-per-input-doc shape
    qcast = F.col(quality_col).try_cast("double")
    bad_q = qcast.isNull() | F.isnan(qcast)
    null_rows = docs.where(bad_q).select(
        F.col(id_col).alias("doc_id"),
        token_count(F.col(text_col)).alias("n_tokens"),
        F.lit(None).cast("long").alias("cum_tokens"),
        F.lit(False).alias("keep"),
    )
    base = (
        docs.where(~bad_q)
        .select(
            F.col(id_col).alias("doc_id"),
            qcast.alias("_q"),
            token_count(F.col(text_col)).alias("n_tokens"),
        )
        .persist()
    )
    n_buckets = num_buckets or max(
        base.sparkSession.sparkContext.defaultParallelism, 2
    )
    agg = base.agg(
        F.min("_q").alias("qlo"),
        F.max("_q").alias("qhi"),
        F.approx_count_distinct("_q", 0.01).alias("nq_est"),
    ).collect()[0]
    if agg["qlo"] is None:
        base.unpersist(blocking=False)
        return null_rows
    if agg["nq_est"] <= 2048 * 0.9:  # approx estimate: stay clearly in-regime
        qs = sorted(
            (r["_q"] for r in base.select("_q").distinct().collect()), reverse=True
        )
        rank_df = base.sparkSession.createDataFrame(
            [(q, i) for i, q in enumerate(qs)], "_q double, _qr long"
        )
        idfrac = _id_fraction(base, "doc_id")
        composite = F.col("_qr").cast("double") + idfrac
        n_eff = max(n_buckets, min(len(qs), 2048) * 8)
        bucketed = (
            base.join(F.broadcast(rank_df), "_q")
            .withColumn(
                "_b",
                F.least(
                    F.width_bucket(
                        composite, F.lit(0.0), F.lit(float(len(qs))), F.lit(n_eff)
                    ),
                    F.lit(n_eff),
                ),
            )
        )
    else:
        lo, hi = -float(agg["qhi"]), -float(agg["qlo"])
        bucketed = base.withColumn(
            "_b",
            F.least(
                F.width_bucket(
                    -F.col("_q"), F.lit(lo), F.lit(hi + 1.0), F.lit(n_buckets)
                ),
                F.lit(n_buckets),
            ),
        )
    off_df = _prefix_offsets(bucketed, "n_tokens")
    base.unpersist(blocking=False)
    w = Window.partitionBy("_b").orderBy(F.desc("_q"), F.asc("doc_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        bucketed.join(F.broadcast(off_df), "_b")
        .withColumn("_cum", F.sum("n_tokens").over(w) + F.col("_off"))
    )
    scored = cum.select(
        "doc_id",
        "n_tokens",
        F.col("_cum").alias("cum_tokens"),
        (F.col("_cum") <= budget_tokens).alias("keep"),
    )
    return scored.unionByName(null_rows)


def _id_fraction(base: DataFrame, id_col: str) -> Column:
    """Order-preserving [0,1) mapping of the id column (numeric: normalized
    over the observed span; string: prefix-stripped 7-byte surrogate /
    2^56; other types: constant 0 — ties then stay in one bucket, the
    pre-fix behavior). Used to SPREAD quality-tied rows across buckets
    while keeping bucket order consistent with (quality, id) order."""
    dt = base.schema[id_col].dataType
    if isinstance(dt, T.StringType):
        mm = base.agg(F.min(id_col).alias("lo"), F.max(id_col).alias("hi")).collect()[0]
        lo_b = str(mm["lo"]).encode("utf-8")
        hi_b = str(mm["hi"]).encode("utf-8")
        cp = 0
        while cp < min(len(lo_b), len(hi_b)) and lo_b[cp] == hi_b[cp]:
            cp += 1
        sur = F.coalesce(
            F.conv(
                F.rpad(
                    F.hex(F.substring(F.encode(F.col(id_col), "UTF-8"), cp + 1, 7)),
                    14,
                    "0",
                ),
                16,
                10,
            ).cast("long"),
            F.lit(0),
        )
        return sur.cast("double") / float(1 << 56)
    if isinstance(
        dt,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType),
    ):
        mm = base.agg(F.min(id_col).alias("lo"), F.max(id_col).alias("hi")).collect()[0]
        lo, hi = float(mm["lo"]), float(mm["hi"])
        span = (hi - lo) + 1.0
        return (F.col(id_col).cast("double") - F.lit(lo)) / F.lit(span)
    return F.lit(0.0)


def select_mixture(
    docs: DataFrame,
    total_budget: int,
    weights: "dict[str, float]",
    quality_col: str,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int | None = None,
) -> DataFrame:
    """(doc_id, source, n_tokens, cum_tokens, keep) — data MIXING: fill a
    global token budget with per-source proportions (the "40% web, 30%
    code, 30% books" primitive). Per source s: budget_s =
    floor(weight_s / Σweights × total_budget), then the best-quality-first
    prefix selection of select_to_token_budget runs WITHIN the source
    (same determinism contract: quality DESC, id ASC; same NULL/NaN/
    non-castable quality handling). cum_tokens is the within-source
    running total. Docs from sources NOT in ``weights`` return keep=False
    with NULL cum — an unlisted source is never silently sampled.

    Scale shape: one select_to_token_budget invocation per source (a
    driver loop over the mixture spec — mixtures are dozens of sources,
    not thousands), each internally distributed (two-pass bucketed prefix
    sum, tie spreading, no global window). The per-source jobs share one
    persisted tokenized projection at lake scale by pre-counting tokens
    upstream; here each call projects independently."""
    if total_budget < 0:
        raise ValueError(f"total_budget must be >= 0, got {total_budget}")
    if not weights:
        raise ValueError("weights must name at least one source")
    bad = {s: w for s, w in weights.items() if not w > 0}
    if bad:
        raise ValueError(f"weights must be positive, got {bad}")
    wsum = float(sum(weights.values()))

    listed = docs.where(F.col(source_col).isin(list(weights)))
    unlisted = docs.where(
        ~F.col(source_col).isin(list(weights)) | F.col(source_col).isNull()
    ).select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        token_count(F.col(text_col)).alias("n_tokens"),
        F.lit(None).cast("long").alias("cum_tokens"),
        F.lit(False).alias("keep"),
    )
    parts = [unlisted]
    for s, w in sorted(weights.items()):
        budget_s = int(total_budget * w / wsum)
        sel = select_to_token_budget(
            listed.where(F.col(source_col) == s),
            budget_s,
            quality_col,
            id_col=id_col,
            text_col=text_col,
            num_buckets=num_buckets,
        )
        parts.append(sel.select(
            "doc_id", F.lit(s).alias("source"), "n_tokens", "cum_tokens", "keep"
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
