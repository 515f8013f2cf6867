"""Small shared utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition when the input has fewer partitions than cores.

    Small/compacted parquet inputs arrive as 1-2 partitions, which serializes
    expression-heavy map stages (hashing, shingling, dot products) onto one
    core. One cheap round-robin shuffle of the raw rows unlocks full
    parallelism; at production scale inputs already have >> cores partitions
    and this is a no-op."""
    if df.isStreaming:
        # no rdd on a streaming frame; micro-batch sizing is the stream's
        # own concern (round-3: validate paths call this and bind to streams)
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# --- duplicate-text collapse (round-7 optimization) -----------------------
#
# Web-scale corpora are heavily EXACT-duplicated (30-60%+ byte-identical
# docs is the norm for crawl snapshots; the near-dup tiers in operators/
# dedup.py exist precisely because of it). Every per-document signal that
# is a pure function of the text (minhash signatures, LM perplexity,
# classifier scores, DSIR weights, ...) can therefore be computed ONCE per
# DISTINCT text and re-attached to the ids — the guide-§8 "decide with
# small rows" move applied to duplicate payloads.
#
# The collapse is only a win when duplication is real, and it is only
# SAFE for the 100 TB doctrine when the representative-id set is small
# enough that AQE auto-broadcasts the semi-join back to the payload (a
# corpus-scale representative set would otherwise force a payload
# shuffle, which the direct path never does). ``collapse_mode`` probes
# both conditions with ONE eager compact aggregation; callers expose a
# ``collapse="auto"|True|False`` escape hatch so production jobs with
# known-unique corpora skip the probe scan entirely.

_COLLAPSE_MAX_RATIO = 0.5
# cap chosen so the representative-ID set is ALWAYS genuinely
# auto-broadcastable for the payload semi-join (2M bigints ≈ 16 MB raw,
# well under the 64 MB session threshold even after HashedRelation
# overhead) — the collapse path must never degrade to shuffling the
# corpus payload, which the direct path never does
_COLLAPSE_MAX_DISTINCT = 2_000_000
_COLLAPSE_BROADCAST_DISTINCT = 200_000


def duplication_probe(df: DataFrame, text_col: str) -> tuple[int, int]:
    """(n_rows, approx_distinct_texts) in one compact scan (HLL++, rsd 5%)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(F.col(text_col), 0.05).alias("d"),
    ).first()
    return int(row["n"]), int(row["d"])


def collapse_mode(df: DataFrame, text_col: str, collapse="auto") -> str:
    """Decide whether per-distinct-text computation pays for itself, and
    how results re-attach to ids: "off" | "shuffle" | "broadcast".

    A streaming frame is always "off", whatever is pinned: the probe
    cannot run on a stream, and the collapsed plan fails streaming
    analysis.
    Otherwise True/False pin the answer without scanning (True → the
    scale-safe shuffle-hash attach). "auto" runs ``duplication_probe`` and
    collapses only when BOTH hold:
      * distinct/total < 0.5 (at least 2x average replication, so the
        saved work clearly exceeds the probe + join-back overhead), and
      * distinct count < 2M (a representative-id set small enough that
        the semi-join back to the payload genuinely auto-broadcasts;
        beyond it the join back would shuffle the corpus payload, which
        the direct path never does).
    The attach join is "broadcast" only when the PROBE proved the
    per-text table tiny (< 200k distinct texts — bounded by measurement,
    the DSIR ≤B-row precedent); otherwise
    "shuffle" (shuffle-hash, which AQE still converts to broadcast from
    true runtime sizes when warranted). Without the hint the planner has
    no cardinality estimate for the post-semi-join rep subtree and has
    been observed to broadcast the CORPUS-SIZED id side instead (8.9s vs
    2.3s at 250k docs).
    """
    if collapse is False or df.isStreaming:
        return "off"
    if collapse is True:
        return "shuffle"
    if collapse in ("off", "shuffle", "broadcast"):
        return collapse
    n, d = duplication_probe(df, text_col)
    if not (n > 0 and d < _COLLAPSE_MAX_DISTINCT and d / n < _COLLAPSE_MAX_RATIO):
        return "off"
    return "broadcast" if d < _COLLAPSE_BROADCAST_DISTINCT else "shuffle"


def attach_per_text(
    ids: DataFrame, per_text: DataFrame, mode: str, how: str = "inner"
) -> DataFrame:
    """Fan per-distinct-text results back out to every doc: join the
    compact (id, _rfp) frame against the per-text frame on _rfp, with the
    build side pinned to the per-text table (see collapse_mode)."""
    if mode == "broadcast":
        per_text = F.broadcast(per_text)
    else:
        per_text = per_text.hint("shuffle_hash")
    return ids.join(per_text, "_rfp", how)


def collapse_representatives(
    df: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(ids, rep_rows) plumbing for per-distinct-text computation:

    * ids      — (id, _rfp): every doc with its RAW-text md5 fingerprint
                 (raw, not normalized: signatures/scores are functions of
                 the exact bytes). Compact — never carries the payload.
    * rep_rows — the representative payload rows (min id per fingerprint),
                 one per distinct text, via a semi-join whose build side the
                 size probe has already bounded under the auto-broadcast
                 threshold (collapse_mode's MAX_DISTINCT cap).

    Compute the per-text signal over ``rep_rows``, key it by
    ``F.md5(text)``, and inner-join ``ids`` on ``_rfp`` to fan results
    back out to every doc. md5-equality is the same identity contract the
    exact-dedup tier already keys on."""
    ids = df.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("_rfp")
    )
    rep_ids = ids.groupBy("_rfp").agg(F.min("id").alias(id_col)).select(id_col)
    rep_rows = df.join(rep_ids, id_col, "left_semi")
    return ids, rep_rows
