"""Streaming distribution drift: per-event-time-window PSI against a
static baseline histogram (the live-ingest arm of the run-over-run drift
loop in plans/stats_history.py).

Shape: ONE streaming aggregation — groupBy(window) with nbins CONDITIONAL
count columns (bucket membership is a pure projection, nbins is a static
schema parameter), then PSI folds those columns as stateless expressions.
A chained (window,bucket)→window two-agg design was tried first and
rejected: multi-stateful append-mode pipelines need an extra
watermark-advancing micro-batch per stage to flush, which finite
AvailableNow replays don't reliably get. The baseline side is STATIC and
tiny (nbins rows) — its proportions fold into literals driver-side, so
the stream never joins anything: state is one row per open window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def streaming_psi(
    stream: DataFrame,
    col: str,
    lo: float,
    hi: float,
    nbins: int,
    baseline: DataFrame,
    window_duration: str = "10 minutes",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    eps: float = 1e-6,
    round_to: int = 6,
) -> DataFrame:
    """(window_start, window_end, n_rows, psi) per event-time window.

    ``baseline`` is a STATIC (bucket, cnt) histogram (operators/drift
    .histogram output) — collected driver-side (nbins rows) and folded
    into literal proportions, identical to operators/drift.psi's math
    (same eps clamp, same rounding) so batch and stream agree bucket for
    bucket. Late rows beyond ``watermark`` are dropped by the engine;
    windows emit once finalized (append mode).

    Pushdown caveat (probed): the NULL filter on ``col`` is pushed past
    the watermark node into the file scan, so rows with a NULL value
    never advance the watermark — watermark-driving heartbeat/sentinel
    rows must carry a NON-NULL value (they land in their own later
    window, which emits separately)."""
    from json_schema_py_spark.operators.drift import bucket_expr

    # aggregate before folding: a baseline accidentally built as a UNION of
    # histograms carries duplicate bucket rows, and a dict comprehension
    # would keep only the last row's count, silently deflating that
    # bucket's q
    qrows = {
        r["bucket"]: r["cnt"]
        for r in baseline.groupBy("bucket").agg(F.sum("cnt").alias("cnt")).collect()
    }
    if not set(qrows) <= set(range(nbins)):
        # a baseline built with DIFFERENT binning would silently deflate
        # every q (its extra buckets inflate qtot but never enter a term),
        # diverging from batch psi() with no signal
        raise ValueError(
            f"baseline has buckets {sorted(set(qrows) - set(range(nbins)))} "
            f"outside range({nbins}) — rebuild it with the same lo/hi/nbins"
        )
    qtot = sum(qrows.values()) or 1

    b = bucket_expr(col, lo, hi, nbins)
    per_w = (
        stream.withWatermark(ts_col, watermark)
        .where(F.col(col).isNotNull())
        .withColumn("_bkt", b)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"))
        .agg(
            *[
                F.sum((F.col("_bkt") == bi).cast("long")).alias(f"_c{bi}")
                for bi in range(nbins)
            ],
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    tot = F.col("n_rows").cast("double")
    terms: list[Column] = []
    for bi in range(nbins):
        q = max(qrows.get(bi, 0) / qtot, eps)
        p = F.greatest(F.col(f"_c{bi}").cast("double") / tot, F.lit(eps))
        terms.append((p - F.lit(q)) * F.log(p / F.lit(q)))
    psi_col = terms[0]
    for t in terms[1:]:
        psi_col = psi_col + t
    return per_w.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.col("n_rows"),
        F.round(psi_col, round_to).alias("psi"),
    )


def streaming_psi_from_log(
    stream: DataFrame,
    col: str,
    log,
    window_duration: str = "10 minutes",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    eps: float = 1e-6,
    round_to: int = 6,
    exclude_run: str | None = None,
) -> DataFrame:
    """streaming_psi with its baseline + bucket bounds pulled from a
    plans/stats_history.HistogramLog — the live-ingest arm of the
    run-over-run drift loop: batch runs append snapshots, the stream
    drifts against WHAT THE LAST RUN SAW, with the bounds guaranteed
    identical on both sides because both read ``log.bounds``. Raises when
    the log has no snapshot for ``col`` yet — a first run has no honest
    baseline (same contract as latest_baselines' empty dict).

    ``exclude_run`` passes through to latest_baselines — a RETRIED run_id
    whose earlier attempt already appended its snapshot must not baseline
    against itself (the batch loop's invariant holds for the stream too)."""
    if col not in log.bounds:
        raise ValueError(f"column {col!r} is not watched by this HistogramLog")
    lo, hi, nbins = log.bounds[col]
    baselines = log.latest_baselines(exclude_run=exclude_run)
    if col not in baselines:
        raise ValueError(
            f"HistogramLog at {log.path} has no snapshot for {col!r} yet — "
            "append a batch run before streaming against it"
        )
    return streaming_psi(
        stream, col, lo, hi, nbins, baselines[col],
        window_duration, ts_col, watermark, eps, round_to,
    )


def streaming_drift_violations(
    stream: DataFrame,
    col: str,
    log,
    threshold: float = 0.25,
    window_duration: str = "10 minutes",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    eps: float = 1e-6,
    round_to: int = 6,
    exclude_run: str | None = None,
) -> DataFrame:
    """Per-window DISTRIBUTION_DRIFT violation rows, mirroring
    run_validation's batch contract exactly — (doc_id NULL, rule_id,
    path=/<column>, observed=psi-as-string), same PSI math, same rounding,
    same threshold semantics (psi > threshold) — prefixed with the window
    bounds a stream needs for attribution. A window whose distribution
    matches the log's latest snapshot emits nothing, exactly as the batch
    loop's psi_drift_violation emits no row."""
    pw = streaming_psi_from_log(
        stream, col, log, window_duration, ts_col, watermark, eps, round_to,
        exclude_run,
    )
    return pw.where(F.col("psi") > threshold).select(
        "window_start",
        "window_end",
        F.lit(None).cast("string").alias("doc_id"),
        F.lit("DISTRIBUTION_DRIFT").alias("rule_id"),
        F.lit("/" + col).alias("path"),
        F.col("psi").cast("string").alias("observed"),
    )
