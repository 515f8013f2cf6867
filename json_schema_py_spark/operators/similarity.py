"""Similarity search over embedding columns (array<float>).

Two paths, per the scale doctrine:

* **brute-force cosine top-k** — the correctness baseline. Broadcast the
  (small) query set against the corpus: one pass, no corpus shuffle; rank
  with a per-query window. Exact, oracle-checkable.
* **LSH-bucketed ANN** — the 100 TB path. Deterministic random-hyperplane
  signatures (sign bits of dot(v, plane_p)); only same-bucket vectors meet.
  Planes are derived from md5 (functions/text.stable_hash64 arithmetic), so
  signatures are reproducible across runs/engines — probe multiple buckets
  to trade recall for cost.

Dot products run as F.zip_with + F.aggregate in double precision — JVM-side,
no Python. An Arrow/pandas-UDF variant is deliberately NOT the default: for
64-dim vectors the expression path stays inside codegen and wins.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from json_schema_py_spark.util import ensure_parallelism


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector makes the denominator 0, which under
    # ANSI mode (Spark 4 default) is a DIVIDE_BY_ZERO task failure, not a
    # NaN — undefined cosine surfaces as NULL instead
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """(query_id, neighbor_id, score, rank) — exact cosine top-k.

    Queries are broadcast (they're the small side by construction); ranking
    ties break on neighbor id so output is fully deterministic."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = ensure_parallelism(corpus).select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    return _rank_topk(c, q, k, round_to)


def _rank_topk(c: DataFrame, q: DataFrame, k: int, round_to: int) -> DataFrame:
    """Shared cosine-rank tail for the exact and quantized top-k paths
    (one definition so tie-break/rounding/k semantics can never
    diverge): ``c`` is (neighbor_id, cv), ``q`` is (query_id, qv); the
    query side broadcasts."""
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("_score"),
        )
    )
    return _rank_scored(scored, k, round_to)


def _rank_scored(scored: DataFrame, k: int, round_to: int) -> DataFrame:
    """Shared rank tail over (query_id, neighbor_id, _score) for ALL top-k
    paths (exact, quantized, LSH, IVF). Zero-norm vectors (admitted by
    quantize_embeddings as scale=0 → all-zero qvec) have undefined cosine:
    NULL via try_divide, or NaN if a caller feeds pre-divided scores. NaN
    sorts ABOVE every real double descending (rank 1 for every query),
    NULL would still occupy tail ranks — drop both."""
    scored = scored.where(F.col("_score").isNotNull() & ~F.isnan(F.col("_score")))
    w = Window.partitionBy("query_id").orderBy(F.desc("_score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("_score"), round_to).alias("score"),
            "rank",
        )
    )


def _plane_component(p: int, d: int) -> float:
    """Deterministic ±1 hyperplane entries from a splitmix-style integer mix —
    reproducible everywhere, no RNG state."""
    x = (p * 1_000_003 + d * 7_919 + 12_345) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 33
    x = (x * 0xFF51AFD7ED558CCD) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 33
    return 1.0 if x & 1 else -1.0


def lsh_signature(vec: Column, dim: int, n_planes: int = 16) -> Column:
    """Random-hyperplane signature: bit p = sign(dot(vec, plane_p)) ≥ 0."""
    sig = F.lit(0).cast("bigint")
    for p in range(n_planes):
        plane = F.array(*[F.lit(_plane_component(p, d)) for d in range(dim)])
        s = dot(vec, plane)
        sig = sig + (s >= 0).cast("bigint") * F.lit(1 << p)
    return sig


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    probe_radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Approximate top-k: exact cosine, but only within the query's LSH
    bucket(s). At scale the corpus is bucketed once (bucketBy on the lake);
    the QUERY side multi-probes — with ``probe_radius=1`` each query also
    visits every bucket at Hamming distance 1 (flip one sign bit), which is
    the classic recall lever: candidate volume grows ×(1+n_planes) while the
    corpus stays untouched. Recall is measured against brute_force_topk in
    tests/test_dedup_similarity.py."""
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        lsh_signature(F.col(vec_col), dim, n_planes).alias("bucket"),
    )
    sig = lsh_signature(F.col(vec_col), dim, n_planes)
    probes = [sig]
    if probe_radius >= 1:
        probes += [sig.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    if probe_radius >= 2:
        probes += [
            sig.bitwiseXOR(F.lit((1 << p) | (1 << r)))
            for p in range(n_planes)
            for r in range(p + 1, n_planes)
        ]
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(F.array(*probes)).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("_score"))
    )
    return _rank_scored(scored, k, round_to)


def _centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str,
    vec_col: str,
    train_iters: int = 0,
    sample_mod: int | None = None,
) -> list[list[float]]:
    """Deterministic centroids, optionally k-means-trained.

    ``train_iters=0``: the first n_cells vectors by id (reproducible,
    arbitrary — cells end up unbalanced). ``train_iters>0``: Lloyd
    refinement — each iteration is ONE distributed job (cosine-assign each
    sampled vector to its cell, per-dimension mean via posexplode groupBy);
    only n_cells×dim aggregate rows ever reach the driver. ``sample_mod=k``
    trains on the deterministic 1/k hash-sample instead of the full corpus —
    the production shape at 10^12 rows (train on a sample, assign the full
    corpus once). Fully deterministic: no RNG anywhere."""
    rows = corpus.orderBy(id_col).limit(n_cells).select(vec_col).collect()
    cents = [[float(x) for x in r[0]] for r in rows]
    if train_iters <= 0 or not cents:
        return cents
    sample = corpus
    if sample_mod and sample_mod > 1:
        sample = corpus.where(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(sample_mod)) == 0
        )
    sample = sample.select(F.col(vec_col).alias("v")).cache()
    try:
        dim = len(cents[0])
        for _ in range(train_iters):
            cell = F.array_max(_cell_scores(F.col("v"), cents))["cell"]
            # two-step select: mixing a generator (posexplode) with struct-
            # field access in ONE select trips Spark 4's field resolution
            # (FIELD_NOT_FOUND against the generator's col1/col2)
            means = (
                sample.select(cell.alias("cell"), "v")
                .select("cell", F.posexplode("v").alias("i", "x"))
                .groupBy("cell", "i")
                .agg(F.avg("x").alias("m"))
                .collect()
            )
            got = {(r["cell"], r["i"]): float(r["m"]) for r in means}
            # empty cells keep their previous centroid (deterministic)
            cents = [
                [got.get((c, i), cents[c][i]) for i in range(dim)]
                for c in range(len(cents))
            ]
    finally:
        sample.unpersist()
    return cents


def _cell_scores(vec: Column, cents: list[list[float]]) -> Column:
    """array<struct<score,cell>> of cosine-to-centroid, for argmax/top-p."""
    entries = []
    for i, c in enumerate(cents):
        plane = F.array(*[F.lit(x) for x in c])
        entries.append(
            F.struct(cosine(vec, plane).alias("score"), F.lit(i).alias("cell"))
        )
    return F.array(*entries)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    train_iters: int = 0,
    sample_mod: int | None = None,
) -> DataFrame:
    """IVF-style ANN: corpus vectors are inverted-file-bucketed by nearest
    centroid; each query probes its ``n_probe`` closest cells. The corpus
    side is assigned ONCE (at scale: a bucketBy/partitionBy column on the
    lake); only probed cells are scanned per query. Recall knobs: n_probe
    (== n_cells degenerates to brute force) and ``train_iters`` — a few
    deterministic Lloyd iterations balance the cells and lift recall at
    equal probe cost (asserted in tests/test_dedup_similarity.py)."""
    cents = _centroids(corpus, n_cells, id_col, vec_col, train_iters, sample_mod)

    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.array_max(_cell_scores(F.col(vec_col), cents))["cell"].alias("cell"),
    )
    probed = F.slice(
        F.reverse(F.array_sort(_cell_scores(F.col(vec_col), cents))), 1, n_probe
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(F.transform(probed, lambda s: s["cell"])).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("_score"))
    )
    return _rank_scored(scored, k, round_to)


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ t),
    LSH-bucketed: near-identical vectors collide in all planes, so bucket
    equality keeps recall ~1 at very high thresholds while cutting the pair
    space by ~2^n_planes."""
    v = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        lsh_signature(F.col(vec_col), dim, n_planes).alias("bucket"),
    )
    a = v.select("bucket", F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = v.select("bucket", F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), round_to).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


# --- int8 scalar quantization ---------------------------------------------


def _quantized_cols(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, scale, qvec) without any repartition — shared by
    quantize_embeddings (which parallelizes the corpus) and
    quantized_topk's QUERY side (about to be broadcast; a repartition
    there is a wasted shuffle)."""
    v = F.col(vec_col)
    scale_expr = F.array_max(F.transform(v, lambda x: F.abs(x))).cast("double")
    # bind scale as a lambda VARIABLE: referenced inside the per-element
    # transform it would otherwise re-run the O(dim) array_max PER ELEMENT
    # (the no-CSE-in-HOF-lambdas pitfall: the same trap makes an unbound
    # MinHash fold 40x slower)
    sq = F.get(
        F.transform(
            F.array(scale_expr),
            lambda s: F.struct(
                s.alias("scale"),
                F.when(
                    s > 0,
                    F.transform(
                        v, lambda x: F.floor(x / s * 127.0 + 0.5).cast("byte")
                    ),
                )
                .otherwise(F.transform(v, lambda x: F.lit(0).cast("byte")))
                .alias("qvec"),
            ),
        ),
        0,
    )
    return df.select(
        F.col(id_col).alias("vec_id"),
        sq["scale"].alias("scale"),
        sq["qvec"].alias("qvec"),
    )


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, scale, qvec: array<tinyint>) — per-vector symmetric int8
    quantization: scale = max(|v|), q_i = floor(v_i/scale*127 + 0.5)
    (explicit half-up — F.round's HALF_UP and DuckDB's round() disagree on
    negative halves, floor(+0.5) is identical everywhere). qvec is BYTE
    elements (an int cast would store 4-byte INT32 on the lake and void
    the 4x-smaller-than-float32 claim). At 100 TB the quantized
    table is what you scan for candidate generation, refining survivors
    against the full-precision column. Zero vectors quantize to all-zero
    with scale 0."""
    return _quantized_cols(ensure_parallelism(df), id_col, vec_col)


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """(query_id, neighbor_id, score, rank) — cosine top-k over int8
    vectors with INTEGER inner products (both sides quantized: the
    storage-honest comparison). The per-vector scale cancels out of
    cosine — cos(qa·sa/127, qb·sb/127) = Σ qa_i·qb_i / (‖qa‖·‖qb‖) — so
    the hot pair loop is a pure int8×int8 long accumulate (the point of
    int8 at scale: no per-element dequantize multiply; measured 1.9x the
    dequantize formulation at sf0.1). Each
    side's integer norm is computed ONCE per vector, not per pair.
    Same shape/determinism contract as brute_force_topk (shared ranking
    tail); scores differ from exact by the quantization error
    (|Δcos| ≲ 1e-2 at dim 64, measured) — recall@k stays high because
    errors are unbiased across candidates."""
    cq = _quantized_cols(ensure_parallelism(corpus), id_col, vec_col).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qvec").alias("cq"),
        _int_norm().alias("cn"),
    )
    qq = _quantized_cols(queries, id_col, vec_col).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("qq"),
        _int_norm().alias("qn"),
    )
    scored = (
        cq.crossJoin(F.broadcast(qq))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            # try_divide: zero-norm (all-zero qvec) → NULL, dropped by
            # _rank_scored — same contract as the exact path
            F.try_divide(
                _int_dot(F.col("cq"), F.col("qq")).cast("double"),
                F.col("cn") * F.col("qn"),
            ).alias("_score"),
        )
    )
    return _rank_scored(scored, k, round_to)


def _int_dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i over int8 arrays, accumulated in long (int8² ≤ 16129 —
    overflow needs dim > 5·10¹⁴)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _int_norm() -> Column:
    """sqrt(Σ qvec_i²) as double — one value per vector, reused across
    every pair the vector participates in."""
    return F.sqrt(
        F.aggregate(
            F.transform(F.col("qvec"), lambda x: x.cast("long") * x.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double")
    )
