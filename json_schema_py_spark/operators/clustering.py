"""Embedding k-means + cluster-balanced diversity sampling.

The training-data use case (SemDeDup-adjacent): cluster the corpus's
embedding space, then keep the n most representative docs per cluster —
a diversity cap that prevents any one semantic region from dominating a
mixture, the embedding-space sibling of contamination.domain_cap.

Determinism doctrine (everything here is gate-checked against a DuckDB
oracle that recomputes the full Lloyd iteration):

* init: centroids = the vectors of the k smallest ids — no RNG;
* fixed iteration count (``iters``), never a convergence loop;
* distances and centroid components are ROUNDED (4 / 5 dp) before any
  comparison, so double summation-order noise (~1e-13) cannot flip an
  argmin across engines or runs;
* argmin tie-break = lowest cluster index (array_position of array_min);
  within-cluster rank tie-break = lowest id.

Scale shape (100 TB doctrine):

* centroids are a k×dim driver artifact — the SAME bounded-collect
  contract as similarity.ivf_topk's cell table (k ≤ a few thousand);
  assignment broadcasts them as literals inside ONE projection: no
  shuffle, no UDF, whole-stage codegen.
* each Lloyd iteration is ONE groupBy(cluster) with dim avg aggregates —
  k groups, map-side partials; nothing corpus-scale ever collects.
* the per-cluster cap ranks with row_number over (cluster) — Spark
  compiles the filtered window to WindowGroupLimit, so each map task
  keeps only its local top-n per cluster before the exchange (the
  domain_cap plan shape).

Reference parity note: the reference validator (json-schema-py) has no
embedding surface — training-data-pipeline extension per SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from json_schema_py_spark.util import ensure_parallelism

_DIST_DP = 4  # distance rounding (argmin + output)
_CENT_DP = 5  # centroid-component rounding between iterations


def _sqdist(vec: Column, cent: list[float]) -> Column:
    """zip_with + fold, NOT an unrolled literal-index sum: the unrolled
    k×dim tree is ~40% faster at steady state (whole-stage codegen) but
    Janino-compiles for seconds PER DISTINCT CENTROID SET, which turned
    the 2-iteration fit on 5k vectors from 4.4s into 23s (every Lloyd
    round has fresh literals → fresh compile). The interpreted fold costs
    nothing to plan and its left-to-right addition order is what the
    DuckDB oracle recomputes."""
    c = F.array(*[F.lit(float(x)) for x in cent])
    return F.aggregate(
        F.zip_with(vec, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dist_array(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of the k rounded squared distances. Callers must bind this
    as a COLUMN in its own select before deriving argmin/min from it:
    referencing the k×dim tree twice (array_min + array_position in one
    projection) re-evaluates it per reference, while a bound
    multi-referenced non-cheap alias keeps the CollapseProject boundary
    and evaluates once (9.3 s → 5.5 s at 800k×64d on a 32-core host)."""
    return F.array(*[F.round(_sqdist(vec, c), _DIST_DP) for c in centroids])


def _argmin_cols(darr: Column) -> tuple[Column, Column]:
    """(cluster, dist) from a BOUND distance-array column: argmin over
    rounded distances, first (lowest) cluster index on ties."""
    dmin = F.array_min(darr)
    return (F.array_position(darr, dmin) - 1).cast("int"), dmin


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic fixed-iteration Lloyd's: returns the k×dim centroid
    list (a bounded driver artifact, like ivf_topk's cell table). An
    empty cluster keeps its previous centroid."""
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    first = base.select(F.size("v").alias("d")).first()
    if first is None:
        raise ValueError("kmeans_fit: empty input")
    dim = int(first["d"])
    seeds = base.orderBy("id").limit(k).collect()
    if len(seeds) < k:
        raise ValueError(f"kmeans_fit: k={k} but only {len(seeds)} vectors")
    cents = [[float(x) for x in r["v"]] for r in seeds]
    for _ in range(iters):
        bound = base.select("v", _dist_array(F.col("v"), cents).alias("_d"))
        cl, _d = _argmin_cols(F.col("_d"))
        stats = (
            bound.select(cl.alias("cluster"), "v")
            .groupBy("cluster")
            .agg(
                *[
                    F.round(F.avg(F.get(F.col("v"), i).cast("double")), _CENT_DP).alias(
                        f"c{i}"
                    )
                    for i in range(dim)
                ]
            )
            .collect()
        )
        by_cluster = {int(r["cluster"]): [float(r[f"c{i}"]) for i in range(dim)] for r in stats}
        cents = [by_cluster.get(j, cents[j]) for j in range(k)]
    return cents


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, dist) — two collapsed-boundary projections, no
    shuffle; dist is the rounded squared L2 distance to the assigned
    centroid."""
    bound = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        _dist_array(F.col(vec_col), centroids).alias("_d"),
    )
    cl, d = _argmin_cols(F.col("_d"))
    return bound.select("id", cl.alias("cluster"), d.alias("dist"))


def semantic_diversity_sample(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    n_per_cluster: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Keep the n most representative (centroid-nearest) docs per k-means
    cluster: (id, cluster, dist, rank_in_cluster), rank ties to the
    lowest id. Pass ``centroids`` to reuse a fitted model (the persisted-
    artifact shape — fit once per snapshot, sample many times)."""
    if centroids is None:
        centroids = kmeans_fit(df, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    assigned = kmeans_assign(df, centroids, id_col=id_col, vec_col=vec_col)
    w = Window.partitionBy("cluster").orderBy(F.col("dist").asc(), F.col("id").asc())
    return assigned.withColumn("rank_in_cluster", F.row_number().over(w)).where(
        F.col("rank_in_cluster") <= n_per_cluster
    )
