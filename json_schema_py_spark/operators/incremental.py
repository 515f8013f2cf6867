"""Incremental (cross-snapshot) deduplication — the production shape for a
continuously-ingested corpus: dedup each NEW batch against the EXISTING
corpus via two persisted, reusable indexes instead of re-running pairwise
dedup over snapshot ∪ batch (which re-shuffles the whole lake per batch).

Two index tiers, both id-only (never text payloads):

* **exact index** — (fingerprint, rep_id): one row per distinct normalized
  text in the corpus, rep_id = the minimum doc id of the group. Bounded at
  the distinct-text count; the batch probes it with ONE equi-join.
* **band index** — (band, bkey, id): the banded MinHash LSH index, the
  same banding as operators/dedup.minhash_lsh_pairs (a pair colliding in
  ANY band is a candidate). docs × bands rows of (int, string-key, id) —
  this is exactly the table you persist/bucket on the lake BY (band, bkey)
  so every batch probe is a co-located join with zero index shuffle.

Batch verdict per new doc, precedence exact > near > new:

* ``exact_dup``  — fingerprint present in the exact index (matched_id =
  the group representative, jaccard NULL — raw bytes may differ).
* ``near_dup``   — a band collision whose exact word-shingle Jaccard
  against the corpus doc verifies ≥ threshold; matched_id = the BEST match
  (max rounded jaccard, then min corpus id — deterministic).
* ``new``        — everything else (including band collisions that failed
  verification: LSH candidates are candidates, never verdicts).

Scale shape (100 TB doctrine):
  - exact probe: shuffle equi-join on fingerprint (AQE; index side is
    pre-distinct). Never a forced broadcast — the exact index is
    corpus-scale.
  - band probe: batch side is batch × bands id-only rows; join on
    (band, bkey) hits the bucketed index partitions. Hot keys (boilerplate
    band values) are CAPPED on the index side: keys holding more than
    ``max_ids_per_bucket`` ids are excluded from candidate generation and
    surfaced by ``incremental_oversized_keys`` — nothing silently dropped
    without an audit row.
  - verification: only CANDIDATE corpus ids' texts are ever touched — a
    join of the (small) candidate set against the corpus by id, then one
    exact-Jaccard projection. The corpus never shuffles its payload.
  - within-batch duplicates are out of scope by design (run
    dedup.exact_duplicates / minhash_lsh_pairs on the batch itself);
    this operator answers "is it already in the lake".

Deterministic md5 MinHash end to end (default; operators/dedup._hasher:
one md5 per shingle, affine permutations mod 2^31 - 1) → the whole
pipeline has an exact DuckDB oracle (gate query q_exact_dedup
'incremental' arm recomputes fingerprints, signatures, band keys,
collisions, Jaccard, and best-match tie-breaks from scratch).
``hash_impl="xxhash64"`` swaps the signature family for the JVM-intrinsic
hash, with identical verdict SEMANTICS (verification is exact Jaccard).
The build parameters and the family's version are bound to the index as
column metadata, and probes or merges with mismatched parameters, or
against an index of an older version of the family, raise instead of
silently finding nothing.

Reference parity note: the reference validator (json-schema-py) has no
cross-snapshot surface — training-data-pipeline extension per SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from json_schema_py_spark.functions.text import text_fingerprint, word_shingles
from json_schema_py_spark.operators.dedup import _band_keys, _jaccard
from json_schema_py_spark.util import collapse_mode, ensure_parallelism, text_units

# Version of each MinHash family's signature definition, stamped into a
# band index's metadata. md5 version 2 hashes each shingle once and derives
# the permutations arithmetically (operators/dedup._hasher); version 1 ran
# one seeded md5 per permutation.
FAMILY_VERSION = {"md5": 2, "xxhash64": 1}


def corpus_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    hash_impl: str = "md5",
    collapse="auto",
) -> tuple[DataFrame, DataFrame]:
    """Build the two persisted dedup indexes of a corpus snapshot:
    (exact_index(fingerprint, rep_id), band_index(band, bkey, id)).
    Both are id-only; write band_index bucketed by (band, bkey).

    ``hash_impl``: 'md5' (default, the DuckDB-oracle-parity form) or
    'xxhash64' — identical verdict semantics (verification is exact
    Jaccard, hash-free); operators/dedup._hasher records their measured
    speeds (the md5 family is within about 30% of xxhash64). The build
    parameters and ``family_version`` (FAMILY_VERSION[hash_impl]) ride
    along as column metadata on ``bkey``, and incremental_dedup and
    merge_index REFUSE an index whose parameters or family version
    disagree — a mismatched probe would silently find nothing (as a
    mismatched CMS width/depth would in operators/contamination.py).

    ``collapse`` (util.collapse_mode): fingerprints and band keys are
    pure functions of the text, so both tiers are computed once per text
    unit (util.text_units) and fanned out to ids — on an exact-duplicate-
    heavy snapshot, once per distinct text. "auto" (default) probes
    duplication with one compact scan; True/False pin the choice without
    probing."""
    base = ensure_parallelism(corpus)
    mode = collapse_mode(base, text_col, collapse)
    units, attach = text_units(base, text_col, id_col, mode)
    # every unit has a fingerprint (NULL for NULL text): the exact tier
    # keeps the (NULL fingerprint, min id) group
    fps = units.select("_k", text_fingerprint(F.col("_t")).alias("fingerprint"))
    exact = attach(fps).groupBy("fingerprint").agg(F.min(id_col).alias("rep_id"))
    # band keys are exploded per unit, before the attach join (after it,
    # the signature fold would run once per doc). NULL-text units get no
    # keys.
    sh = word_shingles(F.col("_t"), shingle_k)
    keys = _band_keys(sh, num_hashes, bands, hash_impl=hash_impl)
    per_unit = units.select(
        "_k", F.posexplode_outer(keys).alias("band", "bkey")
    ).where(F.col("bkey").isNotNull())
    exploded = attach(per_unit).select(F.col(id_col).alias("id"), "band", "bkey")
    banded = (
        exploded
        .withMetadata(
            "bkey",
            {
                "hash_impl": hash_impl,
                "num_hashes": num_hashes,
                "bands": bands,
                "shingle_k": shingle_k,
                "family_version": FAMILY_VERSION[hash_impl],
            },
        )
        .repartition("band", "bkey")
    )
    # ^ the index ships clustered by its probe key: persisted/cached it
    # keeps this outputPartitioning, so every batch probe shuffles ONLY
    # the batch side (locally the stand-in for lake bucketing BY
    # (band, bkey), which the docstring prescribes for the written form)
    return exact, banded


def _check_band_meta(band_index: DataFrame, asked: dict) -> None:
    """Refuse hash/banding parameters that disagree with what the index
    was BUILT with (bound as bkey column metadata by corpus_index), and an
    index built with another version of its hash family — either
    silently generates disjoint keys and verdicts every doc 'new'. An
    index whose metadata names a ``hash_impl`` but no ``family_version``
    predates versioning: version 1. Hand-built indexes without metadata
    skip the check."""
    meta = band_index.schema["bkey"].metadata if "bkey" in band_index.columns else {}
    if not meta:
        return
    built = {k: meta[k] for k in asked if k in meta}
    if any(built[k] != asked[k] for k in built):
        raise ValueError(
            f"band-index probe/merge parameters {asked} do not match the "
            f"index build {built}: the mismatched keys would silently "
            f"match nothing — rebuild the index or fix the arguments"
        )
    impl = meta.get("hash_impl")
    version = meta.get("family_version", 1)
    if impl in FAMILY_VERSION and version != FAMILY_VERSION[impl]:
        raise ValueError(
            f"band index was built with version {version} of the {impl!r} "
            f"MinHash family, this engine computes version "
            f"{FAMILY_VERSION[impl]}: its keys would silently match "
            f"nothing — rebuild the index"
        )


def merge_index(
    exact_index: DataFrame,
    band_index: DataFrame,
    accepted_batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    hash_impl: str = "md5",
) -> tuple[DataFrame, DataFrame]:
    """Extend the snapshot indexes with ACCEPTED batch docs (the rows a
    probe verdicted 'new') without rebuilding from the corpus:

    * exact: union the batch's fingerprint groups, re-min rep_id — the
      shuffle is bounded by index size, never corpus payload;
    * band: plain union of id-only rows, re-clustered by (band, bkey)
      (on the lake: an append to the bucketed index table, which keeps
      its bucketing without this shuffle).

    Equals ``corpus_index(snapshot ∪ accepted_batch)`` EXACTLY (pinned
    in tests/test_incremental.py) — minhash/fingerprints are per-doc, so
    index construction distributes over union; hash params must match
    the original build. Recompute the hot-key set after merging (it's a
    property of the index)."""
    _check_band_meta(
        band_index,
        {
            "hash_impl": hash_impl,
            "num_hashes": num_hashes,
            "bands": bands,
            "shingle_k": shingle_k,
        },
    )
    b_exact, b_band = corpus_index(
        accepted_batch,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        hash_impl=hash_impl,
    )
    exact = (
        exact_index.unionByName(b_exact)
        .groupBy("fingerprint")
        .agg(F.min("rep_id").alias("rep_id"))
    )
    band = band_index.unionByName(b_band).repartition("band", "bkey")
    return exact, band


def incremental_oversized_keys(
    band_index: DataFrame, max_ids_per_bucket: int
) -> DataFrame:
    """Audit: band-index keys excluded from candidate generation by the
    bucket cap — (band, bkey, n_ids). Operationally these are boilerplate
    band values; route them to the substring/boilerplate tiers instead."""
    return (
        band_index.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("n_ids"))
        .where(F.col("n_ids") > max_ids_per_bucket)
    )


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    exact_index: DataFrame,
    band_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.7,
    max_ids_per_bucket: int = 1000,
    hot_keys: DataFrame | None = None,
    hash_impl: str = "md5",
) -> DataFrame:
    """Verdict per batch doc against the indexed snapshot:
    (doc_id, verdict, matched_id, jaccard). num_hashes/bands/shingle_k
    must match the corpus_index build.

    ``hot_keys``: the capped-bucket set (incremental_oversized_keys
    output). It is a property of the SNAPSHOT, not the batch — compute
    it once per index build and persist it alongside (it's tiny);
    passing None recomputes it inline, which costs a full band-index
    aggregation PER BATCH — fine for one-shot use, wrong for a
    continuous probe loop.

    Plan shape: the expensive per-text work (fingerprint,
    shingles, 16-hash band keys, exact Jaccard) is computed once per
    DISTINCT text / text pair and eagerly ``localCheckpoint``-ed. The
    checkpoints are all bounded by contract — the batch is small, the
    candidate set is cap-audited — and they stop DataFrame branch
    re-execution (the signature projection was observed evaluating ~10x
    across the verdict branches) and stop join-key null-inference from
    pushing md5/shingle expressions below the corpus semi-join onto the
    full snapshot scan."""
    _check_band_meta(
        band_index,
        {
            "hash_impl": hash_impl,
            "num_hashes": num_hashes,
            "bands": bands,
            "shingle_k": shingle_k,
        },
    )
    # compact per-doc frame: id + raw-text fingerprint only (docs with
    # NULL text keep a NULL _rfp row here so they still verdict 'new')
    ids_b = batch.select(
        F.col(id_col).alias("new_id"), F.md5(F.col(text_col)).alias("_rfp")
    )
    # per-distinct-text table: ALL heavy batch-side expressions, once per
    # text, materialized (batch-bounded by the operator's contract)
    bt = (
        batch.select(
            F.md5(F.col(text_col)).alias("_rfp"), F.col(text_col).alias("_t")
        )
        .dropDuplicates(["_rfp"])
        .select(
            "_rfp",
            text_fingerprint(F.col("_t")).alias("fingerprint"),
            word_shingles(F.col("_t"), shingle_k).alias("sh_new"),
        )
        .select(
            "_rfp",
            "fingerprint",
            "sh_new",
            _band_keys(
                F.col("sh_new"), num_hashes, bands, hash_impl=hash_impl
            ).alias("bkeys"),
        )
        .localCheckpoint(eager=True)
    )
    bfp = ids_b.join(bt.select("_rfp", "fingerprint"), "_rfp")

    exact_hits = bfp.join(exact_index, "fingerprint").select(
        "new_id",
        F.lit("exact_dup").alias("verdict"),
        F.col("rep_id").alias("matched_id"),
        F.lit(None).cast("double").alias("jaccard"),
    )

    rest = bfp.join(exact_index, "fingerprint", "left_anti")

    if hot_keys is None:
        hot_keys = incremental_oversized_keys(band_index, max_ids_per_bucket)
    capped_index = band_index.join(
        hot_keys.select("band", "bkey"), ["band", "bkey"], "left_anti"
    )
    cand = (
        rest.select("new_id", "_rfp")
        .join(bt.select("_rfp", "bkeys"), "_rfp")
        .select("new_id", "_rfp", F.posexplode("bkeys").alias("band", "bkey"))
        .join(capped_index, ["band", "bkey"])
        .select("new_id", "_rfp", F.col("id").alias("old_id"))
        .dropDuplicates(["new_id", "old_id"])
        .localCheckpoint(eager=True)
    )
    # candidate semi-join BEFORE touching corpus payloads: fingerprints
    # and shingles are computed only for corpus docs some candidate
    # actually references (AQE broadcasts the id set when small, shuffles
    # otherwise — never a forced broadcast; the referential.py pattern),
    # and the result is materialized so later joins cannot push md5
    # null-checks below the semi-join onto the WHOLE corpus scan
    # (observed: a full-corpus md5 pass per downstream join, ~200 core-s
    # at 2M docs).
    matched_corpus = (
        corpus.select(F.col(id_col).alias("old_id"), F.col(text_col).alias("_t"))
        .join(cand.select("old_id").distinct(), "old_id", "left_semi")
        .select("old_id", F.md5(F.col("_t")).alias("_ofp"), "_t")
        .localCheckpoint(eager=True)
    )
    old_fps = matched_corpus.select("old_id", "_ofp")
    # exact Jaccard once per DISTINCT text pair (candidate sets on
    # duplicate-heavy snapshots repeat the same text pair across
    # thousands of id pairs); shingle arrays exist once per distinct
    # text and never ride a corpus-scale shuffle
    old_sh_by_fp = (
        matched_corpus.select("_ofp", "_t")
        .dropDuplicates(["_ofp"])
        .select("_ofp", word_shingles(F.col("_t"), shingle_k).alias("sh_old"))
    )
    pair_fps = cand.join(old_fps, "old_id")
    pair_jacc = (
        pair_fps.select("_rfp", "_ofp")
        .dropDuplicates(["_rfp", "_ofp"])
        .join(bt.select("_rfp", "sh_new"), "_rfp")
        .join(old_sh_by_fp, "_ofp")
        .select(
            "_rfp",
            "_ofp",
            F.round(_jaccard(F.col("sh_new"), F.col("sh_old")), 6).alias("jaccard"),
        )
    )
    verified = (
        pair_fps.join(pair_jacc, ["_rfp", "_ofp"])
        .select("new_id", "old_id", "jaccard")
        .where(F.col("jaccard") >= threshold)
    )
    best = Window.partitionBy("new_id").orderBy(
        F.col("jaccard").desc(), F.col("old_id").asc()
    )
    near_hits = (
        verified.withColumn("_rk", F.row_number().over(best))
        .where(F.col("_rk") == 1)
        .select(
            "new_id",
            F.lit("near_dup").alias("verdict"),
            F.col("old_id").alias("matched_id"),
            "jaccard",
        )
    )

    matched = exact_hits.select("new_id").unionByName(near_hits.select("new_id"))
    fresh = (
        ids_b.select("new_id")
        .join(matched, "new_id", "left_anti")
        .select(
            "new_id",
            F.lit("new").alias("verdict"),
            F.lit(None).cast("long").alias("matched_id"),
            F.lit(None).cast("double").alias("jaccard"),
        )
    )
    return (
        exact_hits.unionByName(near_hits)
        .unionByName(fresh)
        .withColumnRenamed("new_id", id_col)
    )
