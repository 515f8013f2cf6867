"""Incremental cross-snapshot dedup (round-6): verdict tiers, precedence,
bucket cap + audit, plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

LONG = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor"
)


def _corpus(spark):
    rows = [
        (0, LONG),
        (1, "completely different text about something else entirely here"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "Signal Message: system online and nominal status reported"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_verdict_tiers(spark):
    from json_schema_py_spark.operators.incremental import (
        corpus_index,
        incremental_dedup,
    )

    corpus = _corpus(spark)
    batch = spark.createDataFrame(
        [
            (100, LONG),  # byte-exact -> exact_dup(0)
            (101, "SIGNAL MESSAGE: system online, and nominal status reported!!"),
            # ^ normalized-exact vs doc 3 -> exact_dup(3)
            (102, LONG + " trailing extras appended"),  # near-dup of 0
            (103, "a totally novel document unseen in the corpus snapshot"),
        ],
        "doc_id long, text string",
    )
    exact, band = corpus_index(corpus)
    got = {
        r["doc_id"]: (r["verdict"], r["matched_id"], r["jaccard"])
        for r in incremental_dedup(batch, corpus, exact, band).collect()
    }
    assert set(got) == {100, 101, 102, 103}  # zero row loss
    assert got[100] == ("exact_dup", 0, None)
    assert got[101] == ("exact_dup", 3, None)
    assert got[102][0] == "near_dup" and got[102][1] == 0
    assert got[102][2] >= 0.7
    assert got[103] == ("new", None, None)


def test_incremental_bucket_cap_and_audit(spark):
    from json_schema_py_spark.operators.incremental import (
        corpus_index,
        incremental_dedup,
        incremental_oversized_keys,
    )

    # 5 byte-identical corpus docs -> identical band keys (5 ids per key)
    corpus = spark.createDataFrame(
        [(i, LONG) for i in range(5)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100, LONG + " two extra tokens")], "doc_id long, text string"
    )
    exact, band = corpus_index(corpus)
    # audit: every band key of the identical group is oversized at cap=3
    audited = incremental_oversized_keys(band, 3).collect()
    assert len(audited) >= 1 and all(r["n_ids"] == 5 for r in audited)
    # cap excludes the hot keys -> the near-dup is NOT found (audited, not
    # silent: the audit rows above are the evidence trail)
    capped = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup(batch, corpus, exact, band, max_ids_per_bucket=3).collect()
    }
    assert capped[100] == "new"
    # the precomputed-hot_keys path (snapshot artifact) == inline recompute
    pre = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup(
            batch, corpus, exact, band, max_ids_per_bucket=3,
            hot_keys=incremental_oversized_keys(band, 3),
        ).collect()
    }
    assert pre == capped
    # generous cap: found, best match = min corpus id among equal jaccards
    found = {
        r["doc_id"]: (r["verdict"], r["matched_id"])
        for r in incremental_dedup(batch, corpus, exact, band, max_ids_per_bucket=10).collect()
    }
    assert found[100] == ("near_dup", 0)


def test_incremental_xxhash_impl_same_verdicts_and_mismatch_guard(spark):
    """The xxhash64 production hasher yields the same verdicts on the
    planted fixture (verification is exact Jaccard — the hash family only
    shapes candidate generation); probing an index with mismatched
    parameters raises instead of silently finding nothing."""
    import pytest

    from json_schema_py_spark.operators.incremental import (
        corpus_index,
        incremental_dedup,
    )

    corpus = _corpus(spark)
    batch = spark.createDataFrame(
        [(100, LONG), (102, LONG + " trailing extras appended"),
         (103, "a totally novel document unseen in the corpus snapshot")],
        "doc_id long, text string",
    )
    exact, band = corpus_index(corpus, hash_impl="xxhash64")
    got = {
        r["doc_id"]: (r["verdict"], r["matched_id"])
        for r in incremental_dedup(
            batch, corpus, exact, band, hash_impl="xxhash64"
        ).collect()
    }
    assert got[100] == ("exact_dup", 0)
    assert got[102] == ("near_dup", 0)
    assert got[103] == ("new", None)
    # md5 probe against the xxhash64 index must refuse loudly
    with pytest.raises(ValueError, match="do not match the index build"):
        incremental_dedup(batch, corpus, exact, band)
    with pytest.raises(ValueError, match="do not match the index build"):
        incremental_dedup(
            batch, corpus, exact, band, hash_impl="xxhash64", num_hashes=8
        )
    # merging an md5-built batch index into an xxhash64 snapshot index
    # would corrupt it silently — same guard
    from json_schema_py_spark.operators.incremental import merge_index

    with pytest.raises(ValueError, match="do not match the index build"):
        merge_index(exact, band, batch)


def test_band_index_of_an_older_md5_family_is_refused(spark):
    """An md5 band index stamped before the family was versioned (its
    metadata names hash_impl="md5" but no family_version) holds keys of the
    old per-permutation md5 family: probing or merging it with today's
    signatures would silently find nothing, so both raise. An index
    without metadata still skips the check, and an xxhash64 index without
    a version is its current family."""
    import pytest

    from json_schema_py_spark.operators.incremental import (
        FAMILY_VERSION,
        corpus_index,
        incremental_dedup,
        merge_index,
    )

    corpus = _corpus(spark)
    batch = spark.createDataFrame(
        [(102, LONG + " trailing extras appended")], "doc_id long, text string"
    )
    exact, band = corpus_index(corpus)
    meta = band.schema["bkey"].metadata
    assert meta["family_version"] == FAMILY_VERSION["md5"] == 2
    old = {k: v for k, v in meta.items() if k != "family_version"}
    old_band = band.withMetadata("bkey", old)
    with pytest.raises(ValueError, match="version 1 of the 'md5' MinHash family"):
        incremental_dedup(batch, corpus, exact, old_band)
    with pytest.raises(ValueError, match="version 1 of the 'md5' MinHash family"):
        merge_index(exact, old_band, batch)
    # no metadata: hand-built, unchecked; the current index probes fine
    for b in (band.withMetadata("bkey", {}), band):
        got = incremental_dedup(batch, corpus, exact, b).collect()
        assert [(r["verdict"], r["matched_id"]) for r in got] == [("near_dup", 0)]
    _, xx = corpus_index(corpus, hash_impl="xxhash64")
    xx_meta = xx.schema["bkey"].metadata
    assert xx_meta["family_version"] == FAMILY_VERSION["xxhash64"] == 1
    xx_unversioned = xx.withMetadata(
        "bkey", {k: v for k, v in xx_meta.items() if k != "family_version"}
    )
    got = incremental_dedup(batch, corpus, exact, xx_unversioned, hash_impl="xxhash64")
    assert [r["verdict"] for r in got.collect()] == ["near_dup"]


def test_merge_index_equals_rebuild_and_closes_the_loop(spark):
    """merge_index(snapshot indexes, accepted batch) == full rebuild over
    snapshot ∪ batch, row for row; after the merge, re-probing the same
    batch verdicts every accepted doc exact_dup against itself."""
    from json_schema_py_spark.operators.incremental import (
        corpus_index,
        incremental_dedup,
        merge_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where("doc_id < 300").select("doc_id", "text")
    batch = docs.where("doc_id >= 300 and doc_id < 360").select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    exact, band = corpus_index(corpus)
    accepted_ids = {
        r["doc_id"]
        for r in incremental_dedup(batch, corpus, exact, band).collect()
        if r["verdict"] == "new"
    }
    accepted = batch.where(F.col("doc_id").isin(list(accepted_ids)))
    m_exact, m_band = merge_index(exact, band, accepted)
    r_exact, r_band = corpus_index(corpus.unionByName(accepted))
    assert {tuple(r) for r in m_exact.collect()} == {
        tuple(r) for r in r_exact.collect()
    }
    assert {tuple(r) for r in m_band.collect()} == {
        tuple(r) for r in r_band.collect()
    }
    # the loop closes: the merged snapshot now owns the accepted docs
    merged_corpus = corpus.unionByName(accepted)
    re_probe = {
        r["doc_id"]: (r["verdict"], r["matched_id"])
        for r in incremental_dedup(batch, merged_corpus, m_exact, m_band).collect()
        if r["doc_id"] in accepted_ids
    }
    assert all(v == ("exact_dup", i) for i, v in re_probe.items())


def test_incremental_no_forced_broadcast(spark):
    """Scale doctrine: both the exact probe and the band probe are plain
    shuffle equi-joins — nothing corpus-scale is ever force-broadcast."""
    from json_schema_py_spark.operators.incremental import (
        corpus_index,
        incremental_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where("doc_id < 400")
    batch = docs.where("doc_id >= 400").select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    exact, band = corpus_index(corpus)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            incremental_dedup(batch, corpus, exact, band)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_corpus_index_collapse_identical_to_direct(spark):
    """Round-7: the duplicate-text collapse (compute signatures once per
    DISTINCT text, fan back out by raw-md5) must be row-identical to the
    direct per-doc path on a replicated corpus — both tiers, both attach
    modes — and auto mode must pick collapse on this fixture."""
    from json_schema_py_spark.operators.incremental import corpus_index
    from json_schema_py_spark.util import collapse_mode

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    reps = spark.range(8).select(F.col("id").alias("_r"))
    big = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("_r") * 1000).alias("doc_id"), "text"
    )
    assert collapse_mode(big, "text") == "broadcast"
    e_direct, b_direct = corpus_index(big, collapse=False)
    for mode in ("broadcast", "shuffle"):
        e_c, b_c = corpus_index(big, collapse=mode)
        assert e_c.exceptAll(e_direct).count() == 0
        assert e_direct.exceptAll(e_c).count() == 0
        assert b_c.exceptAll(b_direct).count() == 0
        assert b_direct.exceptAll(b_c).count() == 0
    # metadata guard survives the collapsed build
    assert b_c.schema["bkey"].metadata["hash_impl"] == "md5"


def test_corpus_index_collapse_keeps_null_text_rows(spark):
    """The collapsed index equals the direct one on a corpus with NULL
    texts: the exact tier keeps the (NULL fingerprint, min id) group in
    every mode, and the band tier gives NULL texts no keys in any."""
    from json_schema_py_spark.operators.incremental import corpus_index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    nulls = spark.createDataFrame(
        [(1_000_000_000, None), (1_000_000_001, None)], "doc_id long, text string"
    )
    corpus = docs.select("doc_id", "text").unionByName(nulls)
    e_direct, b_direct = corpus_index(corpus, collapse=False)
    assert e_direct.where("fingerprint IS NULL").collect()[0]["rep_id"] == 1_000_000_000
    for mode in (True, "broadcast"):
        e_c, b_c = corpus_index(corpus, collapse=mode)
        assert e_c.exceptAll(e_direct).count() == 0
        assert e_direct.exceptAll(e_c).count() == 0
        assert b_c.exceptAll(b_direct).count() == 0
        assert b_direct.exceptAll(b_c).count() == 0


def test_incremental_dedup_null_text_rows_still_verdict_new(spark):
    """NULL-text batch docs must keep flowing to the 'new' verdict (they
    can never be exact or near dups) through the per-text collapse."""
    from json_schema_py_spark.operators.incremental import (
        corpus_index,
        incremental_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where("doc_id < 300")
    batch = docs.where("doc_id >= 300 and doc_id < 305").select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.when(F.col("doc_id") % 2 == 0, F.col("text")).alias("text"),
    )
    exact, band = corpus_index(corpus)
    out = incremental_dedup(batch, corpus, exact, band)
    got = {r["doc_id"]: r["verdict"] for r in out.collect()}
    assert len(got) == batch.count()
    for did, verdict in got.items():
        if (did - 1000) % 2 == 1:  # NULL text
            assert verdict == "new", (did, verdict)


def test_xxhash64_sentinel_not_clamping(spark):
    """ADVICE r06: xxhash64 spans the full signed 64-bit range, so the
    fold init must be Long.MAX — signature slots whose true min exceeds
    2^62 must keep their real value, not clamp to the old sentinel."""
    from pyspark.sql import functions as F

    from json_schema_py_spark.operators.dedup import minhash_signatures

    # single-shingle docs: sig slot == the one hash value, which lands
    # above 2^62 with prob ~1/4 per slot — plant until one does
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok"), F.col("id"), F.lit(" a b")).alias("text"),
    )
    sig = minhash_signatures(docs, hash_impl="xxhash64").select(
        F.explode("sig").alias("h")
    )
    over = sig.where(F.col("h") > F.lit(1 << 62)).count()
    clamped = sig.where(F.col("h") == F.lit(1 << 62)).count()
    assert over > 0, "expected some true minima above 2^62"
    assert clamped == 0, "no slot may clamp to the old sentinel"
