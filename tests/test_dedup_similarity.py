"""Dedup + similarity operators: recall vs brute force, determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_exact_duplicates_finds_planted_copies(spark):
    from json_schema_py_spark.operators.dedup import exact_duplicates

    d = _docs(spark)
    extra = d.where(F.col("doc_id") < 5).withColumn("doc_id", F.col("doc_id") + 9000)
    groups = exact_duplicates(d.unionByName(extra)).collect()
    assert len(groups) == 5
    for g in groups:
        assert g["cnt"] == 2 and g["ids"][1] == g["ids"][0] + 9000


def test_minhash_lsh_recall_vs_bruteforce(spark):
    """LSH candidates must recover every true Jaccard≥0.7 pair (the testdata
    plants real near-dups; 16 hashes / 4 bands ⇒ high recall at s≥0.9)."""
    from json_schema_py_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    d = _docs(spark)
    truth = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(d, threshold=0.7, bucket_by_token_count=False).collect()
    }
    lsh = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(d, threshold=0.7).collect()}
    assert truth, "testdata should contain planted near-dup pairs"
    assert lsh == truth  # verified candidates: no false positives, full recall here


def test_simhash_identical_docs_collide(spark):
    from json_schema_py_spark.operators.dedup import simhash

    d = _docs(spark)
    extra = d.where(F.col("doc_id") < 5).withColumn("doc_id", F.col("doc_id") + 9000)
    groups = (
        simhash(d.unionByName(extra))
        .groupBy("simhash")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") > 1)
        .collect()
    )
    planted = [g for g in groups if any(i >= 9000 for i in g["ids"])]
    assert len(planted) == 5


def test_ann_lsh_recall(spark):
    """Bucketed ANN vs brute force: recall@5 must beat 0.3 with 8 planes on
    random vectors (documented knob; near-dup recall is ~1 by construction)."""
    from json_schema_py_spark.operators.similarity import ann_lsh_topk, brute_force_topk

    e = _emb(spark)
    q = e.where(F.col("vec_id") < 20)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(e, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_lsh_topk(e, q, dim=64, k=5, n_planes=4).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall > 0.3, f"recall={recall}"


def test_embedding_near_dup_planted(spark):
    from json_schema_py_spark.operators.similarity import embedding_near_dup_pairs

    e = _emb(spark)
    extra = e.where(F.col("vec_id") < 3).withColumn("vec_id", F.col("vec_id") + 9000)
    pairs = embedding_near_dup_pairs(e.unionByName(extra), dim=64, threshold=0.99).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(i, i + 9000) for i in range(3)}
    assert all(p["cos"] == 1.0 for p in pairs)


def test_brute_force_topk_deterministic_ranks(spark):
    from json_schema_py_spark.operators.similarity import brute_force_topk

    e = _emb(spark)
    q = e.where(F.col("vec_id") < 3)
    a = brute_force_topk(e, q, k=5).collect()
    b = brute_force_topk(e, q, k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 15


def test_multimodal_feature_extract(spark):
    from json_schema_py_spark.operators.multimodal import (
        attach_fake_payloads,
        extract_media_features,
        FEATURE_DIM,
    )
    from json_schema_py_spark.sources.synth import media_dim

    md = attach_fake_payloads(media_dim(spark))
    feats = extract_media_features(md).collect()
    assert len(feats) == 37
    assert all(len(f["features"]) == FEATURE_DIM for f in feats)
    # deterministic: same payload → same features
    again = {f["media_ref"]: f["features"] for f in extract_media_features(md).collect()}
    assert all(again[f["media_ref"]] == f["features"] for f in feats)


def test_real_decode_is_explicit_stub(spark):
    import pytest

    from json_schema_py_spark.operators.multimodal import extract_media_features
    from json_schema_py_spark.operators.multimodal import attach_fake_payloads
    from json_schema_py_spark.sources.synth import media_dim

    with pytest.raises(NotImplementedError):
        extract_media_features(attach_fake_payloads(media_dim(spark)), decode="real")


def test_ivf_topk_recall_and_determinism(spark):
    """IVF ANN: recall@5 beats single-bucket LSH at comparable probe cost;
    full-probe degenerates to brute force exactly."""
    from json_schema_py_spark.operators.similarity import brute_force_topk, ivf_topk

    e = _emb(spark)
    q = e.where(F.col("vec_id") < 20)
    truth = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(e, q, k=5).collect()}
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(e, q, dim=64, k=5, n_cells=16, n_probe=4).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall > 0.4, f"recall={recall}"

    full = {
        (r["query_id"], r["neighbor_id"], r["score"], r["rank"])
        for r in ivf_topk(e, q, dim=64, k=5, n_cells=8, n_probe=8).collect()
    }
    bf = {
        (r["query_id"], r["neighbor_id"], r["score"], r["rank"])
        for r in brute_force_topk(e, q, k=5).collect()
    }
    assert full == bf  # probing every cell == brute force


def test_ivf_trained_centroids_lift_recall_on_clustered_data(spark):
    """A few deterministic Lloyd iterations beat first-N centroids at equal
    n_probe when the corpus is CLUSTERED (on the isotropic synthetic
    embeddings both are equivalent — cells are already balanced; measured
    this round). Fully deterministic: same centroids on every run."""
    from pyspark.sql import functions as F

    from json_schema_py_spark.operators.similarity import (
        _centroids,
        brute_force_topk,
        ivf_topk,
    )

    dim = 16
    ids = spark.range(600).select(F.col("id").cast("long").alias("vec_id"))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            F.when((F.col("vec_id") / 100).cast("int") == i, F.lit(1.0)).otherwise(F.lit(0.0))
            + F.pmod(F.xxhash64(F.col("vec_id") * dim + i), F.lit(100)).cast("double") / 500.0
        ).cast("float"),
    )
    e = ids.select("vec_id", vec.alias("embedding")).cache()
    q = e.where(F.pmod(F.col("vec_id"), F.lit(97)) == 3)
    truth = set(
        map(tuple, brute_force_topk(e, q, k=5).select("query_id", "neighbor_id").collect())
    )

    def recall(train_iters):
        a = set(
            map(
                tuple,
                ivf_topk(
                    e, q, dim=dim, k=5, n_cells=8, n_probe=2, train_iters=train_iters
                ).select("query_id", "neighbor_id").collect(),
            )
        )
        return len(truth & a) / len(truth)

    r0, r3 = recall(0), recall(3)
    assert r3 > r0, f"trained={r3} untrained={r0}"
    assert r3 > 0.9

    # determinism: identical centroids across runs
    c1 = _centroids(e, 8, "vec_id", "embedding", train_iters=3)
    c2 = _centroids(e, 8, "vec_id", "embedding", train_iters=3)
    assert c1 == c2
    e.unpersist()


def test_ngram_jaccard_bucket_cap_bounds_skewed_band(spark):
    """One dominant length band must NOT degenerate to an intra-bucket cross
    product: with max_bucket_rows the oversized band is excluded (audited via
    ngram_jaccard_oversized_buckets), small bands still produce their pairs."""
    from pyspark.sql import functions as F

    from json_schema_py_spark.operators.dedup import (
        ngram_jaccard_oversized_buckets,
        ngram_jaccard_pairs,
    )

    # 400 docs of identical token count (dominant band, all near-dup) + 4
    # short docs forming one small band with an exact dup pair
    words = " ".join(f"w{i}" for i in range(20))  # 21 tokens → length band 1
    big = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(words + " id"), F.col("id").cast("string")).alias("text"),
    )
    small = spark.createDataFrame(
        [(1000, "tiny pair one"), (1001, "tiny pair one"), (1002, "other short"), (1003, "non dup")],
        "doc_id long, text string",
    )
    df = big.unionByName(small)

    capped = ngram_jaccard_pairs(df, threshold=0.5, max_bucket_rows=50)
    pairs = capped.collect()
    # the dominant band (400 docs → 79800 raw pairs) is excluded; only the
    # small band's dup pair survives
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1000, 1001)}

    dropped = ngram_jaccard_oversized_buckets(df, max_bucket_rows=50).collect()
    assert len(dropped) == 1 and dropped[0]["cnt"] == 400


def test_lsh_pairs_shuffle_join_fallback_matches_broadcast(spark):
    """broadcast_candidates=False (pathological near-dup-dense corpora):
    identical pairs via a plain shuffle join."""
    from pyspark.sql import functions as F

    from json_schema_py_spark.operators.dedup import minhash_lsh_pairs

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    extra = d.where(F.col("doc_id") < 10).withColumn("doc_id", F.col("doc_id") + 100000)
    corpus = d.unionByName(extra)
    a = {tuple(r) for r in minhash_lsh_pairs(corpus, threshold=0.7).collect()}
    b = {
        tuple(r)
        for r in minhash_lsh_pairs(
            corpus, threshold=0.7, broadcast_candidates=False
        ).collect()
    }
    assert a == b and len(a) >= 10


def test_lsh_bucket_groupby_matches_direct_self_join(spark):
    """Identity: minhash_lsh_pairs (bucket groupBy, candidate-only
    shingling) ≡ the direct definition — _band_keys per doc, a plain
    self-join on (band, bkey), brute-force Jaccard. The corpus adds a
    one-token-variant family (buckets with > 2 ids), docs with fewer than
    3 tokens (no shingles: never candidates) and a NULL-text row."""
    from json_schema_py_spark.functions.text import word_shingles
    from json_schema_py_spark.operators.dedup import _band_keys, minhash_lsh_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    base_text = d.where(F.col("doc_id") == 0).first()["text"]
    extra = spark.createDataFrame(
        [(200_000 + i, f"{base_text} variant{i}") for i in range(24)]
        + [(300_000 + i, t) for i, t in enumerate(["", "one", "two words", "x y", "  a  "])]
        + [(400_000, None)],
        "doc_id long, text string",
    )
    corpus = d.unionByName(extra)
    shingle_less = set(range(300_000, 300_005)) | {400_000}

    sh = word_shingles(F.col("text"), 3)
    banded = corpus.where(F.size(sh) > 0).select(
        F.col("doc_id").alias("id"), F.posexplode(_band_keys(sh, 16, 4)).alias("band", "bkey")
    )
    biggest = banded.groupBy("band", "bkey").count().agg(F.max("count")).first()[0]
    assert biggest > 2, "the variant family must share a bucket of more than 2 ids"
    direct = {
        (r["id_a"], r["id_b"])
        for r in banded.select("band", "bkey", F.col("id").alias("id_a"))
        .join(banded.select("band", "bkey", F.col("id").alias("id_b")), ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .collect()
    }
    shingles = {
        r["doc_id"]: set(r["sh"] or []) for r in corpus.select("doc_id", sh.alias("sh")).collect()
    }

    def jaccard(a: int, b: int) -> float:
        return len(shingles[a] & shingles[b]) / len(shingles[a] | shingles[b])

    for bc in (True, False):
        cand = minhash_lsh_pairs(corpus, threshold=0.0, broadcast_candidates=bc).collect()
        assert {(r["id_a"], r["id_b"]) for r in cand} == direct, bc
        paired = {r["id_a"] for r in cand} | {r["id_b"] for r in cand}
        assert not paired & shingle_less
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in minhash_lsh_pairs(corpus, threshold=0.7, broadcast_candidates=bc).collect()
        }
        want = {p: jaccard(*p) for p in direct if jaccard(*p) >= 0.7}
        assert got.keys() == want.keys(), bc
        assert all(abs(got[p] - want[p]) < 1e-6 for p in want)
        assert len(want) >= 24 * 23 // 2  # the variant family pairs up


def test_minhash_md5_family_matches_python_recomputation(spark):
    """Identity: minhash_signatures' md5 family ≡ its definition recomputed
    in pure Python — one md5 per shingle (first 15 hex digits of
    md5("mh|" + shingle), mod p = 2^31 - 1), then slot i = min over
    shingles of (a_i * h + b_i) mod p with a_i = 1 + md5-prefix("mha|i")
    mod (p - 1), b_i = md5-prefix("mhb|i") mod p. Covers NULL text, "",
    a doc under 3 tokens and repeated shingles; every value is below p."""
    import hashlib

    from json_schema_py_spark.operators.dedup import minhash_signatures

    p = (1 << 31) - 1

    def prefix(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    coeffs = [(1 + prefix(f"mha|{i}") % (p - 1), prefix(f"mhb|{i}") % p) for i in range(16)]
    assert all(1 <= a < p and 0 <= b < p for a, b in coeffs)
    texts = {
        0: None,
        1: "",
        2: "two words",
        3: "x y z x y z x y z x y z",  # every shingle repeats
        4: "alpha beta gamma delta epsilon zeta eta theta",
        5: "  spaced   out  tokens here  ",
        6: "the quick brown fox jumps over the lazy dog " * 5,
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["id"]: r["sig"] for r in minhash_signatures(docs).collect()}
    assert got.keys() == texts.keys()
    for i, text in texts.items():
        toks = [t for t in (text or "").split(" ") if t]
        shingles = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        if not shingles:
            assert got[i] is None, i
            continue
        hs = [prefix(f"mh|{s}") % p for s in shingles]
        want = [min((a * h + b) % p for h in hs) for a, b in coeffs]
        assert got[i] == want, i
        assert all(0 <= v < p for v in got[i]), i
    assert got[0] is None and got[1] is None and got[2] is None


def test_simhash_near_pairs_exact_vs_bruteforce(spark):
    """Block-partitioned Hamming-ball join: the pigeonhole blocking is
    EXACT (distance ≤ k ⇒ one block agrees), so pairs equal brute force."""
    from json_schema_py_spark.operators.dedup import simhash, simhash_near_pairs

    d = _docs(spark).where(F.col("doc_id") < 150)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(d, max_hamming=3).collect()
    }
    s = {r["id"]: r["simhash"] for r in simhash(d).collect()}
    ids = sorted(s)

    def ham(a, b):
        # 64-bit fingerprints collect as SIGNED longs (bit 63 = sign);
        # mask to two's complement before popcount — bin() of a negative
        # Python int would miscount
        return bin((s[a] ^ s[b]) & ((1 << 64) - 1)).count("1")

    truth = {
        (a, b): ham(a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if ham(a, b) <= 3
    }
    assert got == truth and len(truth) > 0


def test_simhash_64bit_fingerprints_use_high_bits(spark):
    """The 64-bit default actually populates bits 60-63 (drawn from the
    second 'sh2'-seeded hash): across the corpus, some fingerprint has a
    high bit set — guards against a silent fall-back to 60-bit hashes that
    would leave the top block degenerate (round-2 VERDICT scale fix)."""
    from json_schema_py_spark.operators.dedup import simhash

    vals = [r["simhash"] for r in simhash(_docs(spark).where(F.col("doc_id") < 100)).collect()]
    assert any((v >> 60) & 0xF or v < 0 for v in vals)
    # and the 32-bit parameterization still confines itself to 32 bits
    vals32 = [
        r["simhash"]
        for r in simhash(_docs(spark).where(F.col("doc_id") < 100), bits=32).collect()
    ]
    assert all(0 <= v < (1 << 32) for v in vals32)


def test_simhash_near_pairs_bucket_cap_and_audit(spark):
    """max_bucket_rows bounds the pigeonhole self-join under a dominant
    block value (the 100 TB skew defense): a hot bucket of identical docs
    is EXCLUDED from the join, the audit reports it, and pairs whose
    agreeing block is under the cap are still found."""
    from json_schema_py_spark.operators.dedup import (
        simhash_near_pairs,
        simhash_oversized_buckets,
    )

    base = _docs(spark).where(F.col("doc_id") < 30)
    # 200 identical synthetic docs (text disjoint from the corpus) -> every
    # one of their 4 (block, bval) buckets is 200 rows hot; the 30 real
    # docs stay in small buckets untouched by the cap
    hot = spark.range(200).select(
        (F.col("id") + 1000).alias("doc_id"),
        F.lit("zyx wvu tsr qpo nml kji hgf edc").alias("text"),
    )
    corpus = base.select("doc_id", "text").unionByName(hot)

    capped = simhash_near_pairs(corpus, max_hamming=3, max_bucket_rows=50).collect()
    uncapped_n = simhash_near_pairs(corpus, max_hamming=3).count()
    # the clone cluster alone contributes C(200,2)=19900 pairs; capped must
    # drop them (clone ids never appear) while keeping sub-cap pairs
    assert uncapped_n >= 19900
    assert all(r["id_a"] < 1000 and r["id_b"] < 1000 for r in capped)
    audited = simhash_oversized_buckets(corpus, max_bucket_rows=50).collect()
    assert len(audited) >= 4 and all(r["cnt"] >= 200 for r in audited)
    # sub-cap pairs survive identically (no over-dropping): pairs among
    # doc_id<30 match the uncapped join restricted to those ids
    plain = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_pairs(base, max_hamming=3).collect()
    }
    assert {(r["id_a"], r["id_b"]) for r in capped} == plain


def test_ppm_real_decode_and_thumbnails(spark):
    """REAL decode (round 3): binary PPM/P6 images parse with numpy alone —
    features and nearest-neighbor thumbnails match a hand-computed numpy
    truth; malformed/truncated payloads yield NULL features, never a task
    failure; header comments are honored per the netpbm spec."""
    import numpy as np

    from json_schema_py_spark.operators.multimodal import (
        _parse_p6,
        extract_media_features,
        make_ppm,
        ppm_thumbnails,
    )

    good = make_ppm(6, 4, seed=7)
    commented = (
        b"P6\n# a comment\n6 4\n# another\n255\n" + good.split(b"255\n", 1)[1]
    )
    rows = [
        ("m/0", "image/x-portable-pixmap", bytearray(good), 6, 4),
        ("m/1", "image/x-portable-pixmap", bytearray(commented), 6, 4),
        ("m/2", "image/x-portable-pixmap", bytearray(good[:-5]), 6, 4),  # truncated
        ("m/3", "image/x-portable-pixmap", bytearray(b"nonsense"), 1, 1),
    ]
    df = spark.createDataFrame(
        rows, "media_ref string, mime string, payload binary, width int, height int"
    )
    got = {
        r["media_ref"]: r["features"]
        for r in extract_media_features(df, decode="ppm").collect()
    }
    arr = _parse_p6(good)
    rgb = arr.astype("float64") / 255.0
    luma = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    expect = [6.0, 4.0, rgb[..., 0].mean(), rgb[..., 1].mean(), rgb[..., 2].mean(),
              float(luma.std()), float(luma.max()), float(luma.min())]
    assert got["m/0"] == [float(x) for x in expect]
    assert got["m/1"] == got["m/0"]  # comments in the header parse fine
    assert got["m/2"] is None and got["m/3"] is None

    thumbs = {r["media_ref"]: r["thumb"] for r in ppm_thumbnails(df, size=(2, 3)).collect()}
    ys, xs = (np.arange(2) * 4) // 2, (np.arange(3) * 6) // 3
    tl = luma[ys][:, xs].ravel()
    assert thumbs["m/0"] == [float(v) for v in tl]
    assert thumbs["m/3"] is None


def test_simhash_review_fixes(spark):
    """Review r03 pins: (a) zero-token docs hash to simhash 0 (not all
    ones — the vacuous majority vote diverged from the DuckDB oracle);
    (b) max_hamming=0 at 64 bits works (full-width block needs no mask —
    (1<<64)-1 is not a long literal) and finds exactly the identical-
    fingerprint pairs."""
    from json_schema_py_spark.operators.dedup import simhash, simhash_near_pairs

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "hello world")], "doc_id long, text string"
    )
    vals = {r["id"]: r["simhash"] for r in simhash(df).collect()}
    assert vals[1] == 0 and vals[2] == 0 and vals[3] != 0

    d = _docs(spark).where(F.col("doc_id") < 50).select("doc_id", "text")
    clones = d.where(F.col("doc_id") < 5).withColumn("doc_id", F.col("doc_id") + 7000)
    corpus = d.unionByName(clones)
    pairs = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_pairs(corpus, max_hamming=0).collect()
    }
    assert {(i, i + 7000, 0) for i in range(5)} <= pairs
    assert all(h == 0 for _, _, h in pairs)


def test_ppm_decoder_guards(spark):
    """Review r03: a junk byte where the single post-maxval whitespace
    belongs yields NULL (not a one-byte-shifted garbage decode), and an
    unknown decode mode raises instead of silently faking."""
    import pytest

    from json_schema_py_spark.operators.multimodal import (
        _parse_p6,
        extract_media_features,
        make_ppm,
    )

    good = make_ppm(4, 4, seed=1)
    junk_sep = good.replace(b"255\n", b"255X", 1)
    assert _parse_p6(good) is not None and _parse_p6(junk_sep) is None

    df = spark.createDataFrame(
        [("m/0", "image/x-portable-pixmap", bytearray(good), 4, 4)],
        "media_ref string, mime string, payload binary, width int, height int",
    )
    with pytest.raises(ValueError, match="decode must be"):
        extract_media_features(df, decode="PPM")


def test_quantized_topk_recall_and_properties(spark):
    """int8 scalar quantization (round 3): recall@5 vs exact cosine stays
    high (unbiased per-candidate error), scores stay within the int8 error
    envelope, zero vectors quantize cleanly, and quantization is
    deterministic."""
    from json_schema_py_spark.operators.similarity import (
        brute_force_topk,
        quantize_embeddings,
        quantized_topk,
    )

    e = _emb(spark)
    q = e.where(F.col("vec_id") < 20)
    truth = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(e, q, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in quantized_topk(e, q, k=5).collect()}
    recall = len(truth & approx) / len(truth)
    assert recall > 0.8, f"recall={recall}"

    # score error envelope vs exact, per overlapping pair
    ex = {(r["query_id"], r["neighbor_id"]): r["score"] for r in brute_force_topk(e, q, k=5).collect()}
    qz = {(r["query_id"], r["neighbor_id"]): r["score"] for r in quantized_topk(e, q, k=5).collect()}
    assert all(abs(ex[p] - qz[p]) < 0.02 for p in truth & approx)

    # zero vector: scale 0, all-zero qvec, no crash
    z = spark.createDataFrame([(1, [0.0] * 4), (2, [1.0, 0.0, 0.0, 0.0])],
                              "vec_id long, embedding array<float>")
    rows = {r["vec_id"]: (r["scale"], r["qvec"]) for r in quantize_embeddings(z).collect()}
    assert rows[1] == (0.0, [0, 0, 0, 0])
    assert rows[2][0] == 1.0 and rows[2][1] == [127, 0, 0, 0]
    a = quantize_embeddings(e).orderBy("vec_id").collect()
    b = quantize_embeddings(e).orderBy("vec_id").collect()
    assert a == b


def test_topk_zero_norm_vectors_never_rank(spark):
    """ADVICE r03: a zero-norm corpus vector scores cosine 0/0 = NaN, and
    Spark's descending sort orders NaN above every real double — without
    the NaN filter one zero vector takes rank 1 for EVERY query, in both
    the exact and quantized paths."""
    from json_schema_py_spark.operators.similarity import (
        brute_force_topk,
        quantized_topk,
    )

    rows = [(i, [float((i * 7 + d * 3) % 5 - 2) for d in range(4)]) for i in range(1, 9)]
    rows.append((99, [0.0, 0.0, 0.0, 0.0]))  # the poison vector
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = e.where(F.col("vec_id") <= 2)
    for fn in (brute_force_topk, quantized_topk):
        out = fn(e, q, k=3).collect()
        assert out, fn.__name__
        assert all(r["neighbor_id"] != 99 for r in out), fn.__name__
        assert all(r["score"] == r["score"] for r in out), fn.__name__  # no NaN
        # ranks are still dense 1..3 per query
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append(r["rank"])
        assert all(sorted(v) == [1, 2, 3] for v in by_q.values()), fn.__name__


def test_combined_signatures_bit_identical_and_single_pass(spark):
    """Round-4: combined_signatures returns BIT-IDENTICAL MinHash and
    SimHash values to the standalone operators (same seeds, same folds),
    and the optimized plan carries exactly ONE combined fold — two direct
    struct-field references would silently duplicate the whole expression
    under projection collapse."""
    from json_schema_py_spark.operators.dedup import (
        combined_signatures,
        minhash_signatures,
        simhash,
    )

    rows = [(i, f"tok{i % 7} alpha beta tok{i % 3} gamma delta " * 3) for i in range(40)]
    rows.append((99, ""))  # zero-token doc: sig NULL, simhash 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    c = {r["id"]: (r["sig"], r["simhash"]) for r in combined_signatures(docs).collect()}
    m = {r["id"]: r["sig"] for r in minhash_signatures(docs).collect()}
    s = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    assert len(c) == 41
    for i in c:
        assert c[i] == (m[i], s[i]), i
    assert c[99] == (None, 0)

    # single evaluation: the projection boundary holds in the optimized
    # plan — combined's md5 count equals the standalone SUM (one fold
    # each), not double it (which collapse-duplication would produce)
    plan = combined_signatures(docs)._jdf.queryExecution().optimizedPlan().toString()
    n_comb = plan.count("md5")
    n_min = minhash_signatures(docs)._jdf.queryExecution().optimizedPlan().toString().count("md5")
    n_sim = simhash(docs)._jdf.queryExecution().optimizedPlan().toString().count("md5")
    assert n_comb == n_min + n_sim, (n_comb, n_min, n_sim)


def test_wav_real_decode_and_guards(spark):
    """Round-4: the numpy WAV/PCM16 decoder — hand-checked features on a
    tiny known waveform, channel-0 extraction on stereo, word-aligned
    chunk walking, and NULL (never task failure) on malformed payloads."""
    import struct

    from json_schema_py_spark.operators.multimodal import (
        _parse_wav,
        _wav_decode_features,
        extract_media_features,
        make_wav,
    )

    # known waveform: [16384, -16384, 16384, -16384] at 8000 Hz
    s = struct.pack("<4h", 16384, -16384, 16384, -16384)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(s)) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(s)) + s)
    f = _wav_decode_features(wav)
    assert f[0] == 8000.0 and f[1] == 4.0 and f[2] == 4 / 8000
    assert f[3] == 0.0 and f[4] == 0.5 and f[5] == 0.5
    assert f[6] == 1.0  # every adjacent pair flips sign
    assert f[7] == 0.5  # population std

    # stereo: channel 0 is all 1000s, channel 1 junk — decoder takes ch 0
    st = struct.pack("<6h", 1000, -9999, 1000, 7777, 1000, -1)
    sfmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    swav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(sfmt) + 8 + len(st)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(sfmt)) + sfmt
            + b"data" + struct.pack("<I", len(st)) + st)
    sr, ch0 = _parse_wav(swav)
    assert sr == 8000 and list(ch0) == [1000, 1000, 1000]

    # guards: every malformed payload decodes to None
    bad = [
        b"", b"RIFF", b"RIFFxxxxWAVE",                      # truncated headers
        b"RIFX" + wav[4:],                                   # wrong magic
        wav[:40],                                            # truncated data chunk
        wav.replace(struct.pack("<HH", 1, 1), struct.pack("<HH", 3, 1), 1),  # float fmt
    ]
    for payload in bad:
        assert _wav_decode_features(payload) is None, payload[:16]

    # through the Spark plumbing: good + bad payloads in one batch
    rows = [("a/0", "audio/wav", bytearray(make_wav(100, 16000, 5))),
            ("a/1", "audio/wav", bytearray(b"not a wav"))]
    df = spark.createDataFrame(rows, "media_ref string, mime string, payload binary")
    got = {r["media_ref"]: r["features"] for r in
           extract_media_features(df, decode="wav").collect()}
    assert got["a/1"] is None
    assert got["a/0"][0] == 16000.0 and got["a/0"][1] == 100.0
