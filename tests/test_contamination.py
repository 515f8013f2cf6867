"""Decontamination + PII scan: planted overlap is found, and the corpus
side never shuffles before the hit aggregation."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_contamination_hits_and_decontaminate(spark):
    from json_schema_py_spark.operators.contamination import contamination_hits

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    # benchmark: verbatim copies of docs 0-4 → those docs are contaminated
    # by construction; every other doc's 8-grams are residue-class distinct
    bench = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 900000).alias("bench_id"), "text"
    )
    hits = contamination_hits(docs, bench, shingle_k=8, min_shared=3)
    got = {(r["doc_id"], r["bench_id"]) for r in hits.collect()}
    assert {(i, i + 900000) for i in range(5)} <= got
    # n_shared for a verbatim copy equals the doc's own distinct 8-gram count
    from json_schema_py_spark.functions.text import word_shingles

    own = {
        r["doc_id"]: r["n"]
        for r in docs.where(F.col("doc_id") < 5)
        .select("doc_id", F.size(word_shingles(F.col("text"), 8)).alias("n"))
        .collect()
    }
    exact = {
        (r["doc_id"], r["n_shared"])
        for r in hits.where(F.col("doc_id") < 5).collect()
        if r["bench_id"] == r["doc_id"] + 900000
    }
    assert exact == {(i, own[i]) for i in range(5)}


def test_contamination_corpus_side_never_shuffles_before_hits(spark):
    """The benchmark side broadcasts; the only Exchange in the plan is the
    (doc_id, bench_id) hit aggregation — bounded by actual contamination,
    never the corpus."""
    from json_schema_py_spark.operators.contamination import contamination_hits

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 900000).alias("bench_id"), "text"
    )
    plan = (
        contamination_hits(docs, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # exactly one shuffle origin: the hits groupBy (partial agg map-side)
    assert plan.count("Exchange hashpartitioning") <= 1


def test_pii_scan_counts(spark):
    from json_schema_py_spark.operators.contamination import pii_scan

    rows = [
        (1, "write to a.b+c@ex-ample.org or x@y.io thanks"),
        (2, "call 555-123-4567 or +1 555 987 6543"),
        (3, "ssn 123-45-6789 and ip 192.168.0.1 leaked"),
        (4, "nothing sensitive here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_email"], r["n_phone"], r["n_ssn_like"], r["n_ipv4"], r["pii_total"])
           for r in pii_scan(df).collect()}
    assert got[1] == (2, 0, 0, 0, 2)
    # both numbers are 3-3-4 shaped ([-. ] includes space): 555-123-4567
    # and '555 987 6543' count; the +1 country prefix is outside the match
    assert got[2] == (0, 2, 0, 0, 2)
    assert got[3] == (0, 0, 1, 1, 2)
    assert got[4] == (0, 0, 0, 0, 0)


def test_pii_scan_guards_and_shared_total(spark):
    """Review r03: an explicitly empty pattern dict errors (never a silent
    default-scan fallback); curation's 'pii' reason counts through the
    same pii_total_col primitive as pii_scan."""
    import pytest
    from pyspark.sql import functions as F

    from json_schema_py_spark.operators.contamination import pii_scan, pii_total_col

    df = spark.createDataFrame([(1, "x@y.io")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        pii_scan(df, patterns={})
    with pytest.raises(ValueError, match="non-empty"):
        df.select(pii_total_col(F.col("text"), {}))
    scan = pii_scan(df).collect()[0]
    total = df.select(pii_total_col(F.col("text")).alias("t")).collect()[0]["t"]
    assert scan["pii_total"] == total == 1


def test_contamination_hot_shingle_cap_and_audit(spark):
    """max_shingle_hits: a benchmark shingle that is corpus-common
    (boilerplate quoted by an eval item) is EXCLUDED from the join and
    audited; genuine contamination is still found via its other
    shingles."""
    from json_schema_py_spark.operators.contamination import (
        contamination_hits,
        contamination_hot_shingles,
    )

    boiler = "w1 w2 w3 w4 w5 w6 w7 w8"  # one 8-gram, planted corpus-wide
    uniq = " ".join(f"u{j}" for j in range(8))  # benchmark-item-only 8-gram
    docs = [(i, f"{boiler} d{i}a d{i}b d{i}c") for i in range(40)]
    docs.append((500, f"{boiler} {uniq} tail1 tail2"))  # genuinely contaminated
    d = spark.createDataFrame(docs, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(900000, f"{boiler} {uniq}")], "bench_id long, text string"
    )

    uncapped = contamination_hits(d, bench, min_shared=1)
    # boilerplate shingle matches all 41 docs uncapped
    assert uncapped.count() == 41
    capped = contamination_hits(d, bench, min_shared=1, max_shingle_hits=10)
    got = {(r["doc_id"], r["bench_id"]) for r in capped.collect()}
    # only the genuinely contaminated doc survives (its unique shingles
    # are under the cap); the boilerplate-only matches are gone
    assert got == {(500, 900000)}
    audited = contamination_hot_shingles(d, bench, max_shingle_hits=10).collect()
    assert [(r["sh"], r["hits"]) for r in audited] == [(boiler, 41)]


def test_normalized_shingling_catches_perturbed_quotes(spark):
    """A benchmark item quoted with different casing/punctuation escapes
    RAW shingling entirely; normalize=True canonicalizes both sides and
    catches every plant. Also pins
    word_shingles(normalize=True) == word_shingles over normalize_text."""
    from json_schema_py_spark.functions.text import normalize_text, word_shingles
    from json_schema_py_spark.operators.contamination import contamination_hits

    docs = spark.createDataFrame(
        [
            (i, f"alpha beta gamma delta epsilon zeta eta theta iota kappa doc{i} tail")
            for i in range(20)
        ],
        "doc_id long, text string",
    )
    # eval items quote docs 0-2 but uppercased, comma-riddled, bang-suffixed
    bench = spark.createDataFrame(
        [
            (900 + i, f"ALPHA, BETA, GAMMA, DELTA, EPSILON, ZETA, ETA, THETA, IOTA, KAPPA, DOC{i}, TAIL!")
            for i in range(3)
        ],
        "bench_id long, text string",
    )
    raw = contamination_hits(docs, bench, shingle_k=8, min_shared=1).collect()
    assert raw == []  # the production gap: perturbed quotes escape raw scan
    norm = {
        (r["doc_id"], r["bench_id"])
        for r in contamination_hits(
            docs, bench, shingle_k=8, min_shared=1, normalize=True
        ).collect()
    }
    assert {(i, 900 + i) for i in range(3)} <= norm
    # every norm pair shares the 8-token common prefix — docs 3+ also match
    # the common part, so check the planted quotes dominate via n_shared
    ns = {
        (r["doc_id"], r["bench_id"]): r["n_shared"]
        for r in contamination_hits(
            docs, bench, shingle_k=8, min_shared=1, normalize=True
        ).collect()
    }
    for i in range(3):
        assert ns[(i, 900 + i)] == max(
            v for (d, b), v in ns.items() if b == 900 + i
        )
    # word_shingles(normalize=True) ≡ word_shingles(normalize_text(col))
    a = docs.select(word_shingles(F.col("text"), 3, normalize=True).alias("s"))
    b = docs.select(word_shingles(normalize_text(F.col("text")), 3).alias("s"))
    assert a.collect() == b.collect()


def test_domain_extraction_and_blocklist(spark):
    """URL→domain extraction (scheme/case/www normalization, ports,
    paths) and corpus domain counts with per-doc dedup."""
    from json_schema_py_spark.operators.contamination import domain_counts

    docs = spark.createDataFrame(
        [
            (1, "x https://www.Foo.com/a http://foo.com/b https://bar.org y"),
            (2, "see http://foo.com:8080/z twice http://foo.com/q"),
            (3, "no urls here"),
            (4, "https://spam.example/page"),
        ],
        "doc_id long, text string",
    )
    got = {r["domain"]: (r["n_docs"], r["n_urls"]) for r in domain_counts(docs).collect()}
    assert got == {"foo.com": (2, 4), "bar.org": (1, 1), "spam.example": (1, 1)}


def test_contamination_cms_filter_contract(spark):
    """Round-5 (VERDICT r04 item 7): the CMS-backed hot-shingle filter.
    (a) With a wide sketch (no collisions) the CMS path reproduces the
    exact cap filter bit-for-bit and the overdrop audit is empty.
    (b) With a deliberately narrow sketch, overestimates can only drop
    EXTRA shingles (est >= true: the work bound stays guaranteed), so
    the hit set is a subset of the exact-capped one, and the overdrop
    audit reports exactly the collision-dropped under-cap shingles."""
    from json_schema_py_spark.operators.contamination import (
        contamination_cms_overdrop,
        contamination_hits,
        contamination_hot_shingles,
        corpus_shingle_cms,
    )

    boiler = "w1 w2 w3 w4 w5 w6 w7 w8"
    uniq = " ".join(f"u{j}" for j in range(8))
    docs = [(i, f"{boiler} d{i}a d{i}b d{i}c") for i in range(40)]
    docs.append((500, f"{boiler} {uniq} tail1 tail2"))
    d = spark.createDataFrame(docs, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(900000, f"{boiler} {uniq}")], "bench_id long, text string"
    )

    exact = {
        (r["doc_id"], r["bench_id"], r["n_shared"])
        for r in contamination_hits(d, bench, min_shared=1, max_shingle_hits=10).collect()
    }
    # bench item = 16 tokens -> 9 distinct 8-grams; the boiler one is
    # corpus-hot (41 docs, dropped at cap 10), the other 8 live only in
    # doc 500 (hits=1, kept)
    assert exact == {(500, 900000, 8)}

    # (a) wide sketch: no collisions -> identical to the exact path
    wide = corpus_shingle_cms(d, width=65536, depth=3)
    via_cms = {
        (r["doc_id"], r["bench_id"], r["n_shared"])
        for r in contamination_hits(
            d, bench, min_shared=1, max_shingle_hits=10,
            shingle_cms=wide, cms_width=65536, cms_depth=3,
        ).collect()
    }
    assert via_cms == exact
    assert (
        contamination_cms_overdrop(
            d, bench, wide, max_shingle_hits=10, cms_width=65536, cms_depth=3
        ).count()
        == 0
    )

    # (b) narrow sketch: collisions inflate estimates -> subset + audit
    narrow = corpus_shingle_cms(d, width=2, depth=1)
    via_narrow = {
        (r["doc_id"], r["bench_id"], r["n_shared"])
        for r in contamination_hits(
            d, bench, min_shared=1, max_shingle_hits=10,
            shingle_cms=narrow, cms_width=2, cms_depth=1,
        ).collect()
    }
    # dropping extra shingles can only shrink n_shared / lose pairs
    assert {(a, b) for a, b, _ in via_narrow} <= {(a, b) for a, b, _ in exact}
    assert all(
        n <= {(a, b): m for a, b, m in exact}[(a, b)] for a, b, n in via_narrow
    )
    over = contamination_cms_overdrop(
        d, bench, narrow, max_shingle_hits=10, cms_width=2, cms_depth=1
    ).collect()
    # every audited row: sketch said hot (est > cap), exact count is not
    assert all(r["est"] > 10 >= r["hits"] for r in over)
    # the audit accounts EXACTLY for the n_shared lost to collisions
    # (8 exact-kept shingles minus what the narrow filter kept), and it
    # never overlaps the genuinely-hot set (that's hot_shingles' job)
    narrow_shared = sum(n for _, _, n in via_narrow)
    assert len(over) == 8 - narrow_shared
    hot = {r["sh"] for r in contamination_hot_shingles(d, bench, max_shingle_hits=10).collect()}
    assert {r["sh"] for r in over}.isdisjoint(hot)


def test_contamination_cms_requires_cap(spark):
    import pytest as _pytest

    from json_schema_py_spark.operators.contamination import (
        contamination_hits,
        corpus_shingle_cms,
    )

    d = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id long, text string")
    b = spark.createDataFrame([(2, "a b c d e f g h")], "bench_id long, text string")
    cms = corpus_shingle_cms(d)
    with _pytest.raises(ValueError, match="max_shingle_hits"):
        contamination_hits(d, b, shingle_cms=cms)


def test_cms_estimates_binds_build_params(spark):
    """ADVICE r05: the sketch carries its width/depth in column metadata —
    mismatched explicit params raise instead of silently estimating 0."""
    import pytest

    from json_schema_py_spark.operators.stats import cms_estimates, cms_table

    vals = spark.createDataFrame([("a",), ("a",), ("b",)], "v string")
    cms = cms_table(vals, "v", width=64, depth=2)
    q = spark.createDataFrame([("a",)], "value string")
    # defaults read the metadata — no way to mismatch
    est = {r["value"]: r["est"] for r in cms_estimates(cms, q).collect()}
    assert est["a"] >= 2
    # matching explicit params cross-check fine
    assert cms_estimates(cms, q, width=64, depth=2).count() == 1
    with pytest.raises(ValueError, match="does not match"):
        cms_estimates(cms, q, width=128, depth=2)
    with pytest.raises(ValueError, match="does not match"):
        cms_estimates(cms, q, width=64, depth=3)
    # a sketch that lost its metadata demands explicit params
    bare = cms.select("row", "bucket", "cnt").withMetadata("cnt", {})
    with pytest.raises(ValueError, match="metadata"):
        cms_estimates(bare, q)
    assert cms_estimates(bare, q, width=64, depth=2).count() == 1


def test_domain_cap_keep_drop_and_exempt(spark):
    """Round-6 host-diversity cap: lowest-doc_id survivors per first-url
    domain, capped docs absent, no-URL docs exempt with NULL domain."""
    import pytest

    from json_schema_py_spark.operators.contamination import domain_cap

    rows = [
        (1, "see https://a.com/x"),
        (2, "see https://www.A.com/y"),   # same domain after normalization
        (3, "see http://a.com/z"),
        (4, "see https://b.org/1 then https://a.com/2"),  # FIRST url -> b.org
        (5, "no urls at all"),
        (6, "see https://b.org/2"),
        (7, "see https://b.org/3"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in domain_cap(d, n_per_domain=2).collect()}
    # a.com: docs 1,2,3 -> keep 1,2; drop 3
    assert out[1]["domain"] == "a.com" and out[1]["rank_in_domain"] == 1
    assert out[2]["domain"] == "a.com" and out[2]["rank_in_domain"] == 2
    assert 3 not in out
    # b.org: docs 4,6,7 -> keep 4,6; drop 7
    assert out[4]["domain"] == "b.org" and out[4]["rank_in_domain"] == 1
    assert out[6]["domain"] == "b.org" and out[6]["rank_in_domain"] == 2
    assert 7 not in out
    # exempt: kept, NULL domain and rank
    assert out[5]["domain"] is None and out[5]["rank_in_domain"] is None
    with pytest.raises(ValueError, match="n_per_domain"):
        domain_cap(d, n_per_domain=0)


def test_domain_cap_plan_caps_before_exchange(spark):
    """The rank<=n filter compiles to WindowGroupLimit with a Partial mode
    below the domain exchange — a hot host ships at most n rows per map
    partition, never its full document count."""
    from json_schema_py_spark.operators.contamination import domain_cap

    d = spark.createDataFrame(
        [(i, f"see https://hot.com/{i}") for i in range(64)],
        "doc_id long, text string",
    )
    plan = domain_cap(d, n_per_domain=3)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan
