"""Bigram-LM perplexity: hand-computed smoothing math, OOV mapping,
short-doc NULLs, and the semantic sanity check (garbage scores worse)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _naive(corpus: dict[int, str], targets: dict[int, str], vocab_size: int, k=1.0):
    """Pure-Python replica of train + score."""
    from collections import Counter

    raw = Counter()
    for t in corpus.values():
        raw.update(t.split())
    vocab = {
        w for w, _ in sorted(raw.items(), key=lambda x: (-x[1], x[0]))[:vocab_size]
    }
    m = lambda t: [w if w in vocab else "<unk>" for w in t.split()]
    uni, bi = Counter(), Counter()
    for t in corpus.values():
        ws = m(t)
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
    V = len(uni)
    out = {}
    for i, t in targets.items():
        ws = m(t)
        pairs = list(zip(ws, ws[1:]))
        if not pairs:
            out[i] = (0, None, None)
            continue
        lps = [
            math.log((bi.get(p, 0) + k) / (uni.get(p[0], 0) + k * V)) for p in pairs
        ]
        avg = sum(lps) / len(lps)
        out[i] = (len(pairs), round(avg, 6), round(math.exp(-avg), 6))
    return out


def test_lm_matches_naive_including_oov_and_short_docs(spark):
    from json_schema_py_spark.operators.lm import score_perplexity, train_bigram_lm

    corpus = {
        1: "the cat sat on the mat",
        2: "the dog sat on the rug",
        3: "the cat ate the fish",
    }
    targets = {
        10: "the cat sat",           # all in-vocab bigrams
        11: "zebra quark the cat",   # OOV head -> <unk> bigrams
        12: "word",                  # 1 token -> NULL scores
        13: "",                      # 0 tokens -> NULL scores
    }
    cdf = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    tdf = spark.createDataFrame(list(targets.items()), "doc_id long, text string")
    vocab, uni, bi = train_bigram_lm(cdf, vocab_size=6)  # forces OOV ('fish'...)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"], r["perplexity"])
        for r in score_perplexity(tdf, vocab, uni, bi).collect()
    }
    assert got == _naive(corpus, targets, vocab_size=6)
    # every input doc exactly once, short docs carried with NULLs
    assert set(got) == set(targets)
    assert got[12] == (0, None, None) and got[13] == (0, None, None)


def test_lm_vocab_deterministic_and_guards(spark):
    from json_schema_py_spark.operators.lm import score_perplexity, train_bigram_lm

    # tied counts break by token ASC: with vocab_size=2 over {b:2, a:2, c:1},
    # vocab must be {a, b} on every run
    cdf = spark.createDataFrame(
        [(1, "b a"), (2, "a b c")], "doc_id long, text string"
    )
    for _ in range(2):
        vocab, uni, bi = train_bigram_lm(cdf, vocab_size=2)
        assert {r["w"] for r in vocab.collect()} == {"a", "b"}
    with pytest.raises(ValueError, match="vocab_size"):
        train_bigram_lm(cdf, vocab_size=0)
    with pytest.raises(ValueError, match="smoothing"):
        score_perplexity(cdf, vocab, uni, bi, k=0)


def test_lm_garbage_scores_worse_than_natural(spark):
    """Semantic sanity on the real corpus: text drawn from the corpus
    distribution must score lower perplexity than reversed-token text
    (the quality-filter premise)."""
    from json_schema_py_spark.operators.lm import score_perplexity, train_bigram_lm

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    vocab, uni, bi = train_bigram_lm(docs, vocab_size=500)
    natural = docs.where(F.col("doc_id") < 50)
    garbage = natural.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.col("text"), " ")), " ").alias("text"),
    )
    both = score_perplexity(natural.unionByName(garbage), vocab, uni, bi)
    rows = {r["doc_id"]: r["perplexity"] for r in both.collect()}
    nat = [rows[i] for i in rows if i < 1000 and rows[i] is not None]
    gar = [rows[i] for i in rows if i >= 1000 and rows[i] is not None]
    assert sum(nat) / len(nat) < sum(gar) / len(gar)


def test_tfidf_top_terms_hand_computed(spark):
    """TF-IDF against hand math: smoothed idf, deterministic tie-break,
    min_df exclusion, exact top-k per doc."""
    import pytest as _pytest

    from json_schema_py_spark.operators.keywords import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "cherry cherry common"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"], r["tfidf"])
        for r in tfidf_top_terms(docs, k=2).collect()
    }
    N = 3
    idf = lambda df_: math.log((1 + N) / (1 + df_)) + 1
    r6 = lambda x: round(x, 6)
    # doc 1: apple tf=2 df=1 -> 2*idf(1); banana tf=1 df=2; common tf=1 df=3
    assert got[(1, 1)] == ("apple", 2, 1, r6(2 * idf(1)))
    assert got[(1, 2)] == ("banana", 1, 2, r6(idf(2)))
    # doc 2: banana and cherry tie (tf=1, df=2) -> term ASC breaks it
    assert got[(2, 1)] == ("banana", 1, 2, r6(idf(2)))
    assert got[(2, 2)] == ("cherry", 1, 2, r6(idf(2)))
    # doc 3: cherry tf=2 first, then common
    assert got[(3, 1)] == ("cherry", 2, 2, r6(2 * idf(2)))
    assert got[(3, 2)] == ("common", 1, 3, r6(idf(3)))

    # min_df=2 excludes the hapax 'apple' entirely
    no_hapax = {r["term"] for r in tfidf_top_terms(docs, k=3, min_df=2).collect()}
    assert "apple" not in no_hapax
    with _pytest.raises(ValueError, match="k must"):
        tfidf_top_terms(docs, k=0)
    with _pytest.raises(ValueError, match="min_df"):
        tfidf_top_terms(docs, min_df=0)


def test_lm_collapse_identical_to_direct(spark):
    """Duplicate-text collapse (weighted counts, per-text scoring) must
    reproduce the direct path's LM tables and scores exactly on a
    replicated corpus, including NULL-text and empty-text docs."""
    from pyspark.sql import functions as F

    from json_schema_py_spark.operators.lm import score_perplexity, train_bigram_lm

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    big = docs.crossJoin(spark.range(6).select(F.col("id").alias("_r"))).select(
        (F.col("doc_id") + F.col("_r") * 1000).alias("doc_id"),
        F.when(F.col("doc_id") % 49 == 0, F.lit(None))
        .when(F.col("doc_id") % 31 == 0, F.lit(""))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    v_d, u_d, b_d = train_bigram_lm(big, vocab_size=300, collapse=False)
    v_c, u_c, b_c = train_bigram_lm(big, vocab_size=300, collapse="broadcast")
    for a, b in ((v_d, v_c), (u_d, u_c), (b_d, b_c)):
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    s_d = score_perplexity(big, v_d, u_d, b_d, collapse=False)
    for mode in ("broadcast", "shuffle"):
        s_c = score_perplexity(big, v_d, u_d, b_d, collapse=mode)
        assert s_c.count() == big.count()
        # float sums may reassociate; compare at the gate's rounding
        a = s_d.select("doc_id", "n_bigrams", F.round("perplexity", 6).alias("p"))
        b = s_c.select("doc_id", "n_bigrams", F.round("perplexity", 6).alias("p"))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _jobs(spark) -> int:
    """Number of Spark jobs submitted so far in this session."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sc._jsc.sc().statusStore().jobsList(None).size()


def _collapsible_operators(static):
    """name -> build(docs, collapse) for the ten operators that can
    collapse duplicate texts; their model, profile and hot-set inputs are
    fit on the batch frame ``static`` with collapse off."""
    from json_schema_py_spark.operators.classifier import (
        score_quality,
        train_nb_classifier,
    )
    from json_schema_py_spark.operators.importance import (
        hashed_ngram_profile,
        importance_weights,
    )
    from json_schema_py_spark.operators.incremental import corpus_index
    from json_schema_py_spark.operators.keywords import tfidf_top_terms
    from json_schema_py_spark.operators.lm import score_perplexity, train_bigram_lm
    from json_schema_py_spark.operators.substring import (
        hot_ngrams,
        strip_duplicate_ngrams,
    )

    def labeled(d):
        return d.withColumn("label", (F.crc32(F.col("text")) % 2).cast("int"))

    lm = train_bigram_lm(static, vocab_size=100, collapse=False)
    nb = train_nb_classifier(labeled(static), collapse=False)
    prof = hashed_ngram_profile(static, 512, collapse=False)
    hot = hot_ngrams(static, k=3, collapse=False)
    return {
        "train_bigram_lm": lambda d, c: train_bigram_lm(d, vocab_size=100, collapse=c),
        "score_perplexity": lambda d, c: score_perplexity(d, *lm, collapse=c),
        "train_nb_classifier": lambda d, c: train_nb_classifier(labeled(d), collapse=c),
        "score_quality": lambda d, c: score_quality(d, *nb, collapse=c),
        "hashed_ngram_profile": lambda d, c: hashed_ngram_profile(d, 512, collapse=c),
        "importance_weights": lambda d, c: importance_weights(
            d, prof, prof, 512, collapse=c
        ),
        "hot_ngrams": lambda d, c: hot_ngrams(d, k=3, collapse=c),
        "strip_duplicate_ngrams": lambda d, c: strip_duplicate_ngrams(
            d, hot, k=3, collapse=c
        ),
        "tfidf_top_terms": lambda d, c: tfidf_top_terms(d, k=3, collapse=c),
        "corpus_index": lambda d, c: corpus_index(d, collapse=c),
    }


def test_collapse_mode_rejects_unknown_values_before_any_scan(spark):
    """A ``collapse`` value outside True/False/"auto"/"off"/"shuffle"/
    "broadcast" raises instead of silently running the probe scan as
    "auto" — on batch and streaming frames alike, with no job submitted."""
    from json_schema_py_spark.util import collapse_mode

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    stream = spark.readStream.schema(docs.schema).parquet(f"{SF}/documents.parquet")
    before = _jobs(spark)
    for bad in ("Off", "none", "true", 0, 1, None):
        for df in (docs, stream):
            with pytest.raises(ValueError, match="collapse"):
                collapse_mode(df, "text", bad)
    assert _jobs(spark) == before


def test_streaming_inputs_never_collapse(spark):
    """A streaming frame can neither run the duplication probe nor carry
    the collapsed plan, so collapse_mode answers "off" for it whatever
    the caller pinned, and every collapsible operator with collapse
    pinned on still builds a stream."""
    from json_schema_py_spark.util import collapse_mode

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    stream = spark.readStream.schema(docs.schema).parquet(f"{SF}/documents.parquet")
    for pinned in (True, "shuffle", "broadcast", "auto"):
        assert collapse_mode(stream, "text", pinned) == "off", pinned
    for name, build in _collapsible_operators(docs).items():
        out = build(stream, True)
        frames = out if isinstance(out, tuple) else (out,)
        assert all(f.isStreaming for f in frames), name


def test_collapse_builders_run_no_job_before_an_action(spark):
    """Building any collapsible operator with collapse pinned on submits
    no Spark job (the per-text table is persisted lazily, not
    checkpointed eagerly), and the collapsed tf-idf and bigram-LM outputs
    equal the direct ones."""
    from json_schema_py_spark.operators.keywords import tfidf_top_terms
    from json_schema_py_spark.operators.lm import train_bigram_lm

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    try:
        ops = _collapsible_operators(docs)
        before = _jobs(spark)
        for name, build in ops.items():
            build(docs, True)
            assert _jobs(spark) == before, name
        t_c = tfidf_top_terms(docs, k=3, collapse=True)
        lm_c = train_bigram_lm(docs, vocab_size=100, collapse=True)
        t_d = tfidf_top_terms(docs, k=3, collapse=False)
        lm_d = train_bigram_lm(docs, vocab_size=100, collapse=False)
        for a, b in ((t_c, t_d),) + tuple(zip(lm_c, lm_d)):
            assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    finally:
        spark.catalog.clearCache()
