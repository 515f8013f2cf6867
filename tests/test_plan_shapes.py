"""Physical-plan audits: the 100 TB requirements as assertions.

Every claim the scale story makes is checked against the optimizer output:
shuffle-free validation, broadcast FK joins, column pruning reaching the
scan, partial aggregation on cross-row checks, one fused aggregate for
stats. If a refactor regresses a plan shape, these fail before any slow
benchmark would notice.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_validation_is_shuffle_free(spark):
    """Per-row validation = pure projection: no Exchange anywhere."""
    from json_schema_py_spark.schema.compiler import with_violations
    from json_schema_py_spark.sources.synth import DOCUMENTS_RULESET, spans_documents

    plan = _physical(with_violations(spans_documents(spark, SF), DOCUMENTS_RULESET))
    assert "Exchange" not in plan
    assert "BatchScan" in plan or "FileScan" in plan or "Scan parquet" in plan


def test_validation_single_scan(spark):
    from json_schema_py_spark.schema.compiler import with_violations
    from json_schema_py_spark.sources.synth import DOCUMENTS_RULESET, spans_documents

    plan = _optimized(with_violations(spans_documents(spark, SF), DOCUMENTS_RULESET))
    assert plan.count("Relation") == 1


def test_fk_join_broadcasts_small_dim(spark):
    from json_schema_py_spark.operators.referential import spans_fk_violations
    from json_schema_py_spark.sources.synth import media_dim, spans_documents

    plan = _physical(
        spans_fk_violations(spans_documents(spark, SF), media_dim(spark))
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_stats_is_one_fused_aggregate_over_one_scan(spark):
    from json_schema_py_spark.operators.stats import column_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = column_stats(docs, ["n_chars", "lang", "source"])
    opt = _optimized(df)
    assert opt.count("Aggregate") == 1
    assert opt.count("Relation") == 1
    phys = _physical(df)
    # partial (map-side) + final aggregate over a single scan
    assert phys.count("HashAggregate") + phys.count("SortAggregate") >= 2


def test_stats_prunes_unwatched_columns(spark):
    from json_schema_py_spark.operators.stats import column_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    phys = _physical(column_stats(docs, ["n_chars"]))
    scan_line = [l for l in phys.splitlines() if "parquet" in l.lower()]
    assert scan_line and "text" not in scan_line[0], "text column must be pruned"


def test_filter_pushdown_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").where(F.col("doc_id") < 10)
    phys = _physical(docs.select("doc_id"))
    assert "PushedFilters: [" in phys and "LessThan(doc_id" in phys


def test_uniqueness_two_stage_partial_agg(spark):
    from json_schema_py_spark.operators.uniqueness import duplicate_keys
    from json_schema_py_spark.sources.synth import spans_documents

    plan = _physical(duplicate_keys(spans_documents(spark, SF), "doc_id"))
    # salted first stage + final per-key stage; each hash-aggregates partially
    assert plan.count("HashAggregate") >= 3
    assert "Exchange" in plan


def test_fused_pass_stays_whole_stage_codegen(spark):
    """The headline pass must not fall out of codegen except for the HOF
    subtrees (which are interpreted by design)."""
    from json_schema_py_spark.schema.compiler import with_violations
    from json_schema_py_spark.sources.synth import DOCUMENTS_RULESET, spans_documents

    ann = with_violations(spans_documents(spark, SF), DOCUMENTS_RULESET)
    agg = ann.agg(F.count(F.lit(1)), F.sum(F.size("violations")))
    agg.collect()  # AQE only materializes the final plan after execution
    plan = _physical(agg)
    # '*(n)' marks WholeStageCodegen stages in the compact formatting; the
    # aggregates must be codegen'd (the HOF projection is interpreted by design)
    assert "*(" in plan and "*(2) HashAggregate" in plan or "WholeStageCodegen" in plan


def test_no_python_udfs_in_hot_paths(spark):
    """Validation, stats, dedup, similarity: zero Python in the plan
    (BatchEvalPython / ArrowEvalPython / mapInPandas only appear in the two
    designated pandas paths: exact-JSON and multimodal decode)."""
    from json_schema_py_spark.operators.dedup import minhash_lsh_pairs, simhash
    from json_schema_py_spark.operators.similarity import brute_force_topk
    from json_schema_py_spark.operators.stats import column_stats
    from json_schema_py_spark.schema.compiler import with_violations
    from json_schema_py_spark.sources.synth import DOCUMENTS_RULESET, spans_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plans = [
        _physical(with_violations(spans_documents(spark, SF), DOCUMENTS_RULESET)),
        _physical(column_stats(docs, ["n_chars"])),
        _physical(minhash_lsh_pairs(docs)),
        _physical(simhash(docs)),
        _physical(brute_force_topk(emb, emb.limit(5))),
    ]
    from json_schema_py_spark.operators.classifier import (
        score_quality,
        train_nb_classifier,
    )
    from json_schema_py_spark.operators.substring import (
        hot_ngrams,
        strip_duplicate_ngrams,
    )

    labeled = docs.select(
        "doc_id", "text", F.when(F.col("lang") == "en", 1).otherwise(0).alias("label")
    )
    w, b = train_nb_classifier(labeled)
    hot = hot_ngrams(docs.select("doc_id", "text"), k=8, min_count=2)
    plans.append(_physical(score_quality(labeled, w, b)))
    plans.append(_physical(strip_duplicate_ngrams(docs.select("doc_id", "text"), hot, k=8)))
    for p in plans:
        assert "EvalPython" not in p and "InPandas" not in p


def test_lsh_band_exchange_carries_ids_only(spark):
    """minhash_lsh_pairs shuffle diet (round-2): the band-bucket exchange
    ships (band, bkey, id) only — the shingle payload must never ride a
    shuffle of the full table. Shingles re-attach to candidates via
    broadcast joins."""
    from json_schema_py_spark.operators.dedup import minhash_lsh_pairs
    from json_schema_py_spark.sources.synth import spans_documents  # noqa: F401

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _physical(minhash_lsh_pairs(docs))
    # every hash-partitioned exchange on the band key must not project shingles
    for line in plan.splitlines():
        if "Exchange hashpartitioning(band" in line:
            assert "shingles" not in line, line
    # the candidate re-attach is a broadcast (full table never shuffled by id)
    assert "BroadcastHashJoin" in plan
    # no exchange anywhere in the plan carries a shingles projection
    exchanging = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l and "shingles" in l
    ]
    # the only allowed shingle-bearing exchange is the candidate-pair zip
    # (id_a, id_b) — bounded by candidate count, not table size
    for l in exchanging:
        assert "id_a" in l and "id_b" in l, f"table-sized shingle shuffle: {l}"


def _executed_nodes(spark, action) -> list[tuple[str, str]]:
    """(name, description) of every node of the final adaptive plan the
    SQL status store recorded for the last execution ``action`` ran —
    writes included, whose plan the DataFrame itself never sees."""
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    runs = store.executionsList()
    last = max(runs.apply(i).executionId() for i in range(runs.size()))
    nodes = store.planGraph(last).allNodes()
    return [(nodes.apply(i).name(), nodes.apply(i).desc()) for i in range(nodes.size())]


def test_lsh_band_fold_runs_once_and_shingles_only_candidates(spark, tmp_path):
    """The md5 band-key fold is ONE Generate in the executed plan, both
    standalone and inside the curation write (the bucket groupBy consumes
    the banded frame once — no reliance on exchange reuse), and shingles
    for verification are only ever projected beside a candidate pair,
    never over the full table."""
    from json_schema_py_spark.operators.dedup import minhash_lsh_pairs
    from json_schema_py_spark.plans.curation import curate_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for action in (
        lambda: minhash_lsh_pairs(docs).collect(),
        lambda: curate_documents(docs).write.parquet(str(tmp_path / "verdicts")),
    ):
        nodes = _executed_nodes(spark, action)
        assert any(d.startswith("AdaptiveSparkPlan isFinalPlan=true") for _, d in nodes)
        folds = [d for n, d in nodes if n == "Generate" and "posexplode(" in d and "md5(" in d]
        assert len(folds) == 1, folds
        shingling = [
            d for n, d in nodes if n == "Project" and "array_distinct(slice(zip_with(" in d
        ]
        assert shingling and all("id_a" in d and "id_b" in d for d in shingling), shingling


def test_lsh_band_fold_hashes_each_shingle_once(spark, tmp_path):
    """The md5 MinHash family hashes each shingle ONCE: the executed band
    fold (the one posexplode Generate) holds a single md5 call, both
    standalone and inside the curation write — the 16 permutations are
    arithmetic on that one bound value, never 16 md5 chains."""
    from json_schema_py_spark.operators.dedup import minhash_lsh_pairs
    from json_schema_py_spark.plans.curation import curate_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for action in (
        lambda: minhash_lsh_pairs(docs).collect(),
        lambda: curate_documents(docs).write.parquet(str(tmp_path / "verdicts")),
    ):
        nodes = _executed_nodes(spark, action)
        folds = [d for n, d in nodes if n == "Generate" and "posexplode(" in d and "md5(" in d]
        assert len(folds) == 1, folds
        assert folds[0].count("md5(") == 1, folds[0]


def test_bucketed_join_eliminates_shuffle(spark):
    """The 100 TB co-location doctrine made concrete: two tables bucketed on
    doc_id join WITHOUT any Exchange — the shuffle happened once at write
    time (bucketBy), every later join/agg on the key reuses it. This is the
    lake layout the uniqueness/FK checks assume for repeated runs."""
    import uuid

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "n_chars")
    other = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    ta, tb = f"bkt_a_{uuid.uuid4().hex[:8]}", f"bkt_b_{uuid.uuid4().hex[:8]}"
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast: at lake scale BOTH sides are huge — the point is
        # the shuffle-free SMJ over pre-bucketed layouts
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        docs.write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable(ta)
        other.write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable(tb)
        joined = spark.table(ta).join(spark.table(tb), "doc_id")
        plan = _physical(joined)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert joined.count() == docs.count()
        # and a key-aggregation over one bucketed table also skips the shuffle
        agg_plan = _physical(
            spark.table(ta).groupBy("doc_id").agg(F.count(F.lit(1)))
        )
        assert "Exchange hashpartitioning" not in agg_plan, agg_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_compile_ruleset_cache_returns_same_column(spark):
    """The compiled-Column cache (round 3): repeat compiles of the same
    (schema, struct_type) return the SAME Column object — the driver-side
    py4j expression build (~1.3s for the documents ruleset, 10x the 2M-row
    execution) is paid once per process. Rule-instance schemas skip the
    cache (no stable content key)."""
    from pyspark.sql import types as T

    from json_schema_py_spark.schema.compiler import compile_fires, compile_ruleset
    from json_schema_py_spark.schema.model import normalize_schema

    st = T.StructType([T.StructField("a", T.LongType())])
    schema = {"properties": {"a": {"minimum": 0}}}
    c1 = compile_ruleset(schema, st)
    c2 = compile_ruleset(schema, st)
    assert c1 is c2
    # different struct type or flags -> different cache slots
    st2 = T.StructType([T.StructField("a", T.DoubleType())])
    assert compile_ruleset(schema, st2) is not c1
    assert compile_ruleset(schema, st, verbose=True) is not c1
    f1 = compile_fires(schema, st)
    assert compile_fires(schema, st) is f1 and f1 is not c1
    # Rule instances bypass the cache
    r = normalize_schema(schema)
    assert compile_ruleset(r, st) is not compile_ruleset(r, st)


def test_compile_cache_preserves_property_order(spark):
    """Schemas differing ONLY in properties order must compile separately:
    key order drives the order-exact violation emission, and a sorted-key
    cache key would hand schema B schema A's emission order (review r03)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from json_schema_py_spark.schema.compiler import compile_ruleset

    st = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.LongType())])
    sa = {"properties": {"a": {"minimum": 10}, "b": {"minimum": 10}}}
    sb = {"properties": {"b": {"minimum": 10}, "a": {"minimum": 10}}}
    ca, cb = compile_ruleset(sa, st), compile_ruleset(sb, st)
    assert ca is not cb
    df = spark.createDataFrame([(1, 2)], "a long, b long")
    ra = df.select(F.transform(ca, lambda v: v["path"]).alias("p")).collect()[0]["p"]
    rb = df.select(F.transform(cb, lambda v: v["path"]).alias("p")).collect()[0]["p"]
    assert ra == ["/a", "/b"] and rb == ["/b", "/a"]


def test_compile_cache_survives_session_restart():
    """The cache docstring claims a compiled Column outlives the
    SparkSession that built it (the py4j gateway/JVM is per-process, and a
    Column is an unresolved name-bound tree) — pinned in a subprocess so
    the fixture session is untouched."""
    import subprocess
    import sys

    code = """
from json_schema_py_spark.session import get_spark
from pyspark.sql import types as T
from json_schema_py_spark.schema.compiler import compile_ruleset
st = T.StructType([T.StructField("a", T.LongType())])
schema = {"properties": {"a": {"minimum": 5}}}
s1 = get_spark(cpus=2, app_name="cache-a")
c = compile_ruleset(schema, st)
s1.stop()
s2 = get_spark(cpus=2, app_name="cache-b")
assert compile_ruleset(schema, st) is c  # cache hit across sessions
df = s2.createDataFrame([(1,), (9,)], "a long")
import pyspark.sql.functions as F
n = df.select(F.size(c).alias("n")).collect()
assert [r["n"] for r in n] == [1, 0], n
print("OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0 and "OK" in out.stdout, out.stderr[-2000:]


def test_compile_cache_is_in_process_only(tmp_path):
    """Compiled Columns are cached in the process and nowhere else: a
    second compile of a static ruleset and of a validate_json_variant
    ruleset reuses the first build's Column, the cached Columns still
    produce the right violations, and nothing is written to disk (HOME
    points at an empty dir, the default location of any user cache)."""
    import os
    import subprocess
    import sys

    code = """
from json_schema_py_spark.session import get_spark
from pyspark.sql import types as T
import pyspark.sql.functions as F
import json_schema_py_spark.schema.compiler as C
from json_schema_py_spark.plans.json_variant import validate_json_variant
s = get_spark(cpus=2, app_name="cache-in-process")
st = T.StructType([T.StructField("a", T.LongType()), T.StructField("s", T.StringType())])
schema = {"properties": {"a": {"minimum": 5}, "s": {"minLength": 2, "pattern": "^x"}},
          "required": ["a"]}
c = C.compile_ruleset(schema, st)
assert C.compile_ruleset(schema, st) is c
df = s.createDataFrame([(1, "xy"), (9, "q"), (None, None)], "a long, s string")
rows = df.select(F.transform(c, lambda v: v["rule_id"]).alias("r")).collect()
print("S:", [r["r"] for r in rows])
jdf = s.createDataFrame([(1, '{"a": 1}'), (2, '{"a": 9}'), (3, '{}')], "doc_id long, j string")
import json_schema_py_spark.plans.json_variant as JV
n = len(C._COMPILE_CACHE)
v1 = validate_json_variant(jdf, "j", schema).collect()
assert len(C._COMPILE_CACHE) == n + 1
def boom(*a, **k): raise AssertionError("second variant compile rebuilt")
JV.bind_variant = boom
v2 = validate_json_variant(jdf, "j", schema).collect()
assert len(C._COMPILE_CACHE) == n + 1 and v1 == v2
print("V:", sorted((r["doc_id"], r["rule_id"], r["path"]) for r in v2))
"""
    env = dict(os.environ, HOME=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    expect = "[['NUMBER_TOO_SMALL'], ['STRING_TOO_SHORT', 'PATTERN_MISMATCH'], ['REQUIRED_PROPERTY_MISSING']]"
    assert f"S: {expect}" in out.stdout, out.stdout
    expect_v = "[(1, 'NUMBER_TOO_SMALL', '/a'), (3, 'REQUIRED_PROPERTY_MISSING', '/a')]"
    assert f"V: {expect_v}" in out.stdout, out.stdout
    assert list(tmp_path.iterdir()) == [], list(tmp_path.rglob("*"))


def _compiles(spark) -> int:
    """Generated classes this JVM has compiled so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_plan_compiles_no_new_code(spark, tmp_path):
    """A plan run again in this process compiles no new generated class:
    Spark's codegen cache holds the engine's working set, so the second
    write of the same curation plan (perplexity gate, as the benchmark runs
    it) and of the same validation rules frame reuses every class the
    first write compiled."""
    from json_schema_py_spark.operators.lm import train_bigram_lm
    from json_schema_py_spark.plans.curation import curate_documents
    from json_schema_py_spark.plans.validation import run_validation
    from json_schema_py_spark.sources.synth import (
        DOCUMENTS_RULESET,
        MEDIA_DEPENDENCY_RULESET,
        spans_documents,
    )

    docs_path = f"{SF}/documents.parquet"
    lm = []
    for name, df in zip(("vocab", "unigrams", "bigrams"),
                        train_bigram_lm(spark.read.parquet(docs_path), vocab_size=500)):
        df.write.parquet(str(tmp_path / name))
        lm.append(spark.read.parquet(str(tmp_path / name)))

    def curate():
        curate_documents(
            spark.read.parquet(docs_path), min_tokens=15, max_tokens=200,
            lm=tuple(lm), max_perplexity=250.0,
        ).write.mode("overwrite").parquet(str(tmp_path / "verdicts"))
        spark.catalog.clearCache()  # release the staged persist

    def validate():
        run_validation(
            spans_documents(spark, SF, include_source_file=True),
            {"structural": DOCUMENTS_RULESET, "media_dep": MEDIA_DEPENDENCY_RULESET},
            unique_key=None, partition_key="_source_file",
        ).rules.write.format("noop").mode("overwrite").save()

    for name, write in (("curation", curate), ("validation", validate)):
        write()
        before = _compiles(spark)
        write()
        assert _compiles(spark) - before == 0, name


def test_job_session_applies_only_the_codegen_cache_size():
    """With no session running, the deployed job's session carries the
    engine's codegen cache size and leaves master, memory and partition
    settings to spark-submit; asked again inside that running session it
    returns it unchanged and logs nothing."""
    import os
    import subprocess
    import sys

    code = """
from json_schema_py_spark.session import CODEGEN_CACHE_CONF, CODEGEN_CACHE_ENTRIES, job_session
s = job_session("job")
s.sparkContext.setLogLevel("WARN")
print("CACHE:", s.conf.get(CODEGEN_CACHE_CONF), CODEGEN_CACHE_ENTRIES)
print("SHUFFLE:", s.conf.get("spark.sql.shuffle.partitions"))
again = job_session("other")
assert again is s and s.sparkContext.appName == "job"
print("OK")
"""
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS="--master local[1] pyspark-shell")
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300, env=env,
    )
    assert out.returncode == 0 and "OK" in out.stdout, out.stderr[-3000:]
    cache = next(x for x in out.stdout.splitlines() if x.startswith("CACHE:")).split()
    assert cache[1] == cache[2], cache
    assert "SHUFFLE: 200" in out.stdout, out.stdout  # Spark's default, not get_spark's
    assert "Using an existing Spark session" not in out.stderr, out.stderr[-3000:]


def _with_auto_broadcast_off(spark):
    """Context manager: disable the size-threshold auto-broadcast so the
    only BroadcastHashJoins left in a plan are explicitly hinted ones."""
    import contextlib

    @contextlib.contextmanager
    def ctx():
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    return ctx()


def test_tfidf_df_table_is_not_force_broadcast(spark):
    """Round-6 (VERDICT r05 item 2): the document-frequency table is the
    CORPUS VOCABULARY (10^8-10^9 terms at web scale) — it must reach the
    tf frame via a shuffle join, not a forced broadcast. With the
    threshold off, the only broadcast left is the 1-row corpus-size
    aggregate (hinted, genuinely bounded)."""
    from json_schema_py_spark.operators.keywords import tfidf_top_terms

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with _with_auto_broadcast_off(spark):
        plan = _physical(tfidf_top_terms(docs.select("doc_id", "text"), k=3))
    assert "SortMergeJoin" in plan, "df join must survive without broadcast"
    assert "BroadcastHashJoin" not in plan, "no equi-join may be force-broadcast"


def test_lm_bigram_table_is_not_force_broadcast(spark):
    """Round-6 (VERDICT r05 item 2): score_perplexity's bigram table is
    bounded by observed corpus bigrams (up to V^2) — shuffle join on
    (w, w2). The vocab and unigram tables (≤ V rows by construction) stay
    hinted broadcasts."""
    from json_schema_py_spark.operators.lm import score_perplexity, train_bigram_lm

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    vocab, uni, bi = train_bigram_lm(d, vocab_size=50)
    with _with_auto_broadcast_off(spark):
        plan = _physical(score_perplexity(d, vocab, uni, bi))
    assert "SortMergeJoin" in plan, "bigram join must survive without broadcast"
    # the hinted vocab/unigram broadcasts remain
    assert "BroadcastHashJoin" in plan
    # and the bigram join keys really are the shuffle-join keys
    smj_lines = [l for l in plan.splitlines() if "SortMergeJoin" in l]
    assert any("w2" in l for l in smj_lines), smj_lines


def test_lm_vocab_topk_is_two_stage(spark):
    """Round-6 (VERDICT r05 item 3): the vocab ranking must pre-filter
    per-partition (local top-k keyed by spark_partition_id) so the global
    rank sorts bounded survivors, never the full distinct-token table
    through one task."""
    from json_schema_py_spark.operators.lm import train_bigram_lm

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    vocab, _, _ = train_bigram_lm(d, vocab_size=50)
    plan = _physical(vocab)
    assert "hashpartitioning(_pid" in plan, "local-rank stage must shuffle by _pid"
    # the VERDICT r05 criterion verbatim: no single-partition Exchange —
    # Catalyst turns the bounded-survivor global rank into a distributed
    # TakeOrderedAndProject (per-partition top-k + merge), and
    # WindowGroupLimit caps rows BEFORE the _pid exchange too
    assert "SinglePartition" not in plan, "full-table single-task sort is back"
    assert "TakeOrderedAndProject" in plan
    assert "WindowGroupLimit" in plan


def test_curation_drop_lists_are_not_force_broadcast(spark):
    """Round-6 (VERDICT r05 item 2): the exact-dup and combined drop lists
    are corpus-sized in the worst case — both re-attach joins (anti +
    final left) must survive with the auto-broadcast threshold off."""
    from json_schema_py_spark.plans.curation import curate_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet").where(F.col("doc_id") < 200)
    with _with_auto_broadcast_off(spark):
        plan = _physical(
            curate_documents(docs, min_tokens=5, max_tokens=500, lang=None,
                             persist_intermediates=False)
        )
    anti_lines = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert anti_lines, "expected the exact-drop anti-join in the plan"
    for l in anti_lines:
        assert "Broadcast" not in l, f"anti-join must not broadcast: {l}"
    # the final reason join (LeftOuter on doc_id) must also be shuffle-based
    outer_lines = [l for l in plan.splitlines() if "LeftOuter" in l]
    assert outer_lines, "expected the final reason join in the plan"
    for l in outer_lines:
        assert "Broadcast" not in l, f"reason join must not broadcast: {l}"


def test_classifier_weights_table_is_not_force_broadcast(spark):
    """Round-6: score_quality's weights table is the TRAINING vocabulary —
    small for curated seed sets, but nothing bounds it structurally, so it
    must reach the token stream via a plain shuffle join (Spark's size
    threshold auto-broadcasts genuinely small models). The only hinted
    broadcast is the 1-row bias frame."""
    from json_schema_py_spark.operators.classifier import (
        score_quality,
        train_nb_classifier,
    )

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text",
                F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"))
    )
    w, b = train_nb_classifier(docs)
    with _with_auto_broadcast_off(spark):
        plan = _physical(score_quality(docs, w, b))
    assert "SortMergeJoin" in plan, "weights join must survive without broadcast"
    # exactly the hinted 1-row bias/totals broadcasts remain — no
    # BroadcastHashJoin on an unbounded table (bias attaches via a
    # broadcast nested loop over 1 row)
    for l in plan.splitlines():
        if "BroadcastHashJoin" in l:
            raise AssertionError(f"no equi-join may be force-broadcast: {l}")


def test_substring_hot_table_is_not_force_broadcast(spark):
    """Round-6: the hot-shingle table is bounded only by the repetition
    profile of the corpus — shuffle joins everywhere, and the corpus count
    pass must be ONE map-side-combinable aggregate."""
    from json_schema_py_spark.operators.substring import (
        hot_ngrams,
        strip_duplicate_ngrams,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    hot = hot_ngrams(docs, k=8, min_count=2)
    hot_plan = _physical(hot)
    # occurrences are counted as a sum of text-unit weights
    assert "partial_sum" in hot_plan, "hot count must map-side combine"
    with _with_auto_broadcast_off(spark):
        plan = _physical(strip_duplicate_ngrams(docs, hot, k=8))
    assert "SortMergeJoin" in plan, "hot joins must survive without broadcast"
    assert "BroadcastHashJoin" not in plan


def test_uniqueness_violation_join_is_not_force_broadcast(spark):
    """Round-7 (VERDICT r06 item 3): the duplicate-key set is corpus-scale
    on a heavily-duplicated corpus — the join back onto the table must
    survive without a forced broadcast; AQE auto-broadcasts small sets."""
    from json_schema_py_spark.operators.uniqueness import uniqueness_violations

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    dup = docs.select("doc_id").unionByName(
        docs.select("doc_id").limit(5)
    )
    with _with_auto_broadcast_off(spark):
        plan = _physical(uniqueness_violations(dup, "doc_id"))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan, "no equi-join may be force-broadcast"
