"""Training-data decontamination: flag corpus documents that overlap a
benchmark/evaluation set by shared word n-grams — the standard pretraining
hygiene pass (strip eval contamination before training).

Scale shape: the benchmark side is SMALL (eval suites are thousands of
items, the corpus is 10^12 docs), so the benchmark's exploded shingle set
broadcasts and the corpus NEVER shuffles — one scan, a broadcast hash join
per shingle, a partial-aggregated groupBy on (doc, bench) pairs whose
cardinality is bounded by actual contamination (rare by construction).
The corpus-side explode is the only row amplification (~tokens per doc),
all map-side.

PII scanning rides along (same per-doc projection family): pure-JVM
regexp_count per pattern class — no UDFs, no shuffle, prunes to the text
column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from json_schema_py_spark.functions.text import word_shingles
from json_schema_py_spark.util import ensure_parallelism


def _bench_shingles(
    benchmark: DataFrame,
    bench_text_col: str,
    bench_id_col: str,
    shingle_k: int,
    normalize: bool = False,
) -> DataFrame:
    return benchmark.select(
        F.col(bench_id_col).alias("bench_id"),
        F.explode(
            word_shingles(F.col(bench_text_col), shingle_k, normalize=normalize)
        ).alias("sh"),
    )


def _doc_shingles(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    normalize: bool = False,
) -> DataFrame:
    return ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            word_shingles(F.col(text_col), shingle_k, normalize=normalize)
        ).alias("sh"),
    )


def _shingle_hit_counts(doc_sh: DataFrame, bench_sh: DataFrame) -> DataFrame:
    """(sh, hits): corpus hit count per distinct benchmark shingle — ONE
    counting pipeline shared by the cap filter and the audit so the two
    can never count differently. Pass the SAME
    max_shingle_hits to contamination_hits and contamination_hot_shingles
    or the audit reports the wrong exclusion set."""
    return (
        doc_sh.join(F.broadcast(bench_sh.select("sh").distinct()), "sh")
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("hits"))
    )


def corpus_shingle_cms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 8,
    normalize: bool = False,
    width: int = 8192,
    depth: int = 3,
) -> DataFrame:
    """Count-min sketch over the corpus's per-doc DISTINCT word shingles —
    the REUSABLE corpus artifact behind CMS-filtered decontamination.
    Build it ONCE per corpus snapshot
    (one explode + one map-side-combinable groupBy, output bounded at
    depth×width rows no matter the corpus size), then screen EVERY eval
    suite against it via contamination_hits(shingle_cms=...) — the exact
    hot-shingle counting pass re-scans the corpus per benchmark, the
    sketch never does. Since word_shingles is distinct per doc, a
    shingle's sketch count estimates "number of corpus docs containing
    it" — the same quantity the exact cap filter counts."""
    doc_sh = _doc_shingles(docs, text_col, id_col, shingle_k, normalize)
    from json_schema_py_spark.operators.stats import cms_table

    return cms_table(doc_sh, "sh", width=width, depth=depth)


def contamination_hits(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
    shingle_k: int = 8,
    min_shared: int = 1,
    max_shingle_hits: int | None = None,
    normalize: bool = False,
    shingle_cms: DataFrame | None = None,
    cms_width: int | None = None,
    cms_depth: int | None = None,
) -> DataFrame:
    """(doc_id, bench_id, n_shared): corpus docs sharing ≥ ``min_shared``
    distinct word ``shingle_k``-grams with a benchmark item.

    ``shingle_k`` defaults to 8 — the usual decontamination window (a
    13-gram is common for exact-match decontamination; 8 is conservative
    for short eval items). word_shingles is distinct per side, so n_shared
    counts DISTINCT shared n-grams (set semantics, matching the DuckDB
    list_intersect oracle).

    SCALE CONTRACT (the family's bounded-work doctrine): a benchmark
    shingle that is COMMON in the corpus (boilerplate an eval item happens
    to quote) multiplies the join output by its corpus frequency.
    ``max_shingle_hits`` caps that: shingles matching more than the cap are
    EXCLUDED (join work ≤ matched-shingles × cap) at the cost of one extra
    corpus-side counting pass (map-side partial agg, output bounded by the
    broadcast shingle set). Audit the exclusions with
    contamination_hot_shingles — a dropped shingle usually IS boilerplate,
    but the audit lets a human confirm.

    ``normalize=True`` canonicalizes BOTH sides (lowercase, strip
    punctuation, collapse whitespace) before shingling — real
    decontamination (and the 13-gram convention) normalizes first, or a
    benchmark item quoted with different casing/punctuation escapes the
    scan entirely.

    ``shingle_cms`` (a corpus_shingle_cms frame built with matching
    shingle_k/normalize) replaces the exact hot-shingle counting pass —
    an extra corpus scan PER BENCHMARK — with point lookups against the
    bounded, reusable sketch. The sketch's width/depth ride along in its
    column metadata, so they normally need not (and should not) be
    repeated here; an explicit ``cms_width``/``cms_depth`` is
    cross-checked and a mismatch raises instead of silently estimating 0
    for every shingle. The swap
    is work-bound SAFE: CMS never undercounts, so est ≤ cap ⇒ true ≤ cap
    and every kept shingle is genuinely under the cap; overestimates can
    only exclude EXTRA borderline shingles (audit the delta with
    contamination_cms_overdrop). Requires ``max_shingle_hits``."""
    bench_sh = _bench_shingles(benchmark, bench_text_col, bench_id_col, shingle_k, normalize)
    doc_sh = _doc_shingles(docs, text_col, id_col, shingle_k, normalize)
    if shingle_cms is not None and max_shingle_hits is None:
        raise ValueError("shingle_cms requires max_shingle_hits (the cap it enforces)")
    if max_shingle_hits is not None:
        if shingle_cms is not None:
            from json_schema_py_spark.operators.stats import cms_estimates

            ok = (
                cms_estimates(
                    shingle_cms,
                    bench_sh.select("sh"),
                    query_col="sh",
                    width=cms_width,
                    depth=cms_depth,
                )
                .where(F.col("est") <= max_shingle_hits)
                .select(F.col("value").alias("sh"))
            )
        else:
            ok = (
                _shingle_hit_counts(doc_sh, bench_sh)
                .where(F.col("hits") <= max_shingle_hits)
                .select("sh")
            )
        bench_sh = bench_sh.join(F.broadcast(ok), "sh")
    return (
        doc_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def contamination_hot_shingles(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
    shingle_k: int = 8,
    max_shingle_hits: int = 10_000,
    normalize: bool = False,
) -> DataFrame:
    """(sh, hits) for every benchmark shingle contamination_hits would DROP
    at ``max_shingle_hits`` — the audit trail for the capped run (these are
    usually corpus boilerplate quoted by an eval item; review before
    trusting the capped hit list). ``normalize`` must match the
    contamination_hits call being audited."""
    bench_sh = _bench_shingles(benchmark, bench_text_col, bench_id_col, shingle_k, normalize)
    doc_sh = _doc_shingles(docs, text_col, id_col, shingle_k, normalize)
    return _shingle_hit_counts(doc_sh, bench_sh).where(
        F.col("hits") > max_shingle_hits
    )


def contamination_cms_overdrop(
    docs: DataFrame,
    benchmark: DataFrame,
    shingle_cms: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
    shingle_k: int = 8,
    max_shingle_hits: int = 10_000,
    normalize: bool = False,
    cms_width: int | None = None,
    cms_depth: int | None = None,
) -> DataFrame:
    """(sh, est, hits) — the CMS filter's FALSE exclusions: benchmark
    shingles dropped because their sketch estimate exceeds the cap while
    their EXACT corpus count is under it (hash-collision overestimates).
    The exact recount runs only over the dropped set, so the audit costs
    one pass bounded by (dropped shingles × their corpus frequency) —
    cheap when the filter is healthy, and exactly the rows a human needs
    when it isn't. Truly-hot shingles (exact count also over the cap)
    belong to contamination_hot_shingles' jurisdiction, not this audit."""
    bench_sh = _bench_shingles(benchmark, bench_text_col, bench_id_col, shingle_k, normalize)
    from json_schema_py_spark.operators.stats import cms_estimates

    dropped = (
        cms_estimates(
            shingle_cms, bench_sh.select("sh"), query_col="sh",
            width=cms_width, depth=cms_depth,
        )
        .where(F.col("est") > max_shingle_hits)
        .select(F.col("value").alias("sh"), "est")
    )
    doc_sh = _doc_shingles(docs, text_col, id_col, shingle_k, normalize)
    exact = _shingle_hit_counts(doc_sh, dropped)
    return (
        dropped.join(exact, "sh", "left")
        .select("sh", "est", F.coalesce(F.col("hits"), F.lit(0)).alias("hits"))
        .where(F.col("hits") <= max_shingle_hits)
    )


# --- PII scan -------------------------------------------------------------

# deliberately simple, deterministic patterns (shared verbatim with the
# DuckDB oracle): this is a SCANNER for triage/stats, not a redactor —
# production redaction plugs its own pattern pack into pii_scan(patterns=)
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "ssn_like": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_total_col(text_col: Column, patterns: dict[str, str] | None = None) -> Column:
    """Total PII occurrence count across pattern classes as ONE Column —
    the shared primitive behind pii_scan and curation's 'pii' drop reason
    (one definition so the two can never count differently)."""
    pats = PII_PATTERNS if patterns is None else patterns
    if not pats:
        raise ValueError("patterns must be non-empty (None selects the defaults)")
    total = None
    for p in pats.values():
        c = F.regexp_count(text_col, F.lit(p))
        total = c if total is None else total + c
    return total


def pii_scan(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """(doc_id, n_<class>..., pii_total) — occurrence counts per PII class
    via JVM-side regexp_count; one projection, no shuffle. ``patterns=None``
    selects PII_PATTERNS; an explicitly EMPTY dict is an error, never a
    silent fallback."""
    pats = PII_PATTERNS if patterns is None else patterns
    if not pats:
        raise ValueError("patterns must be non-empty (None selects the defaults)")
    counts: list[Column] = [
        F.regexp_count(F.col(text_col), F.lit(p)).alias(f"n_{name}")
        for name, p in pats.items()
    ]
    out = docs.select(F.col(id_col).alias("doc_id"), *counts)
    total = None
    for name in pats:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return out.withColumn("pii_total", total)


# --- URL / domain signals --------------------------------------------------

# host = dot-separated labels; a label never starts/ends with '.', so a
# sentence-final period after the URL is NOT swallowed into the domain
# ("https://spam.example. Next" → spam.example, not spam.example.): a
# trailing dot would split domain_counts and domain_cap buckets on prose
# corpora
_HOST = r"[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*"
URL_PATTERN = rf"https?://{_HOST}(?::[0-9]+)?(?:/[^\s]*)?"
_DOMAIN_FROM_URL = rf"https?://({_HOST})"


def url_domains(text_col: Column) -> Column:
    """Array of registrable-ish domains in the text: scheme-stripped host,
    lowercased, leading 'www.' removed (deterministic, no PSL dependency —
    a real pipeline swaps in a public-suffix list at the marked point)."""
    urls = F.regexp_extract_all(text_col, F.lit(URL_PATTERN), F.lit(0))
    return F.transform(
        urls,
        lambda u: F.regexp_replace(
            F.lower(F.regexp_extract(u, _DOMAIN_FROM_URL, 1)), "^www\\.", ""
        ),
    )


def domain_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(domain, n_docs, n_urls) — corpus-level domain frequency (the
    blocklist/mixture signal: 'how much of this corpus is domain X').
    One explode + one groupBy with map-side partial agg; n_docs counts
    DISTINCT docs per domain via a per-doc pre-distinct so the exploded
    rows are (doc, domain)-unique and the final agg needs no
    count-distinct shuffle."""
    per_doc = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(url_domains(F.col(text_col))).alias("domain"),
    )
    # one row per (doc, domain) with its in-doc url count: the groupBy
    # below then gets n_docs as a plain count and n_urls as a sum —
    # no expensive countDistinct over the full explode
    dedup = per_doc.groupBy("doc_id", "domain").agg(
        F.count(F.lit(1)).alias("_urls")
    )
    return dedup.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_urls").cast("long").alias("n_urls"),
    )


def domain_cap(
    docs: DataFrame,
    n_per_domain: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``n_per_domain`` documents per primary domain — the
    host-diversity cap of web-curation pipelines (C4/RefinedWeb-style:
    no single host dominates the training mix). A document's primary
    domain is the domain of its FIRST url (``url_domains`` order);
    documents citing no url are exempt (kept, NULL domain/rank).

    Returns one row per SURVIVING doc: (doc_id, domain,
    rank_in_domain) — capped docs are absent, exempt docs carry NULL
    domain and NULL rank. Keep rule is deterministic: lowest doc_id
    first within a domain.

    100 TB shape: ``row_number`` + ``rank <= n`` compiles to
    WindowGroupLimit with a PARTIAL limit below the exchange
    (plan-asserted), so each map partition ships at most n rows per
    domain — a hot host (the blogspot problem) costs n × input-partitions
    shuffle rows, not its full document count. NULL-domain docs NEVER
    enter the window: routed around it, because they would otherwise
    form one giant skew partition and be capped as a single bogus
    "domain". Reference analogue: none (north-rule curation addition).
    """
    if n_per_domain < 1:
        raise ValueError(f"n_per_domain must be >= 1, got {n_per_domain}")
    from pyspark.sql import Window

    base = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        # F.get = null-safe under ANSI (element_at throws on empty array)
        F.get(url_domains(F.col(text_col)), 0).alias("domain"),
    )
    w = Window.partitionBy("domain").orderBy(F.col("doc_id").asc())
    ranked = (
        base.where(F.col("domain").isNotNull())
        .withColumn("rank_in_domain", F.row_number().over(w))
        .where(F.col("rank_in_domain") <= n_per_domain)
    )
    exempt = base.where(F.col("domain").isNull()).select(
        "doc_id", "domain", F.lit(None).cast("int").alias("rank_in_domain")
    )
    return ranked.unionByName(exempt)
