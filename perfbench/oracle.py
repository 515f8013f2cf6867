"""Correctness oracles: expected outputs recomputed with DuckDB, and the
per-pass checks that compare a pass's output files against them.

Nothing here imports Spark or the program under test. The curation oracle
mirrors the ``q_curation`` and ``q_lm_perplexity`` oracle SQL of
``__spark_entry__.py`` (tokens, stopword ratio, normalized-text md5, the
top-k vocabulary, add-1 bigram perplexity) minus their O(n^2) near-duplicate
stage. Near-duplicate verdicts are checked instead against the planted
pairs, with a brute-force Jaccard search for any verdict the plants do not
explain.

Every check returns a list of failure strings; an empty list is a pass.
"""

from __future__ import annotations

import os
import re

import duckdb

STOPW = "['the','a','an','of','to','and','in','is','it','for']"
TOKS = "list_filter(string_split(text, ' '), t -> t <> '')"
NORM_FP = (
    "md5(trim(regexp_replace(regexp_replace(lower(text), "
    "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))"
)
SHINGLES = (
    f"list_distinct([array_to_string({TOKS}[i:i+2], ' ') "
    f"for i in range(1, greatest(len({TOKS}) - 1, 1))])"
)
RECALL_FLOOR = 0.85
# a near-duplicate verdict the plants do not explain is searched for by
# brute force; more than this many means the check itself fails
MAX_UNEXPLAINED = 50

# plant residue (doc_id % 101) -> the per-row rule it must trigger once
# (json_schema_py_spark/sources/synth.py)
PLANTS = {
    1: "NUMBER_TOO_SMALL",
    2: "ENUM_MISMATCH",
    3: "PATTERN_MISMATCH",
    4: "ARRAY_TOO_SHORT",
    5: "ARRAY_ITEMS_NOT_UNIQUE",
    6: "ANY_OF_NO_MATCH",
    7: "STRING_TOO_SHORT",
    8: "REQUIRED_PROPERTY_MISSING",
}


def _pq(path: str) -> str:
    """A read_parquet() source for a file or a Spark output directory."""
    if os.path.isdir(path):
        path = os.path.join(path, "*.parquet")
    return f"read_parquet('{path}')"


def _residue_count(n: int, k: int) -> int:
    """#ids in 0..n-1 with id % 101 == k."""
    return n // 101 + (1 if k < n % 101 else 0)


# --------------------------------------------------------------- validate_job

def validate_expectations(n_docs: int) -> dict:
    """Closed-form outputs of one validation-job pass over ids 0..n-1."""
    per_rule = {code: _residue_count(n_docs, k) for k, code in PLANTS.items()}
    # plant 9 copies row i-2's doc_id (two rows per duplicated key),
    # plant 10 carries a ghost media_ref (one FK miss)
    cross = 2 * _residue_count(n_docs, 9) + _residue_count(n_docs, 10)
    return {
        "n_docs": n_docs,
        "per_rule": per_rule,
        "per_row": sum(per_rule.values()),
        "cross_row": cross,
        "drift": 0,
    }


_CLOSING = re.compile(r"violations so far: (\d+) per-row \+ (\d+) cross-row \+ (\d+) drift")


def check_validate(out_dir: str, run_id: str, job_stdout: str, exp: dict) -> list[str]:
    fails: list[str] = []
    con = duckdb.connect()
    got = dict(con.sql(
        f"SELECT rule_id, count(*) FROM {_pq(out_dir + '/violations')} GROUP BY 1"
    ).fetchall())
    if got != exp["per_rule"]:
        fails.append(f"per-row rule counts {got} != {exp['per_rule']}")
    n_cross = con.sql(f"SELECT count(*) FROM {_pq(out_dir + '/violations_cross')}").fetchone()[0]
    if n_cross != exp["cross_row"]:
        fails.append(f"cross-row rows {n_cross} != {exp['cross_row']}")
    n_drift = con.sql(f"SELECT count(*) FROM {_pq(out_dir + '/violations_drift')}").fetchone()[0]
    if n_drift != exp["drift"]:
        fails.append(f"drift rows {n_drift} != {exp['drift']}")
    docs, viols, bad_pass = con.sql(
        f"SELECT sum(docs), sum(violations), "
        f"count(*) FILTER (WHERE pass <> (violations = 0)) "
        f"FROM {_pq(out_dir + '/lineage')} WHERE run_id = '{run_id}'"
    ).fetchone()
    if docs != exp["n_docs"]:
        fails.append(f"verdict docs {docs} != {exp['n_docs']}")
    if viols != exp["per_row"]:
        fails.append(f"verdict violations {viols} != {exp['per_row']}")
    if bad_pass:
        fails.append(f"{bad_pass} verdict rows whose pass flag contradicts their violations")
    if "identical=True" not in job_stdout:
        fails.append("streaming drift arm did not print identical=True")
    m = _CLOSING.search(job_stdout)
    want = (exp["per_row"], exp["cross_row"], exp["drift"])
    if not m or tuple(int(x) for x in m.groups()) != want:
        fails.append(f"closing line {m.group(0) if m else None!r} != counts {want}")
    return fails


# ------------------------------------------------------------------- curation

def _lm_perplexity_sql(docs: str, ref: str, vocab_size: int) -> str:
    """(doc_id, ppl) for every doc with >= 2 tokens: add-1 bigram
    perplexity under the LM trained on ``ref`` (q_lm_perplexity mirror,
    with LEFT unigram lookups because scored tokens may be out of the
    training vocabulary). Tokens are unnested with their position and
    OOV-mapped by a join, so the cost is linear in the token count."""
    def mapped(src: str) -> str:
        return f"""
SELECT u.doc_id, u.pos, CASE WHEN voc.tok IS NULL THEN '<unk>' ELSE u.tok END AS w
FROM (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
      FROM (SELECT doc_id, {TOKS} AS l FROM {src})) u
LEFT JOIN voc ON voc.tok = u.tok"""

    def bigrams(src: str) -> str:
        return f"""
SELECT a.doc_id, a.w AS w1, b.w AS w2 FROM {src} a
JOIN {src} b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1"""

    return f"""
WITH cnt AS (
  SELECT tok, count(*) AS c
  FROM (SELECT unnest({TOKS}) AS tok FROM {ref}) GROUP BY 1
),
voc AS (SELECT tok FROM (
  SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS rk FROM cnt
) WHERE rk <= {vocab_size}),
rm AS ({mapped(ref)}),
uni AS (SELECT w, count(*) AS c1 FROM rm GROUP BY 1),
vt AS (SELECT count(*) AS v FROM uni),
bic AS (SELECT w1, w2, count(*) AS c2 FROM ({bigrams('rm')}) GROUP BY 1, 2),
dm AS ({mapped(docs)}),
sc AS (
  SELECT g.doc_id,
    ln((coalesce(bic.c2, 0) + 1.0) / (coalesce(uni.c1, 0) + 1.0 * vt.v)) AS lp
  FROM ({bigrams('dm')}) g
  LEFT JOIN bic ON bic.w1 = g.w1 AND bic.w2 = g.w2
  LEFT JOIN uni ON uni.w = g.w1, vt
)
SELECT doc_id, round(exp(-sum(lp) / count(*)), 6) AS ppl FROM sc GROUP BY 1
"""


def curation_expectations(in_dir: str, params: dict, out_path: str) -> dict:
    """Write ``out_path`` (doc_id, exp_reason) — the expected reason of every
    doc that the quality gates or exact dedup drop, NULL for the dedup
    corpus — plus ``<out_path>.pairs.parquet``, the planted near-duplicate
    pairs between dedup-corpus docs with their exact shingle Jaccard.
    Returns summary counts."""
    con = duckdb.connect()
    docs = _pq(os.path.join(in_dir, "documents.parquet"))
    ref = _pq(os.path.join(in_dir, "reference.parquet"))
    thr = params["max_perplexity"]
    con.sql(f"CREATE TABLE ppl AS {_lm_perplexity_sql(docs, ref, params['vocab_size'])}")
    close = con.sql(
        f"SELECT count(*) FROM ppl WHERE abs(ppl - {thr}) < 1e-6 * {thr}"
    ).fetchone()[0]
    if close:
        raise RuntimeError(f"{close} docs sit on the perplexity threshold; change the generator")
    con.sql(f"""
CREATE TABLE staged AS
WITH q AS (
  SELECT doc_id, len({TOKS}) AS ntok,
    CASE WHEN len({TOKS}) > 0
      THEN len(list_filter({TOKS}, t -> list_contains({STOPW}, lower(t))))::DOUBLE / len({TOKS})
      ELSE 0.0 END AS swr,
    {NORM_FP} AS fp
  FROM {docs}
)
SELECT q.doc_id, q.fp, CASE
    WHEN ntok < {params['min_tokens']} THEN 'too_short'
    WHEN ntok > {params['max_tokens']} THEN 'too_long'
    WHEN swr < 0.03 THEN 'lang_mismatch'
    WHEN ppl.ppl > {thr} THEN 'high_perplexity'
  END AS qreason
FROM q LEFT JOIN ppl USING (doc_id)
""")
    con.sql(f"""
COPY (
  SELECT doc_id, coalesce(qreason, CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY fp)
                                        THEN 'exact_duplicate' END) AS exp_reason
  FROM staged
) TO '{out_path}' (FORMAT parquet)
""")
    # planted pairs, lifted from text rows to the dedup-corpus doc that
    # carries each text (every copy of a text shares its verdict, and only
    # the smallest surviving id enters the dedup corpus)
    con.sql(f"""
COPY (
  WITH corpus AS (
    SELECT t.text_row, min(e.doc_id) AS doc_id
    FROM read_parquet('{out_path}') e
    JOIN {_pq(os.path.join(in_dir + '.truth', 'truth_docs.parquet'))} t USING (doc_id)
    WHERE e.exp_reason IS NULL GROUP BY 1
  ), sh AS (
    SELECT c.text_row, c.doc_id, {SHINGLES} AS sh
    FROM corpus c JOIN {docs} d USING (doc_id)
  ), p AS (
    SELECT least(a.doc_id, b.doc_id) AS id_lo, greatest(a.doc_id, b.doc_id) AS id_hi,
      len(list_intersect(a.sh, b.sh))::DOUBLE
        / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM {_pq(os.path.join(in_dir + '.truth', 'truth_pairs.parquet'))} tp
    JOIN sh a ON a.text_row = tp.src_row
    JOIN sh b ON b.text_row = tp.dup_row
  )
  SELECT * FROM p
) TO '{out_path}.pairs.parquet' (FORMAT parquet)
""")
    counts = dict(con.sql(
        f"SELECT coalesce(exp_reason, 'dedup_corpus'), count(*) FROM read_parquet('{out_path}') GROUP BY 1"
    ).fetchall())
    counts["planted_pairs_ge_threshold"] = con.sql(
        f"SELECT count(*) FROM read_parquet('{out_path}.pairs.parquet') "
        f"WHERE jaccard >= {params['near_dup_threshold']}"
    ).fetchone()[0]
    return counts


def check_curation(out_dir: str, in_dir: str, exp_path: str, params: dict) -> list[str]:
    fails: list[str] = []
    con = duckdb.connect()
    con.sql(f"CREATE VIEW o AS SELECT * FROM {_pq(out_dir)}")
    con.sql(f"CREATE VIEW e AS SELECT * FROM read_parquet('{exp_path}')")
    n_in = con.sql("SELECT count(*) FROM e").fetchone()[0]
    n_out, n_ids = con.sql("SELECT count(*), count(DISTINCT doc_id) FROM o").fetchone()
    missing = con.sql("SELECT count(*) FROM e ANTI JOIN o USING (doc_id)").fetchone()[0]
    if n_out != n_in or n_ids != n_in or missing:
        fails.append(f"{n_out} output rows / {n_ids} ids / {missing} missing for {n_in} input docs")
    bad_keep = con.sql("SELECT count(*) FROM o WHERE keep IS DISTINCT FROM (reason = 'kept')").fetchone()[0]
    if bad_keep:
        fails.append(f"{bad_keep} rows whose keep flag contradicts their reason")
    wrong = con.sql("""
SELECT coalesce(e.exp_reason, 'dedup_corpus') AS want, o.reason AS got, count(*)
FROM e JOIN o USING (doc_id)
WHERE (e.exp_reason IS NOT NULL AND o.reason IS DISTINCT FROM e.exp_reason)
   OR (e.exp_reason IS NULL AND o.reason NOT IN ('kept', 'near_duplicate'))
GROUP BY 1, 2 ORDER BY 3 DESC LIMIT 5
""").fetchall()
    if wrong:
        fails.append(f"reasons differ from the oracle (want, got, docs): {wrong}")
    thr = params["near_dup_threshold"]
    con.sql(f"CREATE VIEW pp AS SELECT * FROM read_parquet('{exp_path}.pairs.parquet') WHERE jaccard >= {thr}")
    planted, found = con.sql("""
SELECT count(*), count(*) FILTER (WHERE o.reason = 'near_duplicate')
FROM pp JOIN o ON o.doc_id = pp.id_hi
""").fetchone()
    if planted and found / planted < RECALL_FLOOR:
        fails.append(f"near-duplicate recall {found}/{planted} below {RECALL_FLOOR}")
    unexplained = [r[0] for r in con.sql("""
SELECT o.doc_id FROM o WHERE o.reason = 'near_duplicate'
  AND o.doc_id NOT IN (SELECT id_hi FROM pp)
""").fetchall()]
    if len(unexplained) > MAX_UNEXPLAINED:
        fails.append(f"{len(unexplained)} near-duplicate verdicts without a planted partner")
    elif unexplained:
        docs = _pq(os.path.join(in_dir, "documents.parquet"))
        no_partner = con.sql(f"""
WITH corpus AS (
  SELECT d.doc_id, {SHINGLES} AS sh FROM {docs} d JOIN e USING (doc_id)
  WHERE e.exp_reason IS NULL
), probe AS (SELECT * FROM corpus WHERE doc_id IN ({','.join(map(str, unexplained))}))
SELECT p.doc_id FROM probe p
EXCEPT
SELECT p.doc_id FROM probe p JOIN corpus c ON c.doc_id < p.doc_id
WHERE len(list_intersect(c.sh, p.sh))::DOUBLE
      / len(list_distinct(list_concat(c.sh, p.sh))) >= {thr}
""").fetchall()
        if no_partner:
            fails.append(f"near-duplicate docs without a Jaccard >= {thr} partner: {no_partner[:5]}")
    return fails
