"""Seeded input generation for the benchmark workloads.

Everything here is numpy + pyarrow: no Spark, no repo code. The program
under test only ever sees the parquet files this module writes.

Text model: a fixed 300-word vocabulary (290 content words plus the
engine's ten stopwords) and a fixed Markov chain over it, so documents
look like one language and a bigram LM trained on a reference sample
scores them low. Gibberish documents draw from a disjoint out-of-vocabulary
pool (with enough stopwords to pass the language gate), so the perplexity
gate is what drops them.

Curation corpora mix, per distinct text:
  * ~3% short docs (< MIN_TOKENS tokens) and ~2% long ones (> MAX_TOKENS);
  * ~2% exact copies of an earlier normal doc;
  * ~2% one-token near-duplicates of an earlier normal doc;
  * ~3% gibberish.
``curate_dup`` takes N/8 such texts and gives each of them 8 ids. Ids are
a seeded permutation, so a copy is as likely to carry the smaller id as
its source.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ("the", "a", "an", "of", "to", "and", "in", "is", "it", "for")
N_CONTENT = 290
N_SUCC = 6
SUCC_P = np.array([0.4, 0.25, 0.15, 0.1, 0.06, 0.04])
P_STOP = 0.12
MIN_TOKENS = 15
MAX_TOKENS = 200
REF_DOCS = 5000  # LM training sample, the size of the sf0.1 documents table
DUP_FACTOR = 8
# bump when the generated corpora change: it is part of the cache key
GEN_VERSION = 1

_SYL = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "de")


def _language():
    """(words, successor table, oov pool): fixed across seeds."""
    rng = np.random.default_rng(20240601)
    content: list[str] = []
    seen = set(STOPWORDS)
    while len(content) < N_CONTENT:
        w = "".join(rng.choice(_SYL, size=int(rng.integers(2, 4))))
        if w not in seen:
            seen.add(w)
            content.append(w)
    words = np.array(list(STOPWORDS) + content, dtype=object)
    succ = rng.integers(len(STOPWORDS), len(words), size=(len(words), N_SUCC))
    letters = np.array(list("bcfghjkmwxyz"))
    oov = set()
    while len(oov) < 2000:
        w = "".join(rng.choice(letters, size=7))
        if w not in seen:
            oov.add(w)
    return words, succ, np.array(sorted(oov), dtype=object)


WORDS, SUCC, OOV = _language()


def _markov_docs(rng, lengths: np.ndarray) -> list[str]:
    n, t_max = len(lengths), int(lengths.max(initial=1))
    toks = np.empty((n, t_max), dtype=np.int64)
    state = rng.integers(len(STOPWORDS), len(WORDS), size=n)
    content_state = state.copy()
    for t in range(t_max):
        stop = rng.random(n) < P_STOP
        pick = rng.choice(N_SUCC, size=n, p=SUCC_P)
        nxt = SUCC[content_state, pick]
        state = np.where(stop, rng.integers(0, len(STOPWORDS), size=n), nxt)
        content_state = np.where(stop, content_state, state)
        toks[:, t] = state
    return [" ".join(WORDS[toks[i, : lengths[i]]]) for i in range(n)]


def _gibberish(rng, length: int) -> str:
    toks = rng.choice(OOV, size=length).astype(object)
    stop = rng.random(length) < 0.1
    toks[stop] = rng.choice(np.array(STOPWORDS, dtype=object), size=int(stop.sum()))
    return " ".join(toks)


def _lengths(rng, n: int) -> np.ndarray:
    ln = np.clip(np.rint(np.exp(rng.normal(np.log(50), 0.45, size=n))), MIN_TOKENS, MAX_TOKENS)
    u = rng.random(n)
    ln = np.where(u < 0.03, rng.integers(3, MIN_TOKENS, size=n), ln)
    ln = np.where((u >= 0.03) & (u < 0.05), rng.integers(MAX_TOKENS + 1, 300, size=n), ln)
    return ln.astype(np.int64)


def _distinct_texts(rng, m: int):
    """m texts plus truth: kind per text and (src, dup) near-dup pairs."""
    lengths = _lengths(rng, m)
    texts = _markov_docs(rng, lengths)
    kind = np.array(["normal"] * m, dtype=object)
    u = rng.random(m)
    normal_len = (lengths >= MIN_TOKENS) & (lengths <= MAX_TOKENS)
    pairs = []
    for i in range(1, m):
        if u[i] < 0.02:
            j = int(rng.integers(0, i))
            texts[i] = texts[j]
            kind[i] = "exact_copy"
        elif u[i] < 0.04:
            j = int(rng.integers(0, i))
            if kind[j] != "normal" or not normal_len[j]:
                continue
            toks = texts[j].split(" ")
            p = int(rng.integers(0, len(toks)))
            repl = toks[p]
            while repl == toks[p]:
                repl = WORDS[int(rng.integers(len(STOPWORDS), len(WORDS)))]
            toks[p] = repl
            texts[i] = " ".join(toks)
            kind[i] = "near_dup"
            pairs.append((j, i))
        elif u[i] < 0.07:
            texts[i] = _gibberish(rng, int(rng.integers(MIN_TOKENS + 5, 80)))
            kind[i] = "gibberish"
    return texts, kind, pairs


def _write(path: str, table: pa.Table, row_group: int) -> None:
    pq.write_table(table, path, row_group_size=max(row_group, 1), compression="snappy")


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _seed_for(workload: str, seed: int) -> np.random.Generator:
    tag = int.from_bytes(hashlib.sha256(f"{workload}:{seed}".encode()).digest()[:8], "little")
    return np.random.default_rng(tag)


def generate(workload: str, seed: int, n_docs: int, out_dir: str) -> dict:
    """Write the workload's program inputs under ``out_dir`` and the
    generator's truth under ``<out_dir>.truth``; return the meta record
    (sizes and sha256 of every file), also kept as ``<out_dir>.meta.json``.
    Idempotent per (workload, seed, size): complete outputs are reused."""
    meta_path = out_dir + ".meta.json"
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    tmp, truth = out_dir + ".tmp", out_dir + ".truth"
    for d in (tmp, truth):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    rng = _seed_for(workload, seed)
    row_group = max(n_docs // 16, 1)
    if workload == "validate_job":
        lengths = rng.integers(8, 40, size=n_docs)
        texts = _markov_docs(rng, lengths)
        docs = pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(["en", "fr", "zh"], size=n_docs)),
            "source": pa.array([f"src{i % 7}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
        _write(os.path.join(tmp, "documents.parquet"), docs, row_group)
    elif workload in ("curate_lowdup", "curate_dup"):
        copies = DUP_FACTOR if workload == "curate_dup" else 1
        m = n_docs // copies
        texts, kind, pairs = _distinct_texts(rng, m)
        rows = np.repeat(np.arange(m), copies)
        ids = rng.permutation(m * copies).astype(np.int64)
        order = np.argsort(ids)  # store rows in id order, like a table dump
        docs = pa.table({
            "doc_id": pa.array(ids[order]),
            "text": pa.array([texts[r] for r in rows[order]], pa.string()),
        })
        _write(os.path.join(tmp, "documents.parquet"), docs, row_group)
        truth_docs = pa.table({
            "doc_id": pa.array(ids[order]),
            "text_row": pa.array(rows[order].astype(np.int64)),
            "kind": pa.array(kind[rows[order]].tolist(), pa.string()),
        })
        _write(os.path.join(truth, "truth_docs.parquet"), truth_docs, row_group)
        src = np.array([p[0] for p in pairs], dtype=np.int64)
        dup = np.array([p[1] for p in pairs], dtype=np.int64)
        _write(os.path.join(truth, "truth_pairs.parquet"),
               pa.table({"src_row": pa.array(src), "dup_row": pa.array(dup)}), 1 << 20)
        ref_rng = _seed_for("lm_reference", seed)
        ref = _markov_docs(ref_rng, ref_rng.integers(20, 120, size=REF_DOCS))
        _write(os.path.join(tmp, "reference.parquet"), pa.table({
            "doc_id": pa.array(np.arange(REF_DOCS, dtype=np.int64)),
            "text": pa.array(ref, pa.string()),
        }), REF_DOCS)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    meta = {
        "workload": workload,
        "seed": seed,
        "n_docs": n_docs,
        "gen_version": GEN_VERSION,
        "sha256": {f: _sha256(os.path.join(tmp, f)) for f in sorted(os.listdir(tmp))},
    }
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    os.replace(meta_path + ".tmp", meta_path)
    return meta
