"""Seeded input generators for the benchmark.

Pure Python + pyarrow: no Spark, so generation never shares a process or a
clock with the program under test. Every generator is a function of
``(seed, size)`` only; the same arguments give byte-identical parquet.

* ``repo_rows`` — the engine's input shape ``(repo, path, commit, lang,
  content)``: sentence-structured prose over a Zipf-weighted vocabulary,
  a 60x-long document every 97th row (the skew path), exact duplicate
  rows and empty rows (so ``docs_clean``'s drops are exercised, not hidden).
* ``neardup_rows`` — the shape of ``tools/gen_sf_synth.gen_documents``
  ``(doc_id, text, lang, source, n_chars)``: 30-word vocabulary, 7-88
  words per document, a one-word-edit near-duplicate every 20th row and an
  exact duplicate every 625th row, plus the seed.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Fixed vocabulary (independent of the seed, so a seed changes WHICH words
# appear where, never the language). Nouns are built from syllables so the
# candidate miner sees a few hundred distinct terms, not a handful.
_SYLL = ["car", "fre", "lo", "gis", "ti", "port", "ma", "hub", "con", "tain",
         "net", "ro", "ute", "ship", "ment", "dock", "air", "way", "sta", "ter"]
NOUNS = sorted({a + b for a in _SYLL for b in _SYLL if a != b})[:240]
ADJS = ["global", "regional", "digital", "seasonal", "critical", "modular",
        "central", "annual", "electric", "massive", "fragile", "national"]
VERBS = ["moved", "carried", "launched", "handles", "offers", "expanded",
         "provides", "signed", "operates", "added"]
LANGS = ["py", "java", "js", "go", "md"]
DUP_BODY = "duplicate body duplicate body duplicate body."

NEARDUP_VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]

GIANT_EVERY = 97
GIANT_FACTOR = 60
DUP_EVERY = 13
EMPTY_EVERY = 29


def _sentence(rng: random.Random, topic: list[str], weights: list[float]) -> str:
    def noun() -> str:
        return rng.choices(topic, weights)[0]

    head = noun() if rng.random() < 0.6 else f"{rng.choice(ADJS)} {noun()}"
    return (f"The {head} {noun()} {rng.choice(VERBS)} {noun()} "
            f"to the {noun()} {noun()}.")


def repo_rows(seed: int, n_docs: int, words_per_doc: int = 200) -> list[dict]:
    """Rows of the repository corpus; see the module docstring."""
    rng = random.Random(f"repo:{seed}")
    sents_per_doc = max(1, words_per_doc // 10)
    weights = [1.0 / (k + 1) for k in range(30)]  # Zipf over a document's topic
    rows = []
    for i in range(n_docs):
        lang = LANGS[rng.randrange(len(LANGS))]
        repo = f"org/repo-{rng.randrange(20):05d}"
        path = f"src/pkg/mod_{i}.{lang}"
        # each document draws from its own 30-noun topic so tf-idf has
        # both document-specific and corpus-wide terms to rank
        topic = rng.sample(NOUNS, 30)
        n_sents = sents_per_doc * (GIANT_FACTOR if i % GIANT_EVERY == 7 else 1)
        content = " ".join(_sentence(rng, topic, weights) for _ in range(n_sents))
        if i % EMPTY_EVERY == 3:
            content = ""
        if i % DUP_EVERY == 5:
            repo, path, content = "org/repo-00000", "src/pkg/dup.py", DUP_BODY
        commit = hashlib.sha1(f"{repo}@{path}:{seed}".encode()).hexdigest()
        rows.append({"repo": repo, "path": path, "commit": commit,
                     "lang": lang, "content": content})
    return rows


def neardup_rows(seed: int, n_docs: int) -> list[dict]:
    """Rows of the near-duplicate corpus; see the module docstring."""
    rng = random.Random(f"neardup:{seed}")
    texts: list[list[str]] = []
    rows = []
    for i in range(n_docs):
        if i > 0 and i % 625 == 13:
            words = list(texts[i - 1])
        elif i > 0 and i % 20 == 1:
            words = list(texts[i - 1])
            words[rng.randrange(len(words))] = "dup"
        else:
            words = [rng.choice(NEARDUP_VOCAB) for _ in range(rng.randint(7, 88))]
        texts.append(words)
        text = " ".join(words)
        rows.append({"doc_id": i, "text": text, "lang": "en",
                     "source": f"src{rng.randrange(20)}", "n_chars": len(text)})
    return rows


def write_parquet(rows: list[dict], out_dir: str, n_files: int) -> None:
    """Write ``rows`` as ``n_files`` parquet files of one row group each
    (``n_files=1`` is the unsplittable single-row-group layout)."""
    os.makedirs(out_dir, exist_ok=True)
    if len(rows) < n_files:
        raise ValueError(f"{len(rows)} rows cannot fill {n_files} files")
    for f in range(n_files):
        part = rows[f * len(rows) // n_files:(f + 1) * len(rows) // n_files]
        table = pa.Table.from_pylist(part)
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"),
                       row_group_size=max(1, len(part)))
