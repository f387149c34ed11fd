"""NLP annotation stage: ``docs_clean -> sentences -> tokens``.

The reference runs a stanza pipeline per document (reference corpus.py:
227-232, 445-492: tokenize / POS / lemma, ``tokenize_no_ssplit=True`` after
nltk sentence split at corpus.py:513). Heavy NLP models are not available
in this environment and are not the point — the engine contract is the
*stage shape*: an Arrow-vectorized ``mapInPandas`` that turns 1 document
row into N token rows (UDTF-shaped), loading any per-worker state once per
partition, never per row.

The tagger here is a deterministic lexicon+suffix heuristic producing the
coarse tags the candidate grammar needs (NOUN/PROPN/ADJ/NUM vs rest, the
pke grammar ``{<NOUN|PROPN|NUM|ADJ>*<NOUN|PROPN>}`` — reference
main.py:99-102). Swapping in a real model is a 1-function change: replace
``_tag_batch`` and keep the schema.

Offsets are document-absolute character offsets (the reference keeps
sentence-relative ones, corpus.py:57-58; we keep absolute plus sentence
start so both are derivable).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .skew import widen

TOKENS_SCHEMA = (
    "doc_id string, sentence_id int, token_id int, word string, lemma string, "
    "pos string, offset_begin long, offset_end long, "
    "ner string, deprel string, deprel_head_id int"
)

_SENT_BREAK = re.compile(r"(?<=[.!?])\s+|\n+")
_TOKEN = re.compile(r"[A-Za-z0-9_]+|[^\sA-Za-z0-9_]")

_FUNCTION_WORDS = {
    "the": "DET", "a": "DET", "an": "DET", "this": "DET", "that": "DET",
    "of": "ADP", "in": "ADP", "on": "ADP", "at": "ADP", "to": "ADP",
    "for": "ADP", "with": "ADP", "from": "ADP", "by": "ADP", "as": "ADP",
    "and": "CCONJ", "or": "CCONJ", "but": "CCONJ",
    "is": "AUX", "are": "AUX", "was": "AUX", "were": "AUX", "be": "AUX",
    "has": "AUX", "have": "AUX", "had": "AUX", "will": "AUX", "would": "AUX",
    "it": "PRON", "its": "PRON", "they": "PRON", "their": "PRON", "we": "PRON",
    "not": "PART", "also": "ADV", "more": "ADV", "most": "ADV", "very": "ADV",
}

_VERBS = {
    "said", "says", "say", "announced", "launched", "launch", "operates",
    "operate", "carried", "carry", "carries", "moved", "move", "moves",
    "signed", "sign", "expanded", "expand", "added", "add", "adds",
    "handles", "handle", "handled", "provides", "provide", "provided",
    "offers", "offer", "offered", "increased", "increase", "grew", "grow",
    "run", "runs", "ran", "use", "uses", "used", "make", "makes", "made",
}

_ADJ_SUFFIX = ("ous", "ful", "ive", "able", "ible", "al", "ic", "ary", "less")


def _tag_word(word: str, is_sent_start: bool) -> str:
    lw = word.lower()
    if lw in _FUNCTION_WORDS:
        return _FUNCTION_WORDS[lw]
    if word.isdigit() or re.fullmatch(r"\d+(\.\d+)?", word):
        return "NUM"
    if not word[0].isalnum():
        return "PUNCT"
    if lw in _VERBS:
        return "VERB"
    if lw.endswith("ly"):
        return "ADV"
    if lw.endswith(_ADJ_SUFFIX):
        return "ADJ"
    if word[0].isupper() and not is_sent_start:
        return "PROPN"
    return "NOUN"


def _lemma(word: str, pos: str) -> str:
    lw = word.lower()
    if pos in ("NOUN", "PROPN") and len(lw) > 3 and lw.endswith("s") and not lw.endswith("ss"):
        return lw[:-1]
    return lw


# --- heuristic NER (stand-in for stanza NER, reference corpus.py:227-232;
# BIO tags with the types get_summary rolls up, corpus.py:603-620:
# ORG / PERSON / GPE / DATE / CARDINAL / FAC) -------------------------------

_MONTHS = {
    "january", "february", "march", "april", "may", "june", "july",
    "august", "september", "october", "november", "december",
    "monday", "tuesday", "wednesday", "thursday", "friday", "saturday",
    "sunday",
}
_ORG_SUFFIX = {
    "inc", "corp", "ltd", "llc", "plc", "group", "gmbh", "co", "company",
    "airlines", "airways", "cargo", "logistics", "express", "aviation",
    "freight", "airline", "forwarding", "shipping",
}
_FAC_SUFFIX = {
    "airport", "terminal", "station", "port", "hub", "tower", "bridge",
    "gateway", "facility", "warehouse",
}
_GPE = {
    "usa", "china", "germany", "france", "uk", "india", "japan", "canada",
    "brazil", "australia", "singapore", "netherlands", "belgium", "qatar",
    "london", "paris", "frankfurt", "dubai", "amsterdam", "chicago",
    "atlanta", "shanghai", "tokyo", "miami", "memphis", "luxembourg",
    "liege", "anchorage", "europe", "asia", "america", "africa",
}
_PERSON_TITLE = {"mr", "mrs", "ms", "dr", "sir", "madam", "prof"}
_YEAR = re.compile(r"(19|20)\d\d")
# abbreviations whose trailing period must not end a sentence
# 'no' is NOT treated as an abbreviation: sentence-final "no." is far more
# common in prose than the numero abbreviation "No. 5"
_ABBREV = _PERSON_TITLE | {"inc", "ltd", "corp", "co", "st", "vs"}


def _ner_sentence(words: list[str], tags: list[str]) -> list[str]:
    """BIO NER over one sentence: gazetteer/shape rules on top of the POS
    pass. PROPN runs classify by their trailing word (ORG/FAC suffix, GPE
    gazetteer, PERSON after a title); NUM splits into DATE years vs
    CARDINAL; month/day names are DATE."""
    n = len(words)
    ner = ["O"] * n

    def propn_like(k: int) -> bool:
        # the POS pass can't call a sentence-initial capital PROPN (any
        # sentence starts uppercase); for NER, a sentence-initial capital
        # followed by a PROPN starts the run ("Lufthansa Cargo ...")
        if tags[k] == "PROPN":
            return True
        return (
            k == 0 and tags[k] == "NOUN" and words[k][:1].isupper()
            and k + 1 < n and tags[k + 1] == "PROPN"
        )

    i = 0
    while i < n:
        w, t = words[i], tags[i]
        lw = w.lower()
        if propn_like(i):
            j = i
            while j + 1 < n and tags[j + 1] == "PROPN":
                j += 1
            run_low = [x.lower() for x in words[i : j + 1]]
            # look back past punctuation for a person title
            p = i - 1
            while p >= 0 and not words[p][:1].isalnum():
                p -= 1
            if p >= 0 and words[p].lower().rstrip(".") in _PERSON_TITLE:
                typ = "PERSON"
            elif run_low[-1] in _FAC_SUFFIX or (
                j + 1 < n and words[j + 1].lower() in _FAC_SUFFIX
            ):
                typ = "FAC"
            elif run_low[-1] in _ORG_SUFFIX:
                typ = "ORG"
            elif len(run_low) == 1 and run_low[0] in _GPE:
                typ = "GPE"
            else:
                typ = "ORG"  # domain prior: unresolved PROPN runs are firms
            ner[i] = f"B-{typ}"
            for k in range(i + 1, j + 1):
                ner[k] = f"I-{typ}"
            i = j + 1
            continue
        if lw in _MONTHS:
            ner[i] = "B-DATE"
            # month followed by a day/year number -> one DATE span
            if i + 1 < n and tags[i + 1] == "NUM":
                ner[i + 1] = "I-DATE"
                i += 2
                continue
        elif t == "NUM":
            ner[i] = "B-DATE" if _YEAR.fullmatch(w) else "B-CARDINAL"
        i += 1
    return ner


def _deprel_sentence(tags: list[str]) -> list[tuple[str, int]]:
    """Shallow dependency stand-in (stanza depparse is unavailable): first
    VERB is the root; NOUN/PROPN attach nsubj (before root) / obj (after);
    DET/ADJ/NUM attach to the next nominal; ADP attaches case-forward;
    everything else attaches dep->root. head ids are 1-based token ids,
    0 = root (CoNLL convention)."""
    n = len(tags)
    root = next((i for i, t in enumerate(tags) if t in ("VERB", "AUX")), -1)
    next_nom = [0] * n
    nxt = 0
    for i in range(n - 1, -1, -1):
        next_nom[i] = nxt
        if tags[i] in ("NOUN", "PROPN"):
            nxt = i + 1
    out = []
    for i, t in enumerate(tags):
        if i == root:
            out.append(("root", 0))
        elif t in ("NOUN", "PROPN"):
            if root == -1:
                out.append(("root", 0) if i == 0 else ("dep", 1))
            else:
                out.append(("nsubj" if i < root else "obj", root + 1))
        elif t in ("DET", "ADJ", "NUM") and next_nom[i]:
            out.append(("det" if t == "DET" else "amod" if t == "ADJ" else "nummod", next_nom[i]))
        elif t == "ADP" and next_nom[i]:
            out.append(("case", next_nom[i]))
        else:
            out.append(("dep", root + 1 if root >= 0 else 1))
    return out


def _annotate_doc(doc_id: str, content: str) -> list[tuple]:
    """Single linear pass: tokenize the whole document once; a sentence
    break occurs at a token boundary when the inter-token gap contains a
    newline, or contains whitespace and the previous token ends in [.!?]
    (equivalent to splitting on ``(?<=[.!?])\\s+|\\n+`` then tokenizing
    each segment, reference corpus.py:513 nltk-sentence-split semantics,
    but without the O(segments x find) rescans). Sentences buffer so the
    NER/deprel passes (context-dependent) run once per sentence; POS/lemma
    stay memoized per word type."""
    rows: list[tuple] = []
    sent_id = 1
    tok_id = 0
    prev_end = 0
    prev_last_char = ""
    # vocabulary is tiny relative to token count: memoize (word, sent_start)
    # -> (pos, lemma) so tagging cost is per-type, not per-token
    memo: dict[tuple[str, bool], tuple[str, str]] = {}
    buf: list[tuple] = []  # (tok_id, word, lemma, pos, begin, end)

    def flush(sid: int):
        if not buf:
            return
        words = [b[1] for b in buf]
        tags = [b[3] for b in buf]
        ner = _ner_sentence(words, tags)
        dep = _deprel_sentence(tags)
        for (tid, word, lemma, pos, ob, oe), ne, (rel, head) in zip(buf, ner, dep):
            rows.append((doc_id, sid, tid, word, lemma, pos, ob, oe, ne, rel, head))
        buf.clear()

    last_word = ""  # last alphanumeric token (for the abbreviation guard)
    for m in _TOKEN.finditer(content):
        # gaps are pure whitespace (the token regex consumes every
        # non-whitespace char), so: break on newline, or on any whitespace
        # following sentence-final punctuation — unless that punctuation
        # closes a known abbreviation ("Mr.", "Ltd.")
        gap = content[prev_end:m.start()]
        if tok_id > 0 and gap and ("\n" in gap or prev_last_char in ".!?"):
            abbrev = (
                "\n" not in gap
                and prev_last_char == "."
                and last_word.lower() in _ABBREV
            )
            if not abbrev:
                flush(sent_id)
                sent_id += 1
                tok_id = 0
        tok_id += 1
        word = m.group(0)
        if word[:1].isalnum():
            last_word = word
        key = (word, tok_id == 1)
        hit = memo.get(key)
        if hit is None:
            pos = _tag_word(word, tok_id == 1)
            hit = (pos, _lemma(word, pos))
            memo[key] = hit
        buf.append((tok_id, word, hit[1], hit[0], m.start(), m.end()))
        prev_end = m.end()
        prev_last_char = word[-1]
    flush(sent_id)
    return rows


def _annotate_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = ["doc_id", "sentence_id", "token_id", "word", "lemma", "pos",
            "offset_begin", "offset_end", "ner", "deprel", "deprel_head_id"]
    for pdf in batches:
        out: list[tuple] = []
        for doc_id, content in zip(pdf["doc_id"].values, pdf["content"].values):
            if content:
                out.extend(_annotate_doc(doc_id, content))
        yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame(
            {c: pd.Series(dtype=t) for c, t in zip(
                cols, [object, np.int32, np.int32, object, object, object,
                       np.int64, np.int64, object, object, np.int32])}
        )


def tokenize(docs: DataFrame, strict: bool = False) -> DataFrame:
    """``docs_clean -> tokens``: 1 doc row -> N token rows via mapInPandas.

    Only (doc_id, content) are shipped through Arrow — column pruning is
    explicit so a 100-TB scan never serializes unused columns into Python.

    ``strict=True`` marks the stanza integration point (reference
    corpus.py:227-232): it raises instead of running the deterministic
    heuristic annotator, so a deployment that REQUIRES real model
    annotations fails loudly rather than silently shipping heuristic tags.
    The swap is one function: replace ``_annotate_doc`` with a
    stanza-backed implementation returning the same 11-column rows
    (TOKENS_SCHEMA), loading the pipeline once per worker partition.
    """
    if strict:
        raise NotImplementedError(
            "real NLP annotations require stanza models not present in this "
            "container; swap kargo_spark.nlp._annotate_doc for a "
            "stanza-backed function emitting TOKENS_SCHEMA rows (load the "
            "stanza.Pipeline once per partition), then call "
            "tokenize(docs, strict=False)"
        )
    return docs.select("doc_id", "content").mapInPandas(_annotate_batches, TOKENS_SCHEMA)


def sentences_with_tokens(tokens: DataFrame) -> DataFrame:
    """Group the token table back to one row per sentence with an ordered
    token array — the unit the candidate miner consumes.

    One shuffle, ``widen(tokens, "doc_id")``: a hash partitioning on
    doc_id at the default parallelism, which AQE does not coalesce and
    which already satisfies the (doc_id, sentence_id) grouping, so no
    second exchange is planned. The width carries downstream: a persisted
    sentence table keeps its partitioning (AQE never coalesces a cached
    plan), so the candidate miner's ``mapInPandas`` and the pairs join
    run one Python task per core instead of one per shuffle partition.
    sort_array makes the token order explicit rather than relying on
    collect_list ordering.
    """
    tok_struct = F.struct(
        F.col("token_id"), F.col("word"), F.col("lemma"), F.col("pos"),
        F.col("offset_begin"), F.col("offset_end"),
    )
    return (
        widen(tokens, "doc_id").groupBy("doc_id", "sentence_id")
        .agg(F.sort_array(F.collect_list(tok_struct)).alias("toks"))
    )
