"""NLP annotation stage: ``docs_clean -> annotated -> tokens, candidates``.

The reference runs a stanza pipeline per document (reference corpus.py:
227-232, 445-492: tokenize / POS / lemma, ``tokenize_no_ssplit=True`` after
nltk sentence split at corpus.py:513). Heavy NLP models are not available
in this environment and are not the point — the engine contract is the
*stage shape*: one Arrow-vectorized ``mapInArrow`` (``annotate``) that
turns 1 document row into one row per sentence, carrying the sentence's
token structs and the candidate occurrences mined from them, loading any
per-worker state once per partition, never per row. The token and
candidate tables are ``inline`` views of that pass, so no shuffle ever
regroups tokens into sentences.

The tagger here is a deterministic lexicon+suffix heuristic producing the
coarse tags the candidate grammar needs (NOUN/PROPN/ADJ/NUM vs rest, the
pke grammar ``{<NOUN|PROPN|NUM|ADJ>*<NOUN|PROPN>}`` — reference
main.py:99-102). Swapping in a real model is a 1-function change: replace
``_annotate_doc`` and keep the schema.

Offsets are document-absolute character offsets (the reference keeps
sentence-relative ones, corpus.py:57-58; we keep absolute plus sentence
start so both are derivable).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

from . import candidates as C
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


def _annotate_doc(content: str) -> Iterator[tuple]:
    """Annotate one document, yielding one sentence at a time as
    ``(sentence_id, token_id, word, lemma, pos, offset_begin, offset_end,
    ner, deprel, deprel_head_id)``: the sentence id, then one list per
    remaining TOKENS_SCHEMA field, in token order.

    Single linear pass: tokenize the whole document once; a sentence
    break occurs at a token boundary when the inter-token gap contains a
    newline, or contains whitespace and the previous token ends in [.!?]
    (equivalent to splitting on ``(?<=[.!?])\\s+|\\n+`` then tokenizing
    each segment, reference corpus.py:513 nltk-sentence-split semantics,
    but without the O(segments x find) rescans). Sentences buffer so the
    NER/deprel passes (context-dependent) run once per sentence; POS/lemma
    stay memoized per word type."""
    sent_id = 1
    prev_end = 0
    prev_last_char = ""
    # vocabulary is tiny relative to token count: memoize (word, sent_start)
    # -> (pos, lemma) so tagging cost is per-type, not per-token
    memo: dict[tuple[str, bool], tuple[str, str]] = {}
    words: list[str] = []
    lemmas: list[str] = []
    tags: list[str] = []
    begins: list[int] = []
    ends: list[int] = []

    def sentence() -> tuple:
        dep = _deprel_sentence(tags)
        return (
            sent_id, list(range(1, len(words) + 1)), words, lemmas, tags,
            begins, ends, _ner_sentence(words, tags),
            [rel for rel, _ in dep], [head for _, head in dep],
        )

    last_word = ""  # last alphanumeric token (for the abbreviation guard)
    for m in _TOKEN.finditer(content):
        # gaps are pure whitespace (the token regex consumes every
        # non-whitespace char), so: break on newline, or on any whitespace
        # following sentence-final punctuation — unless that punctuation
        # closes a known abbreviation ("Mr.", "Ltd.")
        gap = content[prev_end:m.start()]
        if words and gap and ("\n" in gap or prev_last_char in ".!?"):
            abbrev = (
                "\n" not in gap
                and prev_last_char == "."
                and last_word.lower() in _ABBREV
            )
            if not abbrev:
                yield sentence()
                sent_id += 1
                words, lemmas, tags, begins, ends = [], [], [], [], []
        word = m.group(0)
        if word[:1].isalnum():
            last_word = word
        key = (word, not words)
        hit = memo.get(key)
        if hit is None:
            pos = _tag_word(word, not words)
            hit = (pos, _lemma(word, pos))
            memo[key] = hit
        words.append(word)
        lemmas.append(hit[1])
        tags.append(hit[0])
        begins.append(m.start())
        ends.append(m.end())
        prev_end = m.end()
        prev_last_char = word[-1]
    if words:
        yield sentence()


def _after_key(schema: str) -> str:
    """The fields of a per-sentence row schema after its leading
    ``doc_id, sentence_id`` key: the element struct of a nested column."""
    return schema.split(", ", 2)[2]


# one row per sentence: its token structs and the candidate occurrences
# mined from them, each struct a TOKENS_SCHEMA / CANDIDATES_SCHEMA row
# without the (doc_id, sentence_id) key
ANNOTATED_SCHEMA = (
    "doc_id string, sentence_id int, "
    f"toks array<struct<{_after_key(TOKENS_SCHEMA)}>>, "
    f"cands array<struct<{_after_key(C.CANDIDATES_SCHEMA)}>>"
)


def _nested(offsets: list[int], columns: list[list], list_type: pa.ListType) -> pa.ListArray:
    """One list-of-struct column from flat per-field Python lists plus
    sentence offsets: no per-row objects on the way into Arrow."""
    fields = list(list_type.value_type)
    values = pa.StructArray.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, fields)], fields=fields
    )
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values, type=list_type)


def _annotate_batches(
    batches: Iterator[pa.RecordBatch], schema: pa.Schema
) -> Iterator[pa.RecordBatch]:
    """The annotate kernel: each ``(doc_id, content)`` batch becomes one
    batch of sentence rows. The candidate grammar runs on the word, lemma
    and tag lists while the sentence is still in hand, so candidates need
    no regroup of the token rows."""
    for batch in batches:
        doc_ids: list = []
        sent_ids: list[int] = []
        toks: list[list] = [[] for _ in schema.field(2).type.value_type]
        cands: list[list] = [[] for _ in schema.field(3).type.value_type]
        tok_off, cand_off = [0], [0]
        for doc_id, content in zip(
            batch.column(0).to_pylist(), batch.column(1).to_pylist()
        ):
            if not content:
                continue
            for sent in _annotate_doc(content):
                doc_ids.append(doc_id)
                sent_ids.append(sent[0])
                for col, vals in zip(toks, sent[1:]):
                    col.extend(vals)
                tok_off.append(len(toks[0]))
                C.chunk_sentence(*sent[1:7], cands)
                cand_off.append(len(cands[0]))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(doc_ids, schema.field(0).type),
                pa.array(sent_ids, schema.field(1).type),
                _nested(tok_off, toks, schema.field(2).type),
                _nested(cand_off, cands, schema.field(3).type),
            ],
            schema=schema,
        )


def annotate(docs: DataFrame, strict: bool = False) -> DataFrame:
    """``docs(doc_id, content) -> annotated``: one ``mapInArrow`` that
    emits one row per sentence, ``(doc_id, sentence_id, toks, cands)``
    (ANNOTATED_SCHEMA). ``toks`` holds the sentence's token structs,
    ``cands`` the candidate occurrences the pke grammar mines from them
    (see ``candidates``). The token table (``token_rows``) and the
    candidate table (``candidates.mine_candidates``) are ``inline`` views
    of this one pass; the relation pairs read ``toks`` directly.

    Only (doc_id, content) are shipped through Arrow — column pruning is
    explicit so a 100-TB scan never serializes unused columns into Python.

    ``strict=True`` marks the stanza integration point (reference
    corpus.py:227-232): it raises instead of running the deterministic
    heuristic annotator, so a deployment that REQUIRES real model
    annotations fails loudly rather than silently shipping heuristic tags.
    The swap is one function: replace ``_annotate_doc`` with a
    stanza-backed implementation yielding the same per-sentence field
    lists (TOKENS_SCHEMA), loading the pipeline once per worker partition.
    """
    if strict:
        raise NotImplementedError(
            "real NLP annotations require stanza models not present in this "
            "container; swap kargo_spark.nlp._annotate_doc for a "
            "stanza-backed function yielding one sentence at a time as "
            "TOKENS_SCHEMA field lists (load the stanza.Pipeline once per "
            "partition), then call annotate(docs, strict=False)"
        )
    schema = DataType.fromDDL(ANNOTATED_SCHEMA)
    arrow_schema = to_arrow_schema(schema)
    return docs.select("doc_id", "content").mapInArrow(
        lambda batches: _annotate_batches(batches, arrow_schema), schema
    )


def token_rows(annotated: DataFrame) -> DataFrame:
    """``annotated -> tokens``: one TOKENS_SCHEMA row per token."""
    return annotated.select("doc_id", "sentence_id", F.inline("toks"))


def tokenize(docs: DataFrame, strict: bool = False) -> DataFrame:
    """``docs_clean -> tokens``: 1 doc row -> N token rows (see ``annotate``)."""
    return token_rows(annotate(docs, strict=strict))


def sentences_with_tokens(tokens: DataFrame) -> DataFrame:
    """Group a token table back to one row per sentence with an ordered
    token array. No pipeline path needs it (``annotate`` emits sentence
    rows); perfbench's traced call still times it.

    One shuffle, ``widen(tokens, "doc_id")``: a hash partitioning on
    doc_id at the default parallelism, which AQE does not coalesce and
    which already satisfies the (doc_id, sentence_id) grouping, so no
    second exchange is planned. sort_array makes the token order explicit
    rather than relying on collect_list ordering.
    """
    tok_struct = F.struct(
        F.col("token_id"), F.col("word"), F.col("lemma"), F.col("pos"),
        F.col("offset_begin"), F.col("offset_end"),
    )
    return (
        widen(tokens, "doc_id").groupBy("doc_id", "sentence_id")
        .agg(F.sort_array(F.collect_list(tok_struct)).alias("toks"))
    )
