"""Candidate term mining: ``annotated sentences -> candidates``.

Reimplements the pke grammar-selection + filtering semantics
(reference terms.py:99-158, grammar at main.py:99-102:
``{<NOUN|PROPN|NUM|ADJ>*<NOUN|PROPN>}``) as a regex over a char-encoded
POS alphabet per sentence — the vectorization trick SURVEY.md §2.9 calls
for: each sentence's tag sequence becomes a string like ``"NNAJVN"`` and
noun-phrase chunks are regex matches, no per-token Python branching.

The chunker (``chunk_terms``) runs inside ``nlp.annotate``'s Arrow pass
on each sentence as it is annotated; ``mine_candidates`` runs the same
helper as a ``mapInPandas`` over an already sentence-grouped token table.
Either way there is one row per candidate occurrence:

    (doc_id, sentence_id, term, lemma_term, tok_begin, tok_end,
     offset_begin, offset_end)

``term`` is the lowercased surface form (term identity for eval is the
lowercased surface string — reference evaluation.py:40-42); ``lemma_term``
the space-joined lemmas (pke keys candidates by stemmed/lemmatized form).
Occurrence-level rows keep first-occurrence and offset-cutoff filters
expressible as plain Column predicates downstream (terms.py:145-158).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CANDIDATES_SCHEMA = (
    "doc_id string, sentence_id int, term string, lemma_term string, "
    "n_words int, tok_begin int, tok_end int, offset_begin long, offset_end long"
)

# one char per POS tag; chunk pattern = [ANMP]*[NP] (ADJ|NUM|NOUN|PROPN)*(NOUN|PROPN)
_TAG_CHAR = {"NOUN": "N", "PROPN": "P", "ADJ": "A", "NUM": "M"}
_CHUNK = re.compile(r"[ANMP]*[NP]")


def chunk_terms(token_id, word, lemma, pos, begin, end) -> list[tuple]:
    """Noun-phrase chunks of ONE sentence, its tokens given as parallel
    sequences in token order; returns the 7 per-candidate fields of
    CANDIDATES_SCHEMA (term .. offset_end). The single chunk/term builder:
    ``nlp.annotate`` runs it on the annotator's per-sentence buffer,
    ``mine_candidates`` on a regrouped token array."""
    tag_str = "".join(_TAG_CHAR.get(p, "x") for p in pos)
    out = []
    for m in _CHUNK.finditer(tag_str):
        b, e = m.span()  # token index span [b, e)
        out.append((
            " ".join(w.lower() for w in word[b:e]),
            " ".join(lemma[b:e]),
            e - b,
            token_id[b],
            token_id[e - 1],
            begin[b],
            end[e - 1],
        ))
    return out


def _mine_sentence(doc_id, sent_id, toks: np.ndarray, out: list) -> None:
    # toks: array of (token_id, word, lemma, pos, offset_begin, offset_end) rows
    cols = [[t[f] for t in toks] for f in (
        "token_id", "word", "lemma", "pos", "offset_begin", "offset_end")]
    out.extend((doc_id, sent_id, *c) for c in chunk_terms(*cols))


def _mine_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = ["doc_id", "sentence_id", "term", "lemma_term", "n_words",
            "tok_begin", "tok_end", "offset_begin", "offset_end"]
    for pdf in batches:
        out: list[tuple] = []
        for doc_id, sent_id, toks in zip(
            pdf["doc_id"].values, pdf["sentence_id"].values, pdf["toks"].values
        ):
            _mine_sentence(doc_id, int(sent_id), toks, out)
        yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame(
            {c: pd.Series(dtype=t) for c, t in zip(
                cols, [object, np.int32, object, object, np.int32, np.int32,
                       np.int32, np.int64, np.int64])}
        )


def mine_candidates(sentences: DataFrame) -> DataFrame:
    """``sentences(doc_id, sentence_id, toks) -> candidates`` (occurrence rows)."""
    return sentences.mapInPandas(_mine_batches, CANDIDATES_SCHEMA)


# --- pke-parity candidate filtering (reference terms.py:102-158) ---------

DEFAULT_STOPWORDS = (
    "the a an this that of in on at to for with from by as and or but is are "
    "was were be has have had will would it its they their we not also more most very"
).split()


def filter_candidates(
    cands: DataFrame,
    min_chars: int = 3,
    max_words: int = 5,
    stopwords: list[str] | None = None,
    offset_cutoff: int | None = None,
    min_frequency: int = 1,
    strip_short_outer: bool = False,
) -> DataFrame:
    """Pure-Column candidate filters, pke-default parity (terms.py:114-158):

    * stoplist on first/last word, min 3 chars, max 5 words (pke defaults)
    * ``offset_cutoff``: drop candidates whose FIRST occurrence in the doc
      starts after the cutoff char offset (custom filter, terms.py:145-150)
    * ``min_frequency``: per-doc occurrence floor (terms.py:151-155)

    All predicates are Column expressions — whole-stage codegen, no UDFs.
    """
    sw = F.array(*[F.lit(s) for s in (stopwords or DEFAULT_STOPWORDS)])
    first_word = F.element_at(F.split(F.col("term"), " "), 1)
    last_word = F.element_at(F.split(F.col("term"), " "), -1)
    out = cands.filter(
        (F.length("term") >= min_chars)
        & (F.col("n_words") <= max_words)
        & ~F.array_contains(sw, first_word)
        & ~F.array_contains(sw, last_word)
        & F.col("term").rlike(r"^[a-z0-9_\- ]+$")
    )
    if strip_short_outer:
        out = out.filter((F.length(first_word) >= 3) & (F.length(last_word) >= 3))
    if offset_cutoff is not None or min_frequency > 1:
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id", "lemma_term")
        out = (
            out.withColumn("__first_off", F.min("offset_begin").over(w))
            .withColumn("__freq", F.count(F.lit(1)).over(w))
        )
        if offset_cutoff is not None:
            out = out.filter(F.col("__first_off") <= offset_cutoff)
        if min_frequency > 1:
            out = out.filter(F.col("__freq") >= min_frequency)
        out = out.drop("__first_off", "__freq")
    return out
