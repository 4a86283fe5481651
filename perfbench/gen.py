"""Seeded corpus generator for the benchmark.

Every workload's input is built here, on the driver, with numpy and
pyarrow only (no Spark job), and written once per run before timing
starts. The same ``(spec, seed)`` always gives byte-identical files.

What a spec controls:

* vocabulary size and Zipf exponent of the content words, so term,
  pair and hub statistics can be varied (the library's own
  ``synth.synth_documents`` has a fixed 42-word vocabulary);
* the document-length distribution: ``uniform`` (every document has
  ``words`` words) or ``lognormal`` (median ``words``, shape ``sigma``);
  lengths are taken from fixed quantiles and only their order is
  shuffled, so the total input size is the same for every seed;
* an exact share of giant documents (``giant_frac``, rounded up, of
  ``giant_mult`` x the median length);
* an exact share of documents that repeat another document's content
  under a different path;
* hub terms that occur in a given share of the documents;
* the file layout: ``files`` parquet files, each one row group.

Sentences are drawn from a small grammar over four word classes so that
the engine's tagger and candidate chunker see noun phrases separated by
function words and verbs, as in prose.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_FUNCTION = ["the", "a", "of", "in", "on", "for", "with", "and", "to", "is", "are", "by"]
_VERBS = ["uses", "runs", "adds", "moves", "handles", "provides", "offers", "makes"]
_ONSETS = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z",
           "br", "cr", "dr", "gr", "pl", "st", "tr"]
_NUCLEI = ["a", "e", "i", "o", "u", "ai", "ou", "ea"]
_CODAS = ["n", "r", "t", "m", "k", "x", "nd", "rt", ""]
_ADJ_SUFFIX = ["ous", "ive", "al", "ic", "ful"]
SENTENCE_WORDS = 14


@dataclass(frozen=True)
class CorpusSpec:
    docs: int
    words: int                  # per-document length (median for lognormal)
    vocab: int = 5000           # distinct content words
    zipf_s: float = 1.1         # Zipf exponent of content-word frequencies
    length: str = "uniform"     # "uniform" | "lognormal"
    sigma: float = 0.8          # lognormal shape
    giant_frac: float = 0.0     # exact share of giant documents
    giant_mult: int = 40        # giant length = giant_mult x words
    dup_frac: float = 0.0       # exact share of documents repeating another's content
    hubs: int = 0               # number of hub terms
    hub_frac: float = 0.0       # share of documents each hub term occurs in
    files: int = 1              # parquet files, one row group each
    id_offset: int = 0          # first document number (for increments)


def _vocabulary(n: int) -> tuple[list[str], list[str]]:
    """Deterministic pronounceable nouns and adjectives, independent of the
    seed so every seed draws from the same vocabulary."""
    words: list[str] = []
    seen: set[str] = set()
    i = 0
    while len(words) < n:
        a = _ONSETS[i % len(_ONSETS)] + _NUCLEI[(i // len(_ONSETS)) % len(_NUCLEI)]
        j = i // (len(_ONSETS) * len(_NUCLEI))
        b = _ONSETS[j % len(_ONSETS)] + _NUCLEI[(j // len(_ONSETS)) % len(_NUCLEI)]
        c = _CODAS[(j // (len(_ONSETS) * len(_NUCLEI))) % len(_CODAS)]
        w = a + b + c
        i += 1
        if w in seen or w.endswith(("ly", "s", "ous", "ive", "al", "ic", "ful")):
            continue
        seen.add(w)
        words.append(w)
    adjs = [w + _ADJ_SUFFIX[k % len(_ADJ_SUFFIX)] for k, w in enumerate(words[: max(n // 10, 1)])]
    return words, adjs


def _lengths(spec: CorpusSpec, rng: np.random.Generator) -> np.ndarray:
    n = spec.docs
    n_giant = math.ceil(n * spec.giant_frac)  # a small corpus still gets one
    n_body = n - n_giant
    if spec.length == "uniform":
        body = np.full(n_body, spec.words)
    elif spec.length == "lognormal":
        nd = NormalDist()
        q = [(i + 0.5) / n_body for i in range(n_body)]
        body = np.array([spec.words * np.exp(spec.sigma * nd.inv_cdf(p)) for p in q])
        body = np.clip(np.round(body), 8, None)
    else:
        raise ValueError(f"unknown length distribution {spec.length!r}")
    lens = np.concatenate([body, np.full(n_giant, spec.words * spec.giant_mult)])
    return rng.permutation(lens.astype(np.int64))


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _document(rng, n_words, nouns, adjs, noun_p, adj_p, hubs) -> str:
    # word classes per slot: 0 noun, 1 adjective, 2 function word, 3 verb
    cls = rng.choice(4, size=n_words, p=[0.46, 0.09, 0.32, 0.13])
    noun_ix = rng.choice(len(nouns), size=n_words, p=noun_p)
    adj_ix = rng.choice(len(adjs), size=n_words, p=adj_p)
    fn_ix = rng.integers(0, len(_FUNCTION), size=n_words)
    vb_ix = rng.integers(0, len(_VERBS), size=n_words)
    out = []
    for k in range(n_words):
        c = cls[k]
        if c == 0:
            out.append(nouns[noun_ix[k]])
        elif c == 1:
            out.append(adjs[adj_ix[k]])
        elif c == 2:
            out.append(_FUNCTION[fn_ix[k]])
        else:
            out.append(_VERBS[vb_ix[k]])
    for h in hubs:
        # a hub term appears about once per sentence-pair, as a noun
        for pos in rng.integers(0, n_words, size=max(n_words // (2 * SENTENCE_WORDS), 1)):
            out[pos] = h
    sentences = [
        " ".join(out[i : i + SENTENCE_WORDS]) + "."
        for i in range(0, n_words, SENTENCE_WORDS)
    ]
    return " ".join(sentences)


def make_table(spec: CorpusSpec, seed: int) -> pa.Table:
    """The corpus as an Arrow table in the pipeline's input schema
    ``(repo, path, commit, lang, content)``."""
    rng = np.random.default_rng([seed, spec.docs, spec.words, spec.id_offset])
    nouns, adjs = _vocabulary(spec.vocab)
    hub_words = [f"hubterm{k}" for k in range(spec.hubs)]
    noun_p = _zipf_probs(len(nouns), spec.zipf_s)
    adj_p = _zipf_probs(len(adjs), spec.zipf_s)
    # the rank -> word mapping is shuffled per seed, so which words are
    # frequent changes with the seed while the frequency curve does not
    nouns = [nouns[i] for i in rng.permutation(len(nouns))]
    lens = _lengths(spec, rng)
    n_dup = int(round(spec.docs * spec.dup_frac))
    contents: list[str] = []
    for n_words in lens:
        hubs = [h for h in hub_words if rng.random() < spec.hub_frac]
        contents.append(_document(rng, int(n_words), nouns, adjs, noun_p, adj_p, hubs))
    if n_dup:
        targets = rng.choice(spec.docs, size=n_dup, replace=False)
        for t in targets:
            contents[t] = contents[(t + 1) % spec.docs]
    ids = np.arange(spec.id_offset, spec.id_offset + spec.docs)
    return pa.table({
        "repo": [f"org/repo-{i % 37}" for i in ids],
        "path": [f"doc/{i}.md" for i in ids],
        "commit": [f"{seed:08x}{i:012x}" for i in ids],
        "lang": ["en"] * spec.docs,
        "content": contents,
    })


def write_corpus(spec: CorpusSpec, seed: int, out_dir: str) -> str:
    """Write the corpus as ``spec.files`` parquet files of one row group
    each under ``out_dir``; returns the directory."""
    table = make_table(spec, seed)
    os.makedirs(out_dir, exist_ok=True)
    per = -(-table.num_rows // spec.files)
    for k in range(spec.files):
        part = table.slice(k * per, per)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{k:03d}.parquet"),
                           row_group_size=max(part.num_rows, 1))
    return out_dir
