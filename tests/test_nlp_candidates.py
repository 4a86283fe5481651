"""Tokenizer, sentence grouping, and candidate-mining tests."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from kargo_spark import candidates as C
from kargo_spark import nlp


def _tokens(spark, text):
    df = spark.createDataFrame([("d1", text)], "doc_id string, content string")
    return nlp.tokenize(df)


def test_tokenize_offsets_roundtrip(spark):
    text = "Air cargo grows. Pharma moved fast!"
    toks = _tokens(spark, text).collect()
    for t in toks:
        assert text[t["offset_begin"]:t["offset_end"]] == t["word"]
    assert max(t["sentence_id"] for t in toks) == 2
    # token ids are 1-based within sentence
    s1 = [t for t in toks if t["sentence_id"] == 1]
    assert [t["token_id"] for t in s1] == list(range(1, len(s1) + 1))


def test_tokenize_empty_doc_yields_nothing(spark):
    df = spark.createDataFrame([("d1", ""), ("d2", "word.")], "doc_id string, content string")
    out = nlp.tokenize(df)
    assert out.filter(F.col("doc_id") == "d1").count() == 0
    assert out.filter(F.col("doc_id") == "d2").count() == 2  # word + '.'


def test_candidate_grammar_matches_np_chunks(spark):
    # "the fast cargo carrier moved dangerous goods" ->
    # chunks: 'fast cargo carrier' (ADJ? fast->NOUN by our tagger) etc.
    toks = _tokens(spark, "The cargo carrier moved dangerous goods to the cool chain hub.")
    sents = nlp.sentences_with_tokens(toks)
    cands = C.mine_candidates(sents)
    terms = {r["term"] for r in cands.collect()}
    assert "cargo carrier" in terms
    assert "dangerous goods" in terms
    assert "cool chain hub" in terms
    # verbs/preps never inside a candidate
    assert all("moved" not in t and " to " not in t for t in terms)


def test_filter_candidates_predicates(spark):
    toks = _tokens(spark, "The cargo carrier moved dangerous goods to the cool chain hub.")
    cands = C.mine_candidates(nlp.sentences_with_tokens(toks))
    out = C.filter_candidates(cands, min_chars=3, max_words=2)
    assert all(r["n_words"] <= 2 for r in out.collect())
    out2 = C.filter_candidates(cands, min_frequency=2)
    assert out2.count() == 0  # nothing repeats in one sentence


def test_offset_cutoff_uses_first_occurrence(spark):
    text = "cargo early. " + "filler words here. " * 5 + "the cargo is moved."
    toks = _tokens(spark, text)
    cands = C.mine_candidates(nlp.sentences_with_tokens(toks))
    kept = C.filter_candidates(cands, offset_cutoff=15)
    # 'cargo' first occurs at offset 0 <= 15 so BOTH its occurrences survive
    cargo_rows = [r for r in kept.collect() if r["term"] == "cargo"]
    assert len(cargo_rows) == 2


def test_ner_heuristics(spark):
    text = ("Lufthansa Cargo expanded its Frankfurt hub in January 2020. "
            "Mr. Smith said the airline carried 400 tonnes to Singapore.")
    toks = _tokens(spark, text).collect()
    ner = {t["word"]: t["ner"] for t in toks}
    # PROPN run ending in an ORG suffix word
    assert ner["Lufthansa"] == "B-ORG" and ner["Cargo"] == "I-ORG"
    # PROPN followed by a FAC suffix word
    assert ner["Frankfurt"] == "B-FAC"
    # month + number = one DATE span; standalone year = DATE
    assert ner["January"] == "B-DATE" and ner["2020"] == "I-DATE"
    # title + PROPN = PERSON
    assert ner["Smith"] == "B-PERSON"
    # plain number = CARDINAL; GPE gazetteer
    assert ner["400"] == "B-CARDINAL"
    assert ner["Singapore"] == "B-GPE"
    # non-entities stay O
    assert ner["expanded"] == "O" and ner["the"] == "O"


def test_deprel_shallow_parse(spark):
    toks = _tokens(spark, "The carrier moved goods.").collect()
    by_word = {t["word"]: t for t in toks}
    root = by_word["moved"]
    assert root["deprel"] == "root" and root["deprel_head_id"] == 0
    assert by_word["carrier"]["deprel"] == "nsubj"
    assert by_word["carrier"]["deprel_head_id"] == root["token_id"]
    assert by_word["goods"]["deprel"] == "obj"
    assert by_word["The"]["deprel"] == "det"
    assert by_word["The"]["deprel_head_id"] == by_word["carrier"]["token_id"]


def test_corpus_summary_counts(spark):
    from kargo_spark.corpus import corpus_summary

    text = "Lufthansa Cargo moved goods. No entities here at all."
    toks = _tokens(spark, text)
    doc_stats, ner_counts, vocab_stats = corpus_summary(toks)
    d = doc_stats.collect()[0]
    assert d["n_sents"] == 2
    assert d["n_sents_w_ne"] == 1      # only the first sentence has an entity
    assert d["n_ner"] == 2             # Lufthansa + Cargo
    nc = {(r["ner_type"]): r["n"] for r in ner_counts.collect()}
    assert nc == {"ORG": 2}
    v = {r["lemma"]: r for r in vocab_stats.collect()}
    assert v["good"]["nouns"] == 1     # 'goods' lemmatized, counted as noun


def test_kargen_lines_carry_real_ner(spark):
    from kargo_spark import io_formats as IO

    toks = _tokens(spark, "Lufthansa Cargo moved goods to Singapore.")
    lines = {r["line"] for r in IO.kargen_conll_lines(toks).collect() if r["line"]}
    assert any("\tB-ORG\t" in ln for ln in lines)
    assert any("\tB-GPE\t" in ln for ln in lines)


def _row_counter(df):
    return Counter(tuple(r) for r in df.collect())


def test_annotate_matches_tokenize_regroup_mine(spark):
    """The fused annotate pass gives exactly what the two-pass path does:
    the flat token rows, each sentence's ordered token array, and the
    candidate occurrences, on null/blank/non-ASCII/abbreviation/newline
    input and one giant document."""
    base = "Mr. Smith of Acme Ltd. moved dangerous goods to the cool chain hub. "
    docs = [
        ("null", None),
        ("empty", ""),
        ("blank", "  \n\t  "),
        ("accents", "Zürich Flughafen handled café freight — 3 tonnes. Señor Núñez said so."),
        ("abbrev", "Mr. Jones met Acme Ltd. staff at Frankfurt airport. Air cargo grows!"),
        ("lines", "First line cargo carrier\nSecond line hub operator\n\nThird freight lane"),
        ("m1", base),
        ("m2", base.replace("Smith", "Brown")),
        ("m3", base.replace("cool", "cold")),
        ("giant", base * 20),
    ]
    df = spark.createDataFrame(docs, "doc_id string, content string")
    lengths = sorted(len(c or "") for _, c in docs)
    assert len(docs[-1][1]) >= 20 * lengths[len(lengths) // 2]

    annotated = nlp.annotate(df)
    two_pass_sents = nlp.sentences_with_tokens(nlp.tokenize(df))

    # tokens: the kernel's rows, unchanged by the columnar rebuild
    expected = [r for d, c in docs if c for r in nlp._annotate_doc(d, c)]
    assert _row_counter(nlp.tokens_of(annotated)) == Counter(expected)

    fields = ("token_id", "word", "lemma", "pos", "offset_begin", "offset_end")

    def by_sentence(sents):
        return {
            (r["doc_id"], r["sentence_id"]): [tuple(t[f] for f in fields) for t in r["toks"]]
            for r in sents.collect()
        }

    fused = by_sentence(annotated)
    assert fused == by_sentence(two_pass_sents)
    assert {d for d, _ in fused} == {"accents", "abbrev", "lines", "m1", "m2", "m3", "giant"}

    fused_cands = nlp.candidates_of(annotated)
    two_pass_cands = C.mine_candidates(two_pass_sents)
    assert fused_cands.count() > 0
    assert _row_counter(fused_cands) == _row_counter(two_pass_cands)
    assert _row_counter(
        C.filter_candidates(fused_cands, stopwords=C.DEFAULT_STOPWORDS)
    ) == _row_counter(C.filter_candidates(two_pass_cands, stopwords=C.DEFAULT_STOPWORDS))


def test_released_caches_leave_no_persistent_rdds(spark, tmp_path):
    """Two back-to-back triples_chain runs, each releasing its ``cached``
    list, an in-memory run_pipeline whose cached outputs (the annotated
    sentences included) are released, and a checkpointed run_pipeline
    leave Spark's persistent RDD set as it was."""
    from kargo_spark.pipeline import run_pipeline, triples_chain
    from kargo_spark.synth import synth_documents

    jsc = spark.sparkContext._jsc
    docs = synth_documents(spark, n_rows=12)
    before = jsc.getPersistentRDDs().size()
    for _ in range(2):
        triples, cached = triples_chain(docs)
        assert triples.count() > 0
        for df in cached:
            df.unpersist()
        assert jsc.getPersistentRDDs().size() == before

    out = run_pipeline(spark, docs, None, cluster_relations=False, linking=False)
    assert out["triples"].count() > 0
    assert out["sentences"].is_cached
    for df in out.values():
        if df.is_cached:
            df.unpersist()
    assert jsc.getPersistentRDDs().size() == before

    out = run_pipeline(spark, docs, str(tmp_path), cluster_relations=False, linking=False)
    assert out["triples"].count() > 0
    assert jsc.getPersistentRDDs().size() == before
