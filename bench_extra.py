#!/usr/bin/env python
"""Round-6 auxiliary benchmarks (bench.py is FROZEN for measurement; every
extra measurement lives here — guide §1.4/§1.5).

Modes:
  --isolate [q ...]    noop-sink isolation per declared query (computes every
                       column, excludes the sink), KARGO_BENCH_REPS reps,
                       per-rep seconds + 1-min loadavg recorded so a polluted
                       rep is visible in the artifact.
  --stages             kg_pipeline_triples stage-by-stage decomposition: each
                       prefix of the docs->triples chain timed to a noop sink
                       (prefix deltas locate the expensive stage).
  --checksum-rep       one pipeline rep on the scaling corpus recording an
                       ORDER-INSENSITIVE CONTENT checksum (bit_xor of
                       xxhash64 over canonicalized triple rows — xor, not
                       sum, because sum(long) overflows under ANSI mode),
                       not just the count — the evidence the r05 ADVICE
                       asked for behind the "same triples at any
                       parallelism" claim.

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, KARGO_BENCH_REPS as in bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPS = int(os.environ.get("KARGO_BENCH_REPS", "3"))

HEADLINE = [
    "yake_topk", "tfidf_topk", "doc_frequency", "triples_agg", "eval_suite",
    "minhash_neardup", "simhash_neardup", "ann_bruteforce", "textstats_suite",
    "repetition_stats", "decontaminate", "events_suite", "kg_pipeline_triples",
]


def _spark(app: str):
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from kargo_spark.session import get_spark

    return get_spark(app_name=app, master=f"local[{CPUS}]")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_isolate(names: list[str]) -> dict:
    import __spark_entry__ as entrymod

    spark = _spark("kargo_bench_extra")
    qs = entrymod.queries()
    names = names or HEADLINE
    for name in names:  # warm plan shapes / Arrow workers on tiny data
        _noop(qs[name](spark, "/root/testdata/sf0.001"))
    out = {}
    for name in names:
        secs, loads = [], []
        for _ in range(REPS):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"isolate:{name}")
            t0 = time.time()
            _noop(qs[name](spark, SF_DIR))
            secs.append(round(time.time() - t0, 3))
            loads.append(round(os.getloadavg()[0], 1))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"secs": secs, "min": min(secs), "loads": loads}
    return {"metric": "noop_isolation_sec", "cpus": CPUS, "sf_dir": SF_DIR,
            "reps": REPS, "queries": out}


def run_stages() -> dict:
    """Time each PREFIX of the kg pipeline chain (same source reshaping as
    q_kg_pipeline_triples) to a noop sink; consecutive deltas attribute
    time to stages without materialization barriers inside a prefix."""
    from pyspark.sql import functions as F

    from kargo_spark import candidates as C
    from kargo_spark import corpus, nlp, relations, weighting
    from kargo_spark.pipeline import annotated_sentences

    spark = _spark("kargo_stage_decomp")
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    src = d.select(
        F.concat(F.lit("org/repo-"), (F.col("doc_id") % 50).cast("string")).alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string"), F.lit(".md")).alias("path"),
        F.sha1(F.col("doc_id").cast("string")).alias("commit"),
        "lang", F.col("text").alias("content"),
    )

    def chain(upto: str):
        dc = corpus.docs_clean(src)
        if upto == "docs_clean":
            return dc
        # persisted as in the pipeline; each rep's clearCache() drops it
        sentences = annotated_sentences(dc)
        if upto == "sentences":
            return sentences
        cands = C.filter_candidates(
            nlp.candidates_of(sentences), stopwords=C.DEFAULT_STOPWORDS
        )
        if upto == "candidates":
            return cands
        cands = cands.persist()
        df_tab, _ = weighting.document_frequency(cands)
        n_docs = dc.count()
        scores = weighting.tfidf_scores(cands, df_tab, n_docs)
        if upto == "scores":
            return scores
        topk = weighting.top_k_terms(scores, k=10)
        if upto == "topk":
            return topk
        ments = relations.mentions(cands, topk)
        if upto == "mentions":
            return ments
        prs = relations.pairs(ments, sentences.select("doc_id", "sentence_id", "toks"))
        if upto == "pairs":
            return prs
        return relations.triples_from_pairs(prs)

    # the tf-idf chain never reads the flat token table, so it has no prefix
    stages = ["docs_clean", "sentences", "candidates", "scores",
              "topk", "mentions", "pairs", "triples"]
    _noop(chain("triples"))  # warm
    spark.catalog.clearCache()
    out = {}
    for st in stages:
        best = None
        for _ in range(REPS):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"stage:{st}")
            t0 = time.time()
            _noop(chain(st))
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        out[st] = round(best, 3)
    spark.sparkContext.setJobDescription(None)
    return {"metric": "kg_stage_prefix_sec", "cpus": CPUS, "sf_dir": SF_DIR,
            "prefix_sec": out}


def run_checksum_rep() -> dict:
    """Pipeline rep on the synthetic scaling corpus with a content checksum:
    bit_xor of xxhash64 over canonicalized triple rows (order-insensitive,
    overflow-free under ANSI), so cross-parallelism reps can be compared at
    content level, not count. Triple rows are unique post-aggregation, so
    xor cannot cancel legitimate duplicates."""
    from pyspark.sql import functions as F

    from kargo_spark.pipeline import triples_chain
    from kargo_spark.synth import synth_documents

    n_rows = int(os.environ.get("KARGO_SCALING_DOCS", "8000"))
    words = int(os.environ.get("KARGO_SCALING_WORDS", "400"))
    spark = _spark("kargo_checksum_rep")
    triples, cached = triples_chain(
        synth_documents(spark, n_rows=50), ranker="tfidf"
    )
    triples.count()
    for c in cached:
        c.unpersist()
    docs = synth_documents(
        spark, n_rows=n_rows, words_per_doc=words, distinct_paths=True
    ).repartition(int(CPUS) * 4).persist()
    n_docs = docs.count()
    t0 = time.time()
    triples, cached = triples_chain(docs, ranker="tfidf")
    agg = triples.select(
        F.xxhash64(
            "subj", "pred", "obj", F.col("support").cast("string")
        ).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("checksum")).collect()[0]
    dt = time.time() - t0
    for c in cached:
        c.unpersist()
    return {
        "metric": "pipeline_checksum_rep", "cpus": CPUS, "n_docs": n_docs,
        "n_triples": agg["n"], "content_checksum": int(agg["checksum"]),
        "sec": round(dt, 3), "docs_per_sec": round(n_docs / dt, 2),
        "loadavg_1m": round(os.getloadavg()[0], 1),
    }


if __name__ == "__main__":
    if "--isolate" in sys.argv:
        names = sys.argv[sys.argv.index("--isolate") + 1:]
        print(json.dumps(run_isolate(names)))
    elif "--stages" in sys.argv:
        print(json.dumps(run_stages()))
    elif "--checksum-rep" in sys.argv:
        print(json.dumps(run_checksum_rep()))
    else:
        print(json.dumps(run_isolate([])))
