"""Per-layer tracing from outside the engine.

The tracer wraps the stage boundaries the engine already exposes — the
``CheckpointRunner.run_stage`` calls inside ``run_pipeline``, the module
functions that ``triples_chain`` calls, the store writes, merges and
snapshot commits — by replacing those attributes for the life of a
``Tracer`` and putting them back on ``close()``. Nothing in the engine is
edited.

Each span:

* tags the Spark jobs it starts with its own job group;
* materializes a stage that returns a lazy DataFrame (persist + count),
  so the stage's work runs inside its span rather than in a later one;
  the tracer releases only the caches it added itself;
* collects the Python UDF time the perf profiler recorded while it ran.

Spans stay in memory. ``layer_metrics`` reads the task metrics of every
span's job group from Spark's status store once, at the end, and folds
them into per-layer totals.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import os
import pstats
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

LAYERS = (
    "corpus", "nlp", "candidates", "weighting", "graph_rank", "relations",
    "embedding", "clustering", "checkpointing", "storage", "graph_store",
    "iceberg_lite",
)
KINDS = ("wall_s", "task_s", "cpu_s", "shuffle_mb", "spill_mb", "task_skew")
# layers whose spans end in a stage table, and those that run Python UDFs
ROWS_LAYERS = ("corpus", "nlp", "candidates", "weighting", "graph_rank",
               "relations", "embedding", "clustering")
PY_LAYERS = ("nlp", "candidates", "graph_rank", "embedding")
# checkpoint I/O is fused into each stage's own write job, so only its
# byte counts can be read from outside the engine
TASK_LAYERS = tuple(x for x in LAYERS if x != "checkpointing")

STAGE_LAYER = {
    "docs_clean": "corpus", "tokens": "nlp", "sentences": "nlp",
    "mine_candidates": "candidates", "candidates": "candidates",
    "df_counts": "weighting", "terms_topk": "weighting",
    "mentions": "relations", "pairs": "relations", "triples": "relations",
    "pair_vectors": "embedding", "clusters": "clustering",
    "entities": "linking", "links": "linking",
}
GRAPH_RANKERS = ("singlerank", "positionrank")


def ranker_layer(ranker: str) -> str:
    return "graph_rank" if ranker in GRAPH_RANKERS else "weighting"


def metric_names() -> list[str]:
    """Every per-layer metric a traced run reports, in a fixed order."""
    names = [f"{layer}.{k}" for layer in TASK_LAYERS for k in KINDS]
    names += [f"{layer}.rows_out" for layer in ROWS_LAYERS]
    names += [f"{layer}.py_s" for layer in PY_LAYERS]
    names += [
        "relations.pairs_per_triple", "checkpointing.write_mb",
        "checkpointing.read_mb", "pipeline.driver_s", "session.leaked_rdds",
        "session.peak_rss_mb", "graph_store.hop2_read_p50_s",
        "trace.overhead_ratio",
    ]
    return names


_UNITS = {"wall_s": "s", "task_s": "s", "cpu_s": "s", "py_s": "s", "driver_s": "s",
          "hop2_read_p50_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
          "write_mb": "MB", "read_mb": "MB", "peak_rss_mb": "MB",
          "rows_out": "count", "leaked_rdds": "count"}


def metric_unit(name: str) -> str:
    return _UNITS.get(name.rsplit(".", 1)[-1], "ratio")


@dataclass
class Span:
    name: str
    layer: str
    kind: str                      # "container" | "stage" | "action"
    group: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    rows: int = 0
    py_s: float = 0.0
    durable: bool = False
    children_s: float = 0.0

    @property
    def self_s(self) -> float:
        return max(self.end - self.start - self.children_s, 0.0)


@dataclass
class Tracer:
    spark: object
    prof_dir: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _own_cache: list[DataFrame] = field(default_factory=list)
    _restore: list[tuple[object, str, object]] = field(default_factory=list)
    _ranker: str = "tfidf"

    # -- span mechanics ----------------------------------------------------
    def _open(self, name: str, layer: str, kind: str) -> Span:
        sp = Span(name, layer, kind, f"perfbench-{len(self.spans)}",
                  self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", sp.group)
        sp.start = time.perf_counter()
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        sp.py_s += self._drain_profile()
        self._stack.pop()
        parent = self.spans[self._stack[-1]] if self._stack else None
        if parent is not None:
            parent.children_s += sp.end - sp.start
        self.spark.sparkContext.setLocalProperty(
            "spark.jobGroup.id", parent.group if parent else None
        )

    def _drain_profile(self) -> float:
        """Total Python time the perf UDF profiler gathered since the last
        drain, then clear it."""
        shutil.rmtree(self.prof_dir, ignore_errors=True)
        os.makedirs(self.prof_dir)
        self.spark.profile.dump(self.prof_dir, type="perf")
        total = sum(pstats.Stats(p).total_tt
                    for p in glob.glob(os.path.join(self.prof_dir, "*.pstats")))
        self.spark.profile.clear(type="perf")
        return total

    def _in_stage(self) -> bool:
        return bool(self._stack) and self.spans[self._stack[-1]].kind == "stage"

    def _materialize(self, sp: Span, df: DataFrame) -> DataFrame:
        if df.is_cached:
            sp.rows = df.count()
            return df
        cached = df.persist()
        sp.rows = cached.count()
        self._own_cache.append(cached)
        # a fresh plan on top of the cache: if the engine persists the
        # returned frame itself, that cache is its own and stays visible
        return cached.select("*")

    @contextlib.contextmanager
    def span(self, name: str, layer: str, kind: str = "action"):
        sp = self._open(name, layer, kind)
        try:
            yield sp
        finally:
            self._close(sp)

    # -- wrappers ------------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _stage_fn(self, owner, attr: str, name: str, layer) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if self._in_stage():
                return orig(*a, **kw)
            lay = layer(a, kw) if callable(layer) else layer
            with self.span(name, lay, "stage") as sp:
                out = orig(*a, **kw)
                return self._materialize(sp, out) if isinstance(out, DataFrame) else out

        self._patch(owner, attr, wrapper)

    def _action_fn(self, owner, attr: str, name: str, layer: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(name, layer):
                return orig(*a, **kw)

        self._patch(owner, attr, wrapper)

    def _container_fn(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            self._ranker = kw.get("ranker", "tfidf")
            with self.span(name, "pipeline", "container"):
                return orig(*a, **kw)

        self._patch(owner, attr, wrapper)

    def install(self) -> None:
        from kargo_spark import candidates, checkpointing, corpus, graph_store
        from kargo_spark import iceberg_lite, nlp, pipeline, relations, storage
        from kargo_spark import weighting

        tracer = self
        orig_run_stage = checkpointing.CheckpointRunner.run_stage

        @functools.wraps(orig_run_stage)
        def run_stage(runner, name, fn, persist=True):
            layer = STAGE_LAYER.get(name) or ranker_layer(tracer._ranker)
            with tracer.span(name, layer, "stage") as sp:
                sp.durable = runner.root is not None
                out = orig_run_stage(runner, name, fn, persist)
                if sp.durable:  # written and read back: already materialized
                    sp.rows = runner.results[-1].rows
                    return out
                return tracer._materialize(sp, out)

        self._patch(checkpointing.CheckpointRunner, "run_stage", run_stage)
        self._container_fn(pipeline, "run_pipeline", "run_pipeline")
        self._container_fn(pipeline, "ingest_increment", "ingest_increment")
        self._stage_fn(pipeline, "rank_scores", "term_scores",
                       lambda a, kw: ranker_layer(kw.get("ranker", a[0] if a else "tfidf")))
        self._stage_fn(corpus, "docs_clean", "docs_clean", "corpus")
        self._stage_fn(nlp, "tokenize", "tokens", "nlp")
        self._stage_fn(nlp, "sentences_with_tokens", "sentences", "nlp")
        self._stage_fn(candidates, "mine_candidates", "mine_candidates", "candidates")
        self._stage_fn(candidates, "filter_candidates", "candidates", "candidates")
        self._action_fn(weighting, "document_frequency", "df_counts", "weighting")
        self._stage_fn(weighting, "top_k_terms", "terms_topk", "weighting")
        self._stage_fn(relations, "mentions", "mentions", "relations")
        self._stage_fn(relations, "pairs", "pairs", "relations")
        self._stage_fn(relations, "triples_from_pairs", "triples", "relations")
        self._action_fn(storage, "write_graph_bucketed", "write_graph_bucketed", "storage")
        self._action_fn(graph_store, "merge_into_graph_store", "merge", "graph_store")
        self._action_fn(iceberg_lite.IcebergLiteTable, "commit", "commit", "iceberg_lite")
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    def release(self) -> None:
        """Drop the caches the tracer added (never the engine's own)."""
        for df in self._own_cache:
            df.unpersist()
        self._own_cache.clear()

    def close(self) -> None:
        self.release()
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")

    # -- read-out ------------------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        """Fold every span's jobs into per-layer totals (status store
        read once; a stage listed by several jobs counts for the first)."""
        sc = self.spark.sparkContext
        gw = sc._gateway
        conv = gw.jvm.scala.jdk.javaapi.CollectionConverters
        store = sc._jsc.sc().statusStore()
        by_group = {sp.group: i for i, sp in enumerate(self.spans)}
        stage_span: dict[int, int] = {}
        for job in sorted(conv.asJava(store.jobsList(None)), key=lambda j: j.jobId()):
            g = job.jobGroup()
            span_ix = by_group.get(g.get()) if g.isDefined() else None
            if span_ix is None:
                continue
            for sid in conv.asJava(job.stageIds()):
                stage_span.setdefault(int(sid), span_ix)

        no_q = gw.new_array(gw.jvm.double, 0)
        quant = gw.new_array(gw.jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        acc = {layer: dict.fromkeys(KINDS, 0.0) for layer in LAYERS}
        heaviest: dict[str, tuple[float, int, int]] = {}
        ck_write = ck_read = 0.0
        for sid, span_ix in stage_span.items():
            sp = self.spans[span_ix]
            for st in conv.asJava(store.stageData(sid, False, gw.jvm.java.util.ArrayList(), False, no_q)):
                run_s = st.executorRunTime() / 1e3
                a = acc.setdefault(sp.layer, dict.fromkeys(KINDS, 0.0))
                a["task_s"] += run_s
                a["cpu_s"] += st.executorCpuTime() / 1e9
                a["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
                a["spill_mb"] += st.diskBytesSpilled() / 1e6
                if sp.durable:
                    ck_write += st.outputBytes() / 1e6
                    if sp.name != "docs_clean":
                        ck_read += st.inputBytes() / 1e6
                if run_s > heaviest.get(sp.layer, (-1.0, 0, 0))[0]:
                    heaviest[sp.layer] = (run_s, sid, st.attemptId())
        for layer, (_, sid, attempt) in heaviest.items():
            summ = store.taskSummary(sid, attempt, quant)
            if summ.isDefined():
                med, mx = list(conv.asJava(summ.get().executorRunTime()))
                if med > 0:
                    acc[layer]["task_skew"] = mx / med

        out: dict[str, float] = {}
        rows = dict.fromkeys(ROWS_LAYERS, 0)
        py = dict.fromkeys(PY_LAYERS, 0.0)
        driver_s = 0.0
        for sp in self.spans:
            if sp.kind == "container":
                driver_s += sp.self_s
            elif sp.layer in acc:
                acc[sp.layer]["wall_s"] += sp.self_s
            if sp.layer in rows:
                rows[sp.layer] += sp.rows
            if sp.layer in py:
                py[sp.layer] += sp.py_s
        for layer in TASK_LAYERS:
            for k in KINDS:
                out[f"{layer}.{k}"] = acc[layer][k]
        for layer in ROWS_LAYERS:
            out[f"{layer}.rows_out"] = float(rows[layer])
        for layer in PY_LAYERS:
            out[f"{layer}.py_s"] = py[layer]
        n_pairs = sum(sp.rows for sp in self.spans if sp.name == "pairs")
        n_triples = sum(sp.rows for sp in self.spans if sp.name == "triples")
        out["relations.pairs_per_triple"] = n_pairs / n_triples if n_triples else 0.0
        out["checkpointing.write_mb"] = ck_write
        out["checkpointing.read_mb"] = ck_read
        out["pipeline.driver_s"] = driver_s
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": sp.name, "layer": sp.layer, "kind": sp.kind,
             "parent": sp.parent, "start": sp.start, "end": sp.end,
             "self_s": sp.self_s, "rows": sp.rows, "py_s": sp.py_s,
             "group": sp.group}
            for sp in self.spans
        ]
