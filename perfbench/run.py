#!/usr/bin/env python3
"""The repository's benchmark: one command, one named workload, one seed.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds nothing: it imports the
engine from the checkout, generates the workload's input from the seed,
times the engine's public entry points from outside, checks every
output, and prints one line per metric (name, value, unit, samples)
followed, as the last line, by one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same workload with per-layer spans (see ``spans.py``) and reports the
per-layer metrics instead. See ``README.md`` next to this file.

Everything a run writes goes under ``.perfbench/`` in the checkout and
is removed at the end, apart from the span dump of a traced run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from gen import CorpusSpec, write_corpus  # noqa: E402

WORKLOADS = ("kg_batch", "graph_ingest")
# the end-to-end metrics of the JSON result (BENCHMARK.json); the other
# lines of the report are printed for people only
END_TO_END = ("wall_s", "triples_per_s", "setup_s")
PREFIX = "bench_graph"

# kg_batch: mid-length documents, uniform lengths, Zipfian vocabulary,
# pre-split into several files
BATCH = CorpusSpec(docs=300, words=200, vocab=5000, zipf_s=1.1, files=8)
BATCH_WARM = CorpusSpec(docs=40, words=200, vocab=5000, zipf_s=1.1, files=2)
# graph_ingest: heavy-tailed documents (log-normal lengths, 1% giants,
# hub terms in most documents, 2% repeated content), one file of one
# row group — the layout of the driver's sf tables
SKEWED = dict(words=120, vocab=3000, zipf_s=1.2, length="lognormal", sigma=0.8,
              giant_frac=0.01, giant_mult=20, dup_frac=0.02, hubs=3,
              hub_frac=0.8, files=1)
BASE = CorpusSpec(docs=40, **SKEWED)
INCREMENT_DOCS = 40
READS_PER_INCREMENT = 2
# timed units per run: two kg_batch runs (their mean damps a one-off
# stall), one ingest (it costs as much as the kg_batch pair)
UNITS = {"kg_batch": 2, "graph_ingest": 1}


def increment_spec(k: int) -> CorpusSpec:
    return CorpusSpec(docs=INCREMENT_DOCS, id_offset=100_000 + 1_000 * k, **SKEWED)


# ---------------------------------------------------------------------------
# host: pinning, load, memory
# ---------------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = _children(p)
        out.extend(kids)
        todo.extend(kids)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak summed RSS of the JVM and every process under it (the Python
    daemon and workers), sampled from /proc every 100 ms."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            pids = [self.jvm_pid] + descendants(self.jvm_pid)
            self.peak = max(self.peak, sum(_rss_mb(p) for p in pids))
            self._stop.wait(0.1)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------

def triple_checksum(df) -> tuple[int, int]:
    """Order-insensitive content checksum over (subj, pred, obj, support):
    bit_xor of xxhash64 per row (xor, not sum: sum overflows under ANSI)."""
    from pyspark.sql import functions as F

    row = df.select(
        F.xxhash64("subj", "pred", "obj", F.col("support").cast("string")).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("c")).collect()[0]
    return int(row["n"]), int(row["c"] or 0)


def hop2_digest(df) -> tuple[int, int, int]:
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum("n_paths").alias("p"),
                 F.sum("path_support").alias("s")).collect()[0]
    return int(row["n"]), int(row["p"] or 0), int(row["s"] or 0)


class Checker:
    """Compares each output with the value recorded for (workload, seed)
    in the expected file; with no record, with the first value seen in
    this run. Every failed comparison is kept with its reason."""

    def __init__(self, expected: dict, workload: str, seed: int):
        self.recorded = expected.get(workload, {}).get(str(seed), {})
        self.seen: dict[str, object] = {}
        self.failures: list[str] = []

    def check(self, key: str, value) -> bool:
        value = list(value) if isinstance(value, tuple) else value
        want = self.recorded.get(key, self.seen.get(key))
        self.seen.setdefault(key, value)
        if want is not None and want != value:
            self.failures.append(f"{key}: got {value}, want {want}")
            return False
        return True

    def require(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failures.append(what)
        return ok


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class KgBatch:
    """The flagship batch job: in-memory run_pipeline, tf-idf ranker, no
    clustering, no linking (the kg_pipeline_triples configuration)."""

    def __init__(self, spark, run_dir: str, seed: int, checker: Checker):
        self.spark, self.run_dir, self.seed, self.checker = spark, run_dir, seed, checker
        self.src = None

    def generate(self, k: int) -> None:
        self.input_dir = write_corpus(BATCH, self.seed, os.path.join(self.run_dir, f"in{k}"))

    def warm_up(self) -> None:
        warm = write_corpus(BATCH_WARM, self.seed, os.path.join(self.run_dir, "warm"))
        self._pipeline(self.spark.read.parquet(warm))
        self.src = self.spark.read.parquet(self.input_dir)

    def _pipeline(self, src) -> tuple[int, int]:
        from kargo_spark import pipeline

        out = pipeline.run_pipeline(
            self.spark, src, None, ranker="tfidf",
            cluster_relations=False, linking=False, resume=False,
        )
        return triple_checksum(out["triples"])

    def unit(self, samples: dict, tracer=None) -> bool:
        t0 = time.perf_counter()
        n, c = self._pipeline(self.src)
        dt = time.perf_counter() - t0
        samples.setdefault("wall_s", []).append(dt)
        samples.setdefault("triples_per_s", []).append(n / dt)
        ok = self.checker.require(n > 0, "kg_batch produced no triples")
        return self.checker.check("triples", (n, c)) and ok


class GraphIngest:
    """Setup builds the base graph store with the durable, skewed
    configuration of run_pipeline (parquet+manifest checkpoints,
    positionrank, clustering, graph_prefix). The timed loop then
    folds a fixed sequence of small batches into that store with
    ingest_increment (default tf-idf ranker, snapshot commits on) and
    serves two-hop reads from the store after each one."""

    def __init__(self, spark, run_dir: str, seed: int, checker: Checker):
        self.spark, self.run_dir, self.seed, self.checker = spark, run_dir, seed, checker
        self.k = 0
        self.store = (0, 0)
        self.snap_root = os.path.join(run_dir, "snapshots")

    def generate(self, k: int) -> None:
        self.input_dir = write_corpus(BASE, self.seed, os.path.join(self.run_dir, f"in{k}"))

    def warm_up(self) -> None:
        from kargo_spark import pipeline

        out = pipeline.run_pipeline(
            self.spark, self.spark.read.parquet(self.input_dir),
            os.path.join(self.run_dir, "checkpoints"), ranker="positionrank",
            cluster_relations=True, linking=False, graph_prefix=PREFIX,
        )
        self.checker.check("base_triples", triple_checksum(out["triples"]))
        self.store = triple_checksum(self.spark.table(f"{PREFIX}_triples"))
        self.checker.check("base_store", self.store)
        self.spark.catalog.clearCache()

    def unit(self, samples: dict, tracer=None) -> bool:
        from kargo_spark import graph_store, pipeline
        from kargo_spark.iceberg_lite import IcebergLiteTable

        k = self.k
        self.k += 1
        batch_dir = write_corpus(increment_spec(k), self.seed,
                                 os.path.join(self.run_dir, f"batch{k}"))
        before, self.store = self.store, (0, 0)
        batch = self.spark.read.parquet(batch_dir)
        t0 = time.perf_counter()
        merged = pipeline.ingest_increment(
            self.spark, batch, graph_prefix=PREFIX, snapshot_root=self.snap_root,
        )
        dt = time.perf_counter() - t0
        store = self.store = triple_checksum(merged)
        samples.setdefault("wall_s", []).append(dt)
        samples.setdefault("triples_per_s", []).append((store[0] - before[0]) / dt)
        ok = self.checker.check(f"store_{k}", store)
        ok &= self.checker.require(store[0] > before[0], f"increment {k} added no triples")
        snap = triple_checksum(IcebergLiteTable(self.spark, self.snap_root).read())
        ok &= self.checker.require(snap == store, f"increment {k}: snapshot {snap} != store {store}")
        for _ in range(READS_PER_INCREMENT):
            t0 = time.perf_counter()
            with tracer.span("hop2_read", "graph_store") if tracer else contextlib.nullcontext():
                digest = hop2_digest(graph_store.two_hop_from_store(self.spark, PREFIX))
            samples.setdefault("hop2_read_s", []).append(time.perf_counter() - t0)
            ok &= self.checker.check(f"hop2_{k}", digest)
        return ok


# ---------------------------------------------------------------------------
# run
# ---------------------------------------------------------------------------

def start_spark(run_dir: str, cores: int, trace: bool):
    """Session through the engine's own factory, with every scratch path
    inside this run's directory and the shuffle dir set through the
    engine's KARGO_LOCAL_DIR."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["KARGO_LOCAL_DIR"] = os.path.join(run_dir, "local")
    # Spark prefers SPARK_LOCAL_DIRS over the configured local dir; drop it
    # so shuffle files stay in this run's directory
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    extra = "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 " if trace else ""
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false " + extra
        + f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    from kargo_spark.session import get_spark

    return get_spark(app_name="perfbench", master=f"local[{cores}]")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and
    wait for each to end, even when the session no longer answers."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    pids = descendants(proc.pid)
    try:
        spark.stop()
        gw.shutdown()
    finally:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.time() + 30
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def measure(spark, wl, args, tracer, samples: dict, leaked_rdds: list):
    """The timed loop, after setup. Untraced, it runs UNITS units and goes
    on until ``--seconds`` have passed. Traced, it runs one untraced unit,
    then one traced unit. Returns (attempted, failed, loads, peak RSS)."""
    attempted = failed = 0
    loads: list[float] = []
    with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
        start = time.perf_counter()
        while True:
            traced = tracer is not None and attempted == 1
            if traced:
                tracer.install()
            attempted += 1
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()  # no collection left over from the last unit
            try:
                ok = wl.unit(samples, tracer if traced else None)
            except Exception as exc:  # a failed unit is counted, never timed
                wl.checker.failures.append(f"unit {attempted}: {type(exc).__name__}: {exc}")
                ok = False
            failed += not ok
            loads.append(os.getloadavg()[0])
            if traced:
                tracer.release()
            leaked_rdds.append(persistent_rdds(spark))
            if traced:
                tracer.close()
                break
            if (tracer is None and attempted >= UNITS[args.workload]
                    and time.perf_counter() - start >= args.seconds):
                break
    return attempted, failed, loads, rss.peak


def run(args) -> dict:
    # the cores this process may run on (what nproc counts); the JVM and
    # Python workers inherit the mask, and Spark runs local[cores]
    cores = len(os.sched_getaffinity(0))
    with open(args.expected) as f:
        expected = json.load(f)
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "warehouse"))
    cwd = os.getcwd()
    spark = None
    try:
        os.chdir(os.path.join(run_dir, "warehouse"))
        t0 = time.perf_counter()
        spark = start_spark(run_dir, cores, args.trace)
        session_s = time.perf_counter() - t0
        checker = Checker(expected, args.workload, args.seed)
        wl = {"kg_batch": KgBatch, "graph_ingest": GraphIngest}[args.workload](
            spark, run_dir, args.seed, checker)
        gen_s = []
        for k in range(3):  # generation is cheap: take the median of three
            t0 = time.perf_counter()
            wl.generate(k)
            gen_s.append(time.perf_counter() - t0)

        tracer = None
        if args.trace:
            from spans import Tracer
            tracer = Tracer(spark, os.path.join(run_dir, "profile"))
            if args.workload == "graph_ingest":
                tracer.install()  # the base build is where the durable layers run
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(gen_s) + warm_s
        leaked_rdds: list[int] = []
        if tracer is not None:
            tracer.release()
        leaked_rdds.append(persistent_rdds(spark))
        if tracer is not None:
            tracer.close()

        samples: dict[str, list[float]] = {}
        attempted, failed, loads, peak_rss = measure(
            spark, wl, args, tracer, samples, leaked_rdds)
        walls = samples.get("wall_s", [])

        if tracer is not None:
            from spans import metric_names, metric_unit
            layer = tracer.layer_metrics()
            layer["session.leaked_rdds"] = float(max(leaked_rdds))
            layer["session.peak_rss_mb"] = peak_rss
            reads = samples.get("hop2_read_s", [])[:READS_PER_INCREMENT]
            layer["graph_store.hop2_read_p50_s"] = statistics.median(reads) if reads else 0.0
            layer["trace.overhead_ratio"] = walls[-1] / walls[0] if len(walls) == 2 else 0.0
            report = {n: (layer[n], metric_unit(n), 1) for n in metric_names()}
            _dump_trace(tracer, args)
        else:
            report = {"setup_s": (setup_s, "s", 1)}
            for name, unit, shown in (("wall_s", "s", "wall_s"),
                                      ("triples_per_s", "1/s", "triples_per_s"),
                                      ("hop2_read_s", "s", "hop2_read_p50_s")):
                xs = samples.get(name, [])
                # 0 only when no unit recorded a time (the run then fails its checks)
                report[shown] = (statistics.median(xs) if xs else 0.0, unit, len(xs))
            report["peak_rss_mb"] = (peak_rss, "MB", 1)
        return {
            "report": report, "attempted": attempted, "failed": failed,
            "failures": checker.failures, "loads": loads, "cores": cores,
            "leaked_rdds": leaked_rdds, "samples": samples, "checks": checker.seen,
        }
    finally:
        os.chdir(cwd)
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def _dump_trace(tracer, args) -> None:
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "spans": tracer.dump()}, f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", default=os.path.join(HERE, "expected.json"),
                    help="recorded outputs per (workload, seed)")
    args = ap.parse_args()
    # on SIGTERM, unwind through run()'s cleanup: stop the JVM and its
    # workers and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import kargo_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    res = run(args)
    for name, (value, unit, n) in res["report"].items():
        print(f"{args.workload} seed={args.seed} {name} = {value:.6g} {unit} (samples={n})")
    failed_frac = res["failed"] / res["attempted"]
    print(f"{args.workload} seed={args.seed} failed_frac = {failed_frac:.3g} "
          f"({res['failed']}/{res['attempted']}) loadavg_1m={res['loads']} "
          f"cores={res['cores']} leaked_rdds={res['leaked_rdds']}")
    for name, xs in res["samples"].items():
        print(f"{args.workload} seed={args.seed} per-unit {name} = {[round(x, 4) for x in xs]}")
    print(f"{args.workload} seed={args.seed} checks = {json.dumps(res['checks'])}")
    for msg in res["failures"]:
        print(f"CHECK FAILED: {msg}")
    names = [n for n in res["report"] if args.trace or n in END_TO_END]
    print(json.dumps({
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": res["report"][n][0], "unit": res["report"][n][1]}
                    for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
