#!/usr/bin/env python
"""File layout of the bucketed graph store, generation by generation.

Builds the ``graph_ingest`` store of ``perfbench/run.py`` (same corpus
generator, seed, base build and increments). After the base build and
after each increment it prints how many data files each of the five
graph tables holds and how long each table's write took. At the end it
writes the executed physical plan of the last merge's ``hop_t1`` and
``triples`` writes to ``<out_dir>/<table>_write_<tag>.txt`` (the
evidence in plans/bucketed_write/). Everything else it writes goes to a
temporary directory that is removed at the end.

    python tools/bucketed_write_plans.py <tag> [out_dir] [seed] [increments]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from run import BASE, PREFIX, increment_spec  # noqa: E402
from gen import write_corpus  # noqa: E402

SUFFIXES = ("_triples", "_nodes", "_edges", "_hop_t1", "_hop_t2")


def file_counts(spark) -> dict[str, int]:
    out = {}
    for suf in SUFFIXES:
        loc = next(
            r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {PREFIX}{suf}").collect()
            if r["col_name"] == "Location"
        )
        path = loc.removeprefix("file:")
        out[suf[1:]] = sum(n.startswith("part-") for n in os.listdir(path))
    return out


def main() -> None:
    tag = sys.argv[1]
    out_dir = os.path.abspath(
        sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "plans", "bucketed_write")
    )
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    increments = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    work = tempfile.mkdtemp(prefix="bucketed_write_")
    cwd = os.getcwd()
    os.chdir(work)  # the session's warehouse lands in the temp dir
    try:
        from kargo_spark import pipeline, storage
        from kargo_spark.session import get_spark

        spark = get_spark(app_name="bucketed_write_plans")
        sc = spark.sparkContext
        real = storage.write_bucketed
        write_s: dict[str, float] = {}

        def labelled(df, table, *a, **k):
            # tag the write's SQL executions with the table name, and time it
            sc.setJobDescription(f"write {table}")
            t0 = time.perf_counter()
            try:
                return real(df, table, *a, **k)
            finally:
                suffix = table.removeprefix(f"{PREFIX}__stage").removeprefix(PREFIX)
                write_s[suffix.lstrip("_")] = round(time.perf_counter() - t0, 2)
                sc.setJobDescription(None)

        def report(what: str) -> None:
            derived = sum(v for t, v in write_s.items() if t != "triples")
            print(f"{tag} {what}: files {file_counts(spark)}")
            print(f"{tag} {what}: write_s {write_s} derived share "
                  f"{derived / sum(write_s.values()):.2f}")
            write_s.clear()

        storage.write_bucketed = labelled
        base = write_corpus(BASE, seed, os.path.join(work, "in"))
        pipeline.run_pipeline(
            spark, spark.read.parquet(base), os.path.join(work, "ck"),
            ranker="positionrank", cluster_relations=True, linking=False,
            graph_prefix=PREFIX,
        )
        report("base")
        for k in range(increments):
            batch = write_corpus(increment_spec(k), seed, os.path.join(work, f"b{k}"))
            pipeline.ingest_increment(
                spark, spark.read.parquet(batch), graph_prefix=PREFIX,
                snapshot_root=os.path.join(work, "snap"),
            )
            report(f"increment {k}")

        execs = spark._jsparkSession.sharedState().statusStore().executionsList()
        os.makedirs(out_dir, exist_ok=True)
        for table in ("hop_t1", "triples"):
            want = f"write {PREFIX}__stage_{table}"
            plans = [
                execs.apply(i).physicalPlanDescription()
                for i in range(execs.size())
                if execs.apply(i).description() == want
            ]
            path = os.path.join(out_dir, f"{table}_write_{tag}.txt")
            with open(path, "w") as fh:
                fh.write(plans[-1].replace(work, "<tmp>"))
            print(f"{tag} plan: last of {len(plans)} executions for '{want}' -> {path}")
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
