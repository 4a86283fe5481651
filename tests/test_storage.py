"""Bucketed-table co-location: the join the bucketing exists to buy must
plan WITHOUT a shuffle on the bucketed key."""

from __future__ import annotations

import os
import re
from urllib.parse import urlparse

from pyspark.sql import functions as F

from kargo_spark import storage


def test_bucketed_join_plans_without_shuffle(spark):
    a = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    storage.write_bucketed(a, "t_bucketed_a", ["k"], n_buckets=8)
    storage.write_bucketed(b, "t_bucketed_b", ["k"], n_buckets=8)
    try:
        assert storage.bucketed_join_is_shuffle_free(spark, "t_bucketed_a", "t_bucketed_b", ["k"])
        joined = storage.read_table(spark, "t_bucketed_a").join(
            storage.read_table(spark, "t_bucketed_b"), "k"
        )
        assert joined.count() == 500
        # control: the same join over plain parquet DOES shuffle
        plain = a.join(b, "k")
        plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in plan or "BroadcastHashJoin" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucketed_a")
        spark.sql("DROP TABLE IF EXISTS t_bucketed_b")


def test_write_graph_bucketed_roundtrip(spark):
    triples = spark.createDataFrame(
        [("a", "p", "b", 2), ("b", "p", "c", 1), ("a", "q", "c", 3)],
        "subj string, pred string, obj string, support long",
    )
    try:
        nodes_tbl, edges_tbl = storage.write_graph_bucketed(
            spark, triples, prefix="t_kg", n_buckets=4
        )
        edges = storage.read_table(spark, edges_tbl)
        nodes = storage.read_table(spark, nodes_tbl)
        assert edges.count() == 3
        assert nodes.count() == 3
        # the 2-hop self-join on the bucketed key plans shuffle-free
        assert storage.bucketed_join_is_shuffle_free(
            spark, edges_tbl, edges_tbl, ["src"]
        )
        # the raw triples are persisted too, bucketed on (subj, obj) and
        # sorted by the full key (the merge substrate)
        assert storage.read_table(spark, "t_kg_triples").count() == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS t_kg_nodes")
        spark.sql("DROP TABLE IF EXISTS t_kg_edges")
        spark.sql("DROP TABLE IF EXISTS t_kg_triples")


def _table_files(spark, table):
    loc = next(
        r["data_type"]
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        if r["col_name"] == "Location"
    )
    return [n for n in os.listdir(urlparse(loc).path) if n.startswith("part-")]


def test_write_bucketed_writes_one_file_per_bucket(spark):
    """A write task opens one file per bucket its rows hash to, so an
    input not partitioned on the bucket key lands as tasks x buckets
    files; write_bucketed hash-partitions on the key first, so each
    bucket is one file."""
    df = spark.range(0, 4000, 1, numPartitions=16).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    storage.write_bucketed(df, "t_one_file", ["k"], n_buckets=8)
    try:
        parts = _table_files(spark, "t_one_file")
        # Spark's bucket-file naming: part-<task>-<uuid>_<bucket id>.c000...
        bucket_ids = [re.search(r"_(\d+)(?:\..*)?$", n).group(1) for n in parts]
        assert 0 < len(parts) <= 8, parts
        assert len(set(bucket_ids)) == len(parts), parts
        got = storage.read_table(spark, "t_one_file")
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))
        assert storage.bucketed_join_is_shuffle_free(
            spark, "t_one_file", "t_one_file", ["k"]
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_one_file")
