"""Bucketed table storage: co-located joins without a shuffle.

At 10^12-file scale the graph tables (edges keyed by node id, triples
keyed by subject) are joined constantly — entity linking, 2-hop queries,
incremental merges. A plain parquet join shuffles BOTH sides every time;
bucketing (hash-partitioned, sorted files registered in the catalog — the
same mechanism as Iceberg's bucket partition transform) pays the shuffle
ONCE at write time, and every later equi-join on the bucket key runs
shuffle-free (SortMergeJoin with zero Exchange on the bucketed sides).

This is the Spark-native analog of the reference's single-process "load
everything into dicts" joins: the co-location lives in the table layout
instead of one machine's memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed+sorted managed table, ONE file per
    bucket.

    ``n_buckets`` sizes the co-location grain: pick it like
    ``spark.sql.shuffle.partitions`` — enough buckets that one bucket of
    the biggest table fits an executor core's working memory at target
    scale. Sorting within buckets makes the later SortMergeJoin skip its
    sort too.

    One file per bucket: the bucketed writer does NOT shuffle — each
    write task opens one file for every bucket its rows hash to, so a
    frame not partitioned on the bucket key lands as tasks × buckets
    files (a 2-hop side table of a 40-document store: 226 files for 32
    buckets, 661 after three merges), and every later bucketed scan
    opens all of them. Hash-partitioning to exactly ``n_buckets``
    partitions on the bucket columns first uses the same
    ``HashPartitioning(bucket_cols, n_buckets)`` expression Spark
    computes the bucket id with, so each task holds exactly one bucket
    and writes one file. The explicit count keeps AQE from coalescing or
    splitting the partitions. An input the planner already knows to be
    hash-partitioned that way plans no extra Exchange; one it cannot see
    as partitioned (a full outer join's output) is shuffled even when
    its rows are bucket-aligned. Trade-off: a hub bucket is written (and
    sorted, spilling if it must) by one task — the task that already
    reads it in every bucketed join.
    """
    if mode == "overwrite":
        # a managed-table location can outlive its catalog entry (fresh
        # in-memory metastore over an old warehouse dir): overwrite would
        # then fail with LOCATION_ALREADY_EXISTS, so drop + clear first.
        drop_table(df.sparkSession, table)
    writer = (
        df.repartition(n_buckets, *bucket_cols)
        .write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
        .format("parquet")
    )
    writer.saveAsTable(table)


def drop_table(spark: SparkSession, table: str) -> None:
    """DROP ``table`` and clear a leftover dir at its default warehouse
    location, so a following overwrite or catalog RENAME into that
    location cannot collide (a fresh in-memory metastore over an old
    warehouse leaves such dirs behind).

    If the catalog claimed the table right before the DROP, whatever
    remains at the default location was that table's data — it is swept
    freely. Otherwise the dir could be an unrelated same-named user
    directory inside a pointed-at warehouse: it is removed ONLY when it
    looks like a Spark-written dataset (parquet parts, ``_SUCCESS``, no
    foreign entries), and anything foreign makes this RAISE instead of
    deleting it. Handles file:-scheme and bare-path local warehouse
    dirs; db-qualified names only DROP (their location layout is the
    metastore's business — a colliding save fails loudly)."""
    claimed = spark.catalog.tableExists(table)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    path = None
    if warehouse.startswith("file:"):
        from urllib.parse import urlparse

        path = urlparse(warehouse).path
    elif warehouse.startswith("/"):
        path = warehouse
    if path and "." not in table:
        import os
        import shutil

        loc = f"{path}/{table.lower()}"
        if not claimed and os.path.isdir(loc):
            foreign = [
                n
                for n in os.listdir(loc)
                if not (
                    n.startswith("part-") or n.startswith("_") or n.startswith(".")
                )
            ]
            if foreign:
                raise RuntimeError(
                    f"drop_table({table}): {loc} exists, is not claimed by "
                    f"the catalog, and does not look like a Spark dataset "
                    f"(unexpected entries: {foreign[:5]}); refusing to delete "
                    f"it — move it aside or choose another table name or "
                    f"warehouse."
                )
        shutil.rmtree(loc, ignore_errors=True)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def bucketed_join_is_shuffle_free(
    spark: SparkSession, left: str, right: str, on: list[str]
) -> bool:
    """Plan probe: True iff joining the two bucketed tables on ``on``
    introduces NO Exchange (shuffle) on either side — the property the
    bucketing exists to buy. Used by tests and as an operational
    assertion before large merge jobs."""
    plan = (
        spark.table(left)
        .join(spark.table(right), on)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    return "Exchange hashpartitioning" not in plan


def write_graph_bucketed(
    spark: SparkSession,
    triples: DataFrame,
    prefix: str = "kargo_graph",
    n_buckets: int | None = None,
    two_hop_ready: bool = False,
    max_mid_degree: int | None = None,
) -> tuple[str, str]:
    """Materialize the triple store as bucketed graph tables:
    edges bucketed by src (out-neighborhood scans), nodes bucketed by
    node_id (entity-linking lookups), and the raw triples bucketed by
    (subj, obj) + sorted by the full key — the layout
    ``graph_store.merge_into_graph_store`` upserts against with only the
    NEW batch shuffling (the store side scans bucketed). (subj, obj)
    rather than the full triple key deliberately: a subset of the merge
    keys still co-partitions the join (requireAllClusterKeysForCoPartition
    = false, set in session.get_spark), and it survives the optimizer
    constant-folding a literal pred (the unclustered 'cooccurs_with'
    path) out of the join keys — full-key bucketing silently loses the
    layout there (probed r05). With ``two_hop_ready`` the two hop orientations are also
    persisted bucketed+sorted on the middle key, so
    ``graph_store.two_hop_from_store`` joins them with ZERO Exchange.
    Returns (nodes_tbl, edges_tbl).

    ``n_buckets`` defaults to the session's spark.sql.shuffle.partitions:
    a bucketed scan is only preserved (not "disabled by query planner")
    when the other join side can be shuffled to EXACTLY the bucket
    count, and Spark picks the shuffle-partition number for that side —
    mismatched counts silently forfeit the layout (probed r05).

    ``max_mid_degree`` applies ``two_hop``'s hub guard at WRITE time (the
    right place at scale: hot middles are excluded once, not per query).
    """
    from .graph_store import graph_tables, hop_sides

    if n_buckets is None:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # write the triples table FIRST, then derive every other table from
    # its persisted bucketed scan: the input DAG (which may be the whole
    # docs->triples chain, or an incremental merge join) executes exactly
    # once instead of once per derived table. The store schema is the
    # canonical merge key + support; provenance (a bounded array the
    # checkpointed triples stage keeps) is not part of the upsert
    # contract (merge_triples sums support, it cannot merge arrays).
    write_bucketed(
        triples.select("subj", "pred", "obj", "support"),
        f"{prefix}_triples",
        ["subj", "obj"],
        n_buckets,
        sort_cols=["subj", "pred", "obj"],
    )
    persisted = spark.table(f"{prefix}_triples")
    nodes, edges = graph_tables(persisted)
    nodes_tbl, edges_tbl = f"{prefix}_nodes", f"{prefix}_edges"
    write_bucketed(nodes, nodes_tbl, ["node_id"], n_buckets)
    write_bucketed(edges, edges_tbl, ["src"], n_buckets)
    if two_hop_ready:
        t1, t2 = hop_sides(persisted, max_mid_degree)
        write_bucketed(t1, f"{prefix}_hop_t1", ["mid"], n_buckets)
        write_bucketed(t2, f"{prefix}_hop_t2", ["mid"], n_buckets)
    return nodes_tbl, edges_tbl
