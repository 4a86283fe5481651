"""Graph-table materialization: the triple store as node/edge tables.

The north rule materializes the deduplicated (subj, pred, obj) triples as
graph tables (nodes + edges) for downstream graph queries. Pure Column
ops: node ids are content hashes (deterministic across runs/partitions),
degrees are partial-aggregated, and both tables are plain DataFrames the
checkpoint writer persists like any stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def node_id(col):
    """Deterministic 12-hex node id from the canonical surface."""
    return F.substring(F.md5(F.lower(col)), -12, 12)


def two_hop(triples: DataFrame, max_mid_degree: int | None = None) -> DataFrame:
    """2-hop reachability over the triple store — the downstream graph
    query the materialized tables exist for. (src, dst) pairs connected
    via some middle node, with n_paths = #distinct middles and
    path_support = sum over paths of min(hop supports).

    Scale: a self-join on the middle key — hub middles (top-degree terms)
    square their row counts, so ``max_mid_degree`` optionally anti-joins
    middles above a degree cutoff (same shape as the hot-shingle guard in
    dedup.ngram_jaccard_pairs) before the join.
    """
    t1, t2 = hop_sides(triples, max_mid_degree)
    return _paths(t1.join(t2, "mid"))


def hop_sides(
    triples: DataFrame, max_mid_degree: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """The two join sides of the 2-hop self-join: t1 = (src, mid, s1)
    keyed by a hop's object, t2 = (mid, dst, s2) keyed by its subject.
    Parallel edges (several preds between one node pair, e.g. the
    pipeline's rel_0/rel_1 clusters) are collapsed first: without that, a
    single a→b→c path is counted once per pred combination and
    path_support inflates by the cross-product. ``max_mid_degree``
    anti-joins middles whose out-degree exceeds it from both sides."""
    hop = triples.groupBy("subj", "obj").agg(F.sum("support").alias("support"))
    t1 = hop.select(
        F.col("subj").alias("src"), F.col("obj").alias("mid"), F.col("support").alias("s1")
    )
    t2 = hop.select(
        F.col("subj").alias("mid"), F.col("obj").alias("dst"), F.col("support").alias("s2")
    )
    if max_mid_degree is not None:
        hot = (
            t2.groupBy("mid").agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") > max_mid_degree)
        )
        t1 = t1.join(hot, "mid", "left_anti")
        t2 = t2.join(hot, "mid", "left_anti")
    return t1, t2


def _paths(joined: DataFrame) -> DataFrame:
    """(src, mid, s1) ⋈ (mid, dst, s2) rows -> one row per (src, dst):
    n_paths = #distinct middles, path_support = sum of min(s1, s2)."""
    return (
        joined.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(
            F.countDistinct("mid").alias("n_paths"),
            F.sum(F.least("s1", "s2")).alias("path_support"),
        )
    )


def _assert_one_shuffle(result: DataFrame, what: str) -> None:
    """Raise unless the composed 2-hop query plans at most ONE
    hash-partitioning Exchange — the final (src, dst) aggregation; a
    second one means the bucketed join itself shuffled. Probes the FULL
    composed query (not just the bare join subplan — the consumer query
    is what actually executes), at plan time: AQE can only downgrade the
    join to broadcast (still shuffle-free), never add an Exchange this
    probe would miss."""
    plan = result._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    if n_exchanges > 1:
        raise AssertionError(
            f"{what} planned {n_exchanges} shuffles (expected only the "
            "final aggregation) — bucket layout not engaged (check bucket "
            "counts / join key):\n" + plan
        )


def merge_triples(existing: DataFrame, new: DataFrame) -> DataFrame:
    """Incremental-ingest merge: fold a new batch's triples into the
    existing store, accumulating support for triples seen again and
    inserting unseen ones — the upsert the pipeline runs per ingest cycle
    instead of recomputing the store from scratch. Pure union +
    partial-agg groupBy (one shuffle on the triple key); pairs with the
    bucketed store so repeated merges reuse the layout, and with
    iceberg_lite commits so every merge is a snapshot
    (tests/test_iceberg_lite.py::test_incremental_triple_merge_snapshots).
    """
    return (
        existing.unionByName(new)
        .groupBy("subj", "pred", "obj")
        .agg(F.sum("support").alias("support"))
    )


def k_hop_reach(edges: DataFrame, k: int = 3) -> DataFrame:
    """BFS reachability counts over the (directed) edge table: for every
    node, how many distinct nodes it reaches within <= k hops (start
    excluded; cycles and revisits deduplicated per level — true BFS set
    semantics, not path counts).

    Distributed shape: k frontier-expansion rounds, each ONE join of the
    current frontier with the edge table plus a distinct against the
    visited set — the standard iterative-join BFS; the visited/frontier
    tables are localCheckpointed per round so lineage stays O(1) instead
    of O(k) (the pointer-jumping CC uses the same device). Frontier
    growth is bounded by dedup; hub fan-out skew lands on AQE's skew
    splitting of the join. k is small and fixed (graph queries, not
    transitive closure) — for unbounded closure use
    clustering.connected_components.
    """
    e = edges.select("src", "dst").distinct().persist()
    # frontier/visited derive from e, so give the join side fresh names
    # (Spark's ambiguous-self-join check rightly rejects e["dst"] here)
    e_step = e.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))
    visited = e.select(F.col("src").alias("start"), F.col("dst").alias("node")).distinct()
    frontier = visited
    for _ in range(k - 1):
        nxt = (
            frontier.join(e_step, frontier["node"] == F.col("e_src"))
            .select("start", F.col("e_dst").alias("node"))
            .distinct()
            .join(visited, ["start", "node"], "left_anti")
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    # e stays persisted for the caller's action (k rounds re-read it);
    # blocks release via ContextCleaner when the plan is GC'd
    return (
        visited.filter(F.col("start") != F.col("node"))
        .groupBy("start")
        .agg(F.count(F.lit(1)).alias("n_reach"))
    )


def two_hop_bucketed(
    triples: DataFrame,
    max_mid_degree: int | None = None,
    prefix: str = "kargo_2hop",
    n_buckets: int = 16,
    assert_shuffle_free: bool = True,
) -> DataFrame:
    """``two_hop`` with the self-join routed through bucketed tables —
    the 100-TB substrate engaged end-to-end (r03 verdict next-step #5).

    The two join sides (t1 keyed by its middle = hop.obj, t2 keyed by its
    middle = hop.subj) are persisted as tables bucketed+sorted on ``mid``
    with the same bucket count, so the join on ``mid`` runs with ZERO
    Exchange on either side: the shuffle is paid once at write time and
    amortized over every later 2-hop / merge pass, which is exactly the
    economics that matter when the hop table is 10^12 rows. With
    ``assert_shuffle_free`` the function RAISES if the composed 2-hop
    query plans MORE than the one expected hash-partitioning Exchange
    (the final (src, dst) aggregation) — i.e. if the join itself would
    shuffle — making the layout property an operational contract rather
    than a hope. Results are identical to ``two_hop`` (same hub guard,
    same aggregation).
    """
    from .storage import write_bucketed

    spark = triples.sparkSession
    t1, t2 = hop_sides(triples, max_mid_degree)
    write_bucketed(t1, f"{prefix}_t1", ["mid"], n_buckets)
    write_bucketed(t2, f"{prefix}_t2", ["mid"], n_buckets)
    result = _paths(spark.table(f"{prefix}_t1").join(spark.table(f"{prefix}_t2"), "mid"))
    if assert_shuffle_free:
        _assert_one_shuffle(result, "bucketed 2-hop query")
    return result


def k_hop_from_store(
    spark, prefix: str = "kargo_graph", k: int = 3,
    assert_edges_local: bool = True,
) -> DataFrame:
    """``k_hop_reach`` over the PERSISTED bucketed edge table
    (``{prefix}_edges``, bucketed on src by write_graph_bucketed): every
    BFS round joins the frontier against the edge scan IN PLACE — the
    frontier (small, shrinking) re-shuffles per round, the edge table
    (the 10^12-row side) never does. Subset partitioning makes even the
    initial ``distinct`` reuse the bucket layout (probed r05: zero
    Exchange on the edge scans). ``assert_edges_local`` raises if the
    first-round plan shows an Exchange above an edge-table scan."""
    edges = spark.table(f"{prefix}_edges")
    if assert_edges_local:
        probe = edges.select("src", "dst").distinct()
        e_step = probe.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))
        frontier = probe.select(F.col("src").alias("start"), F.col("dst").alias("node"))
        lines = (
            frontier.join(e_step, frontier["node"] == e_step["e_src"])
            ._jdf.queryExecution().executedPlan().toString().splitlines()
        )
        scan_idx = [
            i for i, ln in enumerate(lines)
            if "FileScan parquet" in ln and f"{prefix}_edges".lower() in ln.lower()
        ]
        if not scan_idx or any(
            "Bucketed: true" not in lines[i] or (i > 0 and "Exchange" in lines[i - 1])
            for i in scan_idx
        ):
            raise AssertionError(
                "k-hop edge scan is not bucketed-local — layout not engaged:\n"
                + "\n".join(lines)
            )
    return k_hop_reach(edges, k=k)


def two_hop_from_store(
    spark, prefix: str = "kargo_graph", assert_shuffle_free: bool = True
) -> DataFrame:
    """Serve the 2-hop query off the PERSISTED bucketed substrate written
    by ``storage.write_graph_bucketed(..., two_hop_ready=True)`` — no
    per-query re-derivation of the hop tables at all. Both hop
    orientations are already bucketed+sorted on ``mid`` with matching
    bucket counts, so the join plans with ZERO Exchange besides the final
    (src, dst) aggregation — the shape ``run_pipeline`` leaves behind so
    repeated graph queries never re-shuffle the store. Same semantics as
    ``two_hop`` (the hub guard, if any, was applied at write time).
    """
    result = _paths(
        spark.table(f"{prefix}_hop_t1").join(spark.table(f"{prefix}_hop_t2"), "mid")
    )
    if assert_shuffle_free:
        _assert_one_shuffle(result, "2-hop over the persisted store")
    return result


def merge_into_graph_store(
    spark,
    new: DataFrame,
    prefix: str = "kargo_graph",
    assert_store_side_local: bool = True,
    **write_kwargs,
) -> DataFrame:
    """Incremental ingest against the PERSISTED store: fold a new batch
    into the ``{prefix}_triples`` bucketed table and refresh the derived
    node/edge/hop tables. Same result as ``merge_triples(store, new)``
    (tested row-for-row) but with the store-scale economics: the merge is
    a full-outer join on the triple key served by the store's (subj, obj)
    bucket layout (a subset of the join keys — see write_graph_bucketed
    for why the subset, not the full key), so ONLY the new batch
    shuffles — the 10^12-row store side scans its bucketed layout in
    place (``assert_store_side_local`` raises if the plan says
    otherwise). The refreshed tables are written to staging names and
    swapped in via catalog rename, so a reader never sees a dropped
    store, and the swap only happens after the merged data is fully
    written (kill-safe: a killed merge leaves the old store intact; the
    swap itself is per-table atomic, not cross-table — pair with the
    pipeline's iceberg_lite triples snapshot, from which the serving
    tables are rebuildable, for torn-swap recovery).

    ``write_kwargs`` pass through to ``storage.write_graph_bucketed``
    (``two_hop_ready``, ``max_mid_degree``, ``n_buckets``).

    Cost model per ingest: the triples MERGE is O(batch) shuffle + an
    in-place store scan; the derived node/edge/hop tables are then
    re-aggregated from the persisted merged scan — one bucketed scan +
    one shuffle each, O(store) but embarrassingly parallel, no join.
    Every table write hash-partitions on its bucket key (one file per
    bucket, see ``storage.write_bucketed``); that includes the merged
    triples, whose rows are already bucket-aligned but which Spark
    cannot see as partitioned (a full outer join reports no output
    partitioning), so their write also shuffles O(store). Measured on
    the ``graph_ingest`` store of perfbench (seed 1, local[4], 4-vCPU
    VM, ``tools/bucketed_write_plans.py``): the derived writes were
    0.77-0.80 of the store-write time of each increment (7.6 of 9.5 s
    at the third) while they wrote tasks × buckets files, and are
    0.56-0.61 (3.2 of 5.5 s) at one file per bucket. A fully
    incremental derived refresh (degree deltas only for first-seen
    triple keys) is possible since every column is a sum/count, but
    needs new-key lineage out of the merge join; the simple recompute is
    the deliberate trade until a profile shows the derived pass, not the
    merge, dominating.
    """
    from .storage import drop_table, write_graph_bucketed

    # subset co-partitioning must be allowed for the (subj, obj) bucket
    # layout to serve the 3-key merge join (see write_graph_bucketed);
    # runtime-settable, so enforce it here for sessions not built by
    # session.get_spark
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    store_tbl = f"{prefix}_triples"
    store = spark.table(store_tbl)
    new_agg = new.groupBy("subj", "pred", "obj").agg(
        F.sum("support").alias("support")
    )
    merged = (
        store.alias("s")
        .join(new_agg.alias("n"), ["subj", "pred", "obj"], "full_outer")
        .select(
            "subj", "pred", "obj",
            (
                F.coalesce(F.col("s.support"), F.lit(0))
                + F.coalesce(F.col("n.support"), F.lit(0))
            ).alias("support"),
        )
    )
    if assert_store_side_local:
        # the NEW side is an arbitrary chain (its own shuffles are
        # legitimate); the contract is about the STORE side only: its
        # FileScan must engage the bucketed layout and feed the join
        # without an Exchange above it.
        plan = merged._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        scan_idx = [
            i for i, ln in enumerate(lines)
            if "FileScan parquet" in ln and store_tbl in ln
        ]
        bad = not scan_idx or any(
            "Bucketed: true" not in lines[i]
            or (i > 0 and "Exchange" in lines[i - 1])
            for i in scan_idx
        )
        if bad:
            raise AssertionError(
                "store-side merge scan is not bucketed or is re-shuffled "
                "— layout not engaged (bucket count must equal "
                "spark.sql.shuffle.partitions):\n" + plan
            )
    stage = f"{prefix}__stage"
    write_graph_bucketed(spark, merged, prefix=stage, **write_kwargs)
    # swap: staging tables exist and are complete; now atomically (per
    # table) retire the old generation. Catalog rename moves the managed
    # location with it (probed r05: bucketing spec survives the rename).
    for suf in ["_nodes", "_edges", "_triples", "_hop_t1", "_hop_t2"]:
        has_stage = spark.catalog.tableExists(f"{stage}{suf}")
        drop_table(spark, f"{prefix}{suf}")
        if has_stage:
            spark.sql(f"ALTER TABLE {stage}{suf} RENAME TO {prefix}{suf}")
        # else: the new generation has no such table — the stale one from
        # the previous generation is dropped rather than left serving the
        # OLD graph (a merge without two_hop_ready retires the hop tables)
    return spark.table(store_tbl)


def graph_tables(triples: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(subj, pred, obj, support) -> (nodes, edges).

    nodes: (node_id, surface, out_degree, in_degree, degree,
            total_support) — one shuffle per side + one join.
    edges: (src, pred, dst, support) with hashed endpoint ids.
    """
    edges = triples.select(
        node_id(F.col("subj")).alias("src"),
        "pred",
        node_id(F.col("obj")).alias("dst"),
        "support",
    )
    out_deg = triples.groupBy(F.lower("subj").alias("surface")).agg(
        F.count(F.lit(1)).alias("out_degree"),
        F.sum("support").alias("out_support"),
    )
    in_deg = triples.groupBy(F.lower("obj").alias("surface")).agg(
        F.count(F.lit(1)).alias("in_degree"),
        F.sum("support").alias("in_support"),
    )
    nodes = (
        out_deg.join(in_deg, "surface", "full_outer")
        .fillna({"out_degree": 0, "in_degree": 0, "out_support": 0, "in_support": 0})
        .select(
            node_id(F.col("surface")).alias("node_id"),
            "surface",
            "out_degree",
            "in_degree",
            (F.col("out_degree") + F.col("in_degree")).alias("degree"),
            (F.col("out_support") + F.col("in_support")).alias("total_support"),
        )
    )
    return nodes, edges
