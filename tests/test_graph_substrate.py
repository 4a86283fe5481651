"""The bucketed graph substrate engaged as the pipeline's OWN output
layout (r04 verdict next-step #2): run_pipeline publishes the bucketed
triple/node/edge/hop tables, 2-hop serves off the persisted store with
zero Exchange, and incremental ingest upserts against the bucketed store
(only the new batch shuffles) with result parity against the
merge_triples contract op — plus crash-safety of the staged swap and
snapshot time-travel across ingest generations.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kargo_spark.graph_store import (
    graph_tables,
    hop_sides,
    merge_into_graph_store,
    merge_triples,
    two_hop,
    two_hop_from_store,
)
from kargo_spark.pipeline import ingest_increment, run_pipeline
from kargo_spark.synth import synth_documents

PREFIX = "t_sub_graph"
SUFFIXES = ("_triples", "_nodes", "_edges", "_hop_t1", "_hop_t2")


def _drop_all(spark, prefix=PREFIX):
    for suf in SUFFIXES:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}{suf}")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}__stage{suf}")


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture()
def store(spark):
    """A bucketed graph store built by the pipeline itself from batch 1."""
    _drop_all(spark)
    docs = synth_documents(spark, n_rows=60, seed=7, distinct_paths=True)
    out = run_pipeline(
        spark, docs, workdir=None, cluster_relations=False, linking=False,
        graph_prefix=PREFIX,
    )
    yield out
    _drop_all(spark)


def test_pipeline_publishes_bucketed_graph_and_serves_two_hop(spark, store):
    triples = store["triples"].select("subj", "pred", "obj", "support")
    persisted = store["graph_triples"]
    assert _rows(persisted) == _rows(triples)
    # nodes/edges present and consistent with the triple count
    assert store["graph_edges"].count() == triples.count()
    assert store["graph_nodes"].count() > 0
    # 2-hop off the persisted hop tables: zero-Exchange join (the
    # function RAISES if the plan shuffles) and row-for-row parity with
    # the from-scratch operator
    served = two_hop_from_store(spark, PREFIX)  # assert_shuffle_free=True
    assert _rows(served) == _rows(two_hop(triples))
    assert served.count() > 0, "synth batch produced no 2-hop paths"


def test_k_hop_from_store_matches_plain_and_stays_local(spark, store):
    from kargo_spark.graph_store import k_hop_from_store, k_hop_reach

    served = k_hop_from_store(spark, PREFIX, k=3)  # asserts edge scan local
    plain = k_hop_reach(spark.table(f"{PREFIX}_edges"), k=3)
    assert _rows(served) == _rows(plain)
    assert served.count() > 0


def test_incremental_ingest_parity_and_snapshots(spark, store, tmp_path):
    triples1 = store["triples"].select("subj", "pred", "obj", "support")
    docs2 = synth_documents(spark, n_rows=40, seed=99, distinct_paths=True)
    snap_root = str(tmp_path / "snap")

    merged = ingest_increment(
        spark, docs2, graph_prefix=PREFIX, snapshot_root=snap_root
    )
    # parity with the contract op: merge_triples(store, batch2 triples)
    from kargo_spark.pipeline import triples_chain

    t2, cached = triples_chain(docs2)
    expect = merge_triples(triples1, t2.select("subj", "pred", "obj", "support"))
    assert _rows(merged) == _rows(expect)
    # the refreshed derived tables equal the same tables derived
    # unbucketed from the contract op's result, row for row
    nodes, edges = graph_tables(expect)
    hop_t1, hop_t2 = hop_sides(expect)
    for suf, want in [("_nodes", nodes), ("_edges", edges),
                      ("_hop_t1", hop_t1), ("_hop_t2", hop_t2)]:
        got = spark.table(f"{PREFIX}{suf}")
        assert _rows(got) == _rows(want.select(*got.columns)), suf
    for df in cached:
        df.unpersist()
    # supports accumulated: total support = batch1 + batch2
    tot = lambda df: df.agg(F.sum("support")).first()[0]
    assert tot(merged) == tot(triples1) + tot(t2)
    # the refreshed hop tables serve the MERGED graph shuffle-free
    assert _rows(two_hop_from_store(spark, PREFIX)) == _rows(two_hop(merged))

    # second ingest -> second snapshot generation; time travel returns
    # the first merge exactly
    from kargo_spark.iceberg_lite import IcebergLiteTable

    first_rows = _rows(merged)
    docs3 = synth_documents(spark, n_rows=30, seed=123, distinct_paths=True)
    ingest_increment(spark, docs3, graph_prefix=PREFIX, snapshot_root=snap_root)
    t = IcebergLiteTable(spark, snap_root)
    snaps = t.snapshots()
    assert len(snaps) == 2
    assert _rows(t.read(snapshot_id=snaps[0]["snapshot_id"])) == first_rows
    assert _rows(t.read()) == _rows(spark.table(f"{PREFIX}_triples"))


def test_merge_crash_before_swap_leaves_store_intact(spark, store, monkeypatch):
    """A merge that dies while writing the staging generation must leave
    the serving store untouched, and a retry must succeed."""
    before = _rows(spark.table(f"{PREFIX}_triples"))
    docs2 = synth_documents(spark, n_rows=40, seed=99, distinct_paths=True)

    from kargo_spark import storage

    real = storage.write_bucketed
    calls = {"n": 0}

    def flaky(df, table, *a, **k):
        calls["n"] += 1
        if calls["n"] == 2:  # die mid-generation: after triples, at nodes
            raise RuntimeError("injected crash")
        return real(df, table, *a, **k)

    monkeypatch.setattr(storage, "write_bucketed", flaky)
    with pytest.raises(RuntimeError, match="injected crash"):
        ingest_increment(spark, docs2, graph_prefix=PREFIX)
    monkeypatch.setattr(storage, "write_bucketed", real)

    assert _rows(spark.table(f"{PREFIX}_triples")) == before
    assert _rows(two_hop_from_store(spark, PREFIX)) == _rows(
        two_hop(spark.table(f"{PREFIX}_triples"))
    )
    # retry completes and folds the batch in
    merged = ingest_increment(spark, docs2, graph_prefix=PREFIX)
    assert merged.count() >= len(before)


def test_merge_without_two_hop_ready_retires_stale_hop_tables(spark, store):
    """A merge that does not refresh the hop tables must DROP the old
    generation's, not leave them silently serving the pre-merge graph."""
    assert spark.catalog.tableExists(f"{PREFIX}_hop_t1")
    docs2 = synth_documents(spark, n_rows=30, seed=5, distinct_paths=True)
    from kargo_spark.pipeline import triples_chain

    t2, cached = triples_chain(docs2)
    merge_into_graph_store(spark, t2.select("subj", "pred", "obj", "support"),
                           prefix=PREFIX)
    for df in cached:
        df.unpersist()
    assert not spark.catalog.tableExists(f"{PREFIX}_hop_t1")
    assert not spark.catalog.tableExists(f"{PREFIX}_hop_t2")
    assert spark.catalog.tableExists(f"{PREFIX}_triples")


def test_merge_raises_when_layout_not_engaged(spark, store):
    """assert_store_side_local is a real tripwire: break the bucket-count
    == shuffle-partitions precondition and the merge must refuse."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(old) * 2 + 1))
    try:
        # independent batch (NOT derived from the bucketed table — a
        # store-derived side would stay co-bucketed and mask the probe)
        new = spark.createDataFrame(
            [("x", "p", "y", 1)], "subj string, pred string, obj string, support long"
        )
        with pytest.raises(AssertionError, match="layout not engaged"):
            merge_into_graph_store(spark, new, prefix=PREFIX)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_swap_refuses_to_delete_foreign_dir_at_table_location(spark, store):
    """r05 verdict what's-wrong #3: a same-named USER directory sitting in
    a pointed-at warehouse (not claimed by the catalog) must make the
    swap's dangling-location sweep refuse, not silently rmtree it —
    the same looks-like-a-Spark-dataset guard storage.write_bucketed has."""
    import os

    from urllib.parse import urlparse

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    path = urlparse(warehouse).path if warehouse.startswith("file:") else warehouse
    # the _edges table name but NOT in the catalog: drop the table, then
    # plant a foreign (non-Spark-dataset) directory at its default location
    spark.sql(f"DROP TABLE IF EXISTS {PREFIX}_edges")
    loc = f"{path}/{PREFIX.lower()}_edges"
    os.makedirs(loc, exist_ok=True)
    marker = os.path.join(loc, "user_data.txt")
    with open(marker, "w") as fh:
        fh.write("not a spark dataset")
    try:
        new = spark.createDataFrame(
            [("x", "p", "y", 1)],
            "subj string, pred string, obj string, support long",
        )
        with pytest.raises(RuntimeError, match="refusing to delete"):
            merge_into_graph_store(spark, new, prefix=PREFIX)
        # the foreign directory survived the refused swap
        assert os.path.exists(marker)
    finally:
        os.remove(marker)
        os.rmdir(loc)
        _drop_all(spark)
