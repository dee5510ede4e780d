"""Connected components vs the DSU oracle on hand-built and random graphs."""

from __future__ import annotations

import random

import pytest

from duplicate_image_detector_spark.operators.components import (
    connected_components,
    py_dsu_components,
)

GRAPHS = {
    "chain": [(i, i + 1) for i in range(1, 20)],
    "star": [(1, i) for i in range(2, 15)],
    "two_components": [(1, 2), (2, 3), (10, 11), (11, 12), (12, 13)],
    "self_loop": [(5, 5), (5, 6)],
    "duplicate_edges": [(1, 2), (2, 1), (1, 2)],
    "single_edge": [(7, 9)],
}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_cc_matches_dsu(spark, name):
    edges = GRAPHS[name]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    expected_raw = py_dsu_components([(a, b) for a, b in edges if a != b])
    # DSU maps each node to component min already (union by min)
    expected = {n: r for n, r in expected_raw.items()}
    assert got == expected


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_cc_fast_path_equals_star_rounds(spark, name):
    """The driver union-find fast path and the distributed alternating-star
    rounds must emit the identical (doc_id, cluster_id) set."""
    df = spark.createDataFrame(GRAPHS[name], "id_a long, id_b long")
    fast = {tuple(r) for r in connected_components(df).collect()}
    dist = {
        tuple(r)
        for r in connected_components(df, small_graph_edges=0).collect()
    }
    assert fast == dist


def test_cc_fast_path_struct_ids(spark):
    """id_bits=128 struct keys ride through the driver fast path: labels
    are the lexicographic component-min structs, same as the star rounds."""
    edges = [
        ((1, 9), (2, 0)),
        ((2, 0), (1, 10)),
        ((5, 1), (5, 2)),
    ]
    schema = (
        "id_a struct<h1:bigint,h2:bigint>, id_b struct<h1:bigint,h2:bigint>"
    )
    df = spark.createDataFrame(edges, schema)
    fast = {
        (tuple(r["doc_id"]), tuple(r["cluster_id"]))
        for r in connected_components(df).collect()
    }
    dist = {
        (tuple(r["doc_id"]), tuple(r["cluster_id"]))
        for r in connected_components(df, small_graph_edges=0).collect()
    }
    assert fast == dist
    assert fast == {
        ((1, 9), (1, 9)),
        ((2, 0), (1, 9)),
        ((1, 10), (1, 9)),
        ((5, 1), (5, 1)),
        ((5, 2), (5, 1)),
    }


def test_cc_random_graph(spark):
    rng = random.Random(7)
    nodes = list(range(1000))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(600)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    expected = py_dsu_components(edges)
    assert got == expected


def test_cc_distributed_path_releases_round_caches(spark):
    """The distributed star rounds release every round cache: the returned
    frame reads the converged forest from parquet, so repeated calls leave
    the session's cached-RDD count where it was."""
    edges = [(i, i + 1) for i in range(1, 41)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    want = py_dsu_components(edges)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    live = []
    for _ in range(3):
        out = connected_components(df, small_graph_edges=0)
        assert {r["doc_id"]: r["cluster_id"] for r in out.collect()} == want
        live.append(jsc.getPersistentRDDs().size())
    assert live == [before] * 3


def test_cc_edge_count_hint_paths_identical(spark):
    """edge_count_hint is an upper bound: a small bound proves the driver
    path without a count job, a large/absent bound falls back to
    counting.  All three must produce the identical labeling, and the
    small bound must submit fewer Spark jobs than no bound."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "id_a bigint, id_b bigint"
    )
    tracker = spark.sparkContext.statusTracker()

    def labels_and_jobs(**kw):
        before = max(tracker.getJobIdsForGroup(None), default=-1)
        got = sorted(map(tuple, connected_components(edges, **kw).collect()))
        return got, max(tracker.getJobIdsForGroup(None)) - before

    want, unhinted_jobs = labels_and_jobs()
    small_hint, hinted_jobs = labels_and_jobs(edge_count_hint=5)
    assert hinted_jobs < unhinted_jobs
    big_hint, _ = labels_and_jobs(edge_count_hint=10**9)
    assert small_hint == want
    assert big_hint == want


def test_cc_failed_round_releases_round_caches(spark, monkeypatch):
    """A distributed CC call that raises mid-loop still releases the round
    caches it persisted: they belong to a scope closed on every exit."""
    from duplicate_image_detector_spark.operators import components as C

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 41)], "id_a long, id_b long"
    )
    checksum = C._checksum
    calls = []

    def failing_second_call(edges):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("checksum failed")
        return checksum(edges)

    monkeypatch.setattr(C, "_checksum", failing_second_call)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="checksum failed"):
        connected_components(df, small_graph_edges=0)
    assert len(calls) == 2
    assert jsc.getPersistentRDDs().size() == before
