"""Unit tests for large-star/small-star connected components."""

import pytest

from cutwed_spark.operators.clustering import assign_clusters, connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["conv_id_a", "conv_id_b"])
    out, _ = connected_components(df)
    return {r["conv_id"]: r["cluster_id"] for r in out.collect()}


def test_chain_and_island(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_long_chain_converges(spark):
    n = 40
    edges = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)]
    got = _cc(spark, edges)
    assert set(got.values()) == {"n000"}
    assert len(got) == n + 1


def test_duplicate_and_reversed_edges(spark):
    got = _cc(spark, [("b", "a"), ("a", "b"), ("b", "c"), ("c", "b")])
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_star_graph(spark):
    edges = [("hub", f"s{i}") for i in range(20)]
    got = _cc(spark, edges)
    assert set(got.values()) == {"hub"}


def test_assign_clusters_singletons(spark):
    series = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["conv_id"])
    edges = spark.createDataFrame([("a", "b")], ["conv_id_a", "conv_id_b"])
    out, _ = assign_clusters(series, edges)
    got = {r["conv_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {"a": "a", "b": "a", "c": "c", "d": "d"}


def test_empty_edges(spark):
    series = spark.createDataFrame([("a",), ("b",)], ["conv_id"])
    edges = spark.createDataFrame([], "conv_id_a string, conv_id_b string")
    out, _ = assign_clusters(series, edges)
    got = {r["conv_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {"a": "a", "b": "b"}


def test_non_convergence_raises(spark):
    """A 200-node path needs more than two star rounds. Running out of
    rounds must raise, not return the half-contracted labels (after two
    rounds they split the one component into 196 clusters)."""
    edges = [(f"p{i:03d}", f"p{i+1:03d}") for i in range(199)]
    df = spark.createDataFrame(edges, ["conv_id_a", "conv_id_b"])
    with pytest.raises(RuntimeError, match="max_iter=2"):
        connected_components(df, max_iter=2)
    got = _cc(spark, edges)
    assert len(got) == 200
    assert set(got.values()) == {"p000"}
