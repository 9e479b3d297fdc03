"""Connected-components operator: exact labels vs a union-find reference."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elevate_data_pipeline_spark.operators.cluster import (
    connected_components,
    label_components,
)


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min id in component
    label = {}
    for n in nodes:
        r = find(n)
        label.setdefault(r, min(m for m in nodes if find(m) == r))
    return {n: label[find(n)] for n in nodes}


def _labels(spark, nodes, edges, local_threshold=1_000_000):
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "id: long")
    edges_df = spark.createDataFrame(
        edges or [(0, 0)], "src: long, dst: long"
    )
    if not edges:
        edges_df = edges_df.filter(F.lit(False))
    out = label_components(
        nodes_df, "id", edges_df, local_threshold=local_threshold
    )
    return {r["id"]: r["component"] for r in out.collect()}


CASES = [
    # chain: worst case for naive propagation, fine for star contraction
    (list(range(10)), [(i, i + 1) for i in range(9)]),
    # two components + isolated nodes
    ([1, 2, 3, 4, 5, 6, 7, 8], [(1, 2), (2, 3), (5, 6)]),
    # duplicate and reversed edges, self-loop
    ([1, 2, 3], [(1, 2), (2, 1), (1, 2), (3, 3)]),
    # star already
    ([1, 2, 3, 4], [(1, 2), (1, 3), (1, 4)]),
    # cycle
    ([1, 2, 3, 4], [(1, 2), (2, 3), (3, 4), (4, 1)]),
    # no edges at all
    ([7, 9, 11], []),
    # descending chain ids (root is the far end)
    ([10, 20, 30, 40], [(40, 30), (30, 20), (20, 10)]),
]


@pytest.mark.parametrize("local_threshold", [1_000_000, 0], ids=["local", "distributed"])
@pytest.mark.parametrize("nodes,edges", CASES)
def test_components_match_union_find(spark, nodes, edges, local_threshold):
    got = _labels(spark, nodes, edges, local_threshold=local_threshold)
    assert got == _union_find(nodes, edges)


@pytest.mark.parametrize("local_threshold", [1_000_000, 0], ids=["local", "distributed"])
def test_connected_components_excludes_roots(spark, local_threshold):
    e = spark.createDataFrame([(1, 2), (2, 3)], "src: long, dst: long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(e, local_threshold=local_threshold).collect()
    }
    assert got == {2: 1, 3: 1}  # root 1 labels itself implicitly


def test_two_interleaved_chains(spark):
    # odd and even chains interleave in id order but never touch
    edges = [(i, i + 2) for i in range(0, 20, 2)] + [(i, i + 2) for i in range(1, 19, 2)]
    nodes = list(range(22))
    assert _labels(spark, nodes, edges) == _union_find(nodes, edges)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=60
    ),
    extra_nodes=st.sets(st.integers(0, 40), max_size=10),
)
def test_random_graphs_match_union_find(spark, edges, extra_nodes):
    nodes = sorted({n for e in edges for n in e} | extra_nodes)
    if not nodes:
        nodes = [0]
    assert _labels(spark, nodes, edges) == _union_find(nodes, edges)


def test_kmeans_separated_blobs(spark):
    # Two tight blobs far apart: k=2 must recover them exactly, and every
    # point's dist2 must be the distance to its own blob's centroid.
    from elevate_data_pipeline_spark.operators.cluster import kmeans

    blob_a = [(i, [0.0 + 0.01 * i, 0.0]) for i in range(5)]
    blob_b = [(10 + i, [10.0 + 0.01 * i, 10.0]) for i in range(5)]
    df = spark.createDataFrame(
        blob_a + blob_b, "vec_id long, embedding array<float>"
    )
    out = kmeans(df, k=2, n_iter=2).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, set()).add(r.vec_id)
    assert sorted(len(v) for v in by_cluster.values()) == [5, 5]
    # blob membership is pure: no cluster mixes ids <10 with ids >=10
    for members in by_cluster.values():
        assert all(m < 10 for m in members) or all(m >= 10 for m in members)
    # converged: every point within its tight blob, dist2 bounded by blob spread
    assert all(r.dist2 < 0.01 for r in out)


def test_kmeans_deterministic(spark):
    from elevate_data_pipeline_spark.operators.cluster import kmeans
    from elevate_data_pipeline_spark.sources.catalog import Catalog

    from conftest import SF_DIR

    emb = Catalog(spark, SF_DIR).table("embeddings")
    a = sorted(map(tuple, kmeans(emb, k=4, n_iter=1).collect()))
    b = sorted(map(tuple, kmeans(emb, k=4, n_iter=1).collect()))
    assert a == b


@pytest.mark.slow
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)), max_size=40
    ),
    extra_nodes=st.sets(st.integers(0, 35), max_size=8),
    local_threshold=st.sampled_from([0, 1_000_000]),
)
def test_sized_labels_match_window_formulation(spark, edges, extra_nodes,
                                               local_threshold):
    """label_components_with_size (map-sized joins) must equal the
    straightforward label + count-over-component window on arbitrary
    graphs, on both the local and distributed cc paths."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from elevate_data_pipeline_spark.operators.cluster import (
        label_components,
        label_components_with_size,
    )

    nodes = sorted({n for e in edges for n in e} | extra_nodes) or [0]
    ndf = spark.createDataFrame([(n,) for n in nodes], "id long")
    edf = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")

    fast = {
        (r.id, r.component, r.cluster_size)
        for r in label_components_with_size(
            ndf, "id", edf, local_threshold=local_threshold
        ).collect()
    }
    ref = {
        (r.id, r.component, r.cluster_size)
        for r in label_components(ndf, "id", edf,
                                  local_threshold=local_threshold)
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("component")),
        )
        .collect()
    }
    assert fast == ref


def _persistent_rdds(sc):
    """Ids of persisted RDDs other than localCheckpoint's (the distributed
    contraction checkpoints every round by design)."""
    rdds = sc._jsc.getPersistentRDDs()
    return {i for i in rdds.keySet() if not rdds.get(i).rdd().isLocallyCheckpointed()}


@pytest.mark.parametrize("local_threshold", [1_000_000, 0], ids=["local", "distributed"])
def test_connected_components_releases_persisted_edges(spark, monkeypatch, local_threshold):
    """The deduplicated edges are persisted ahead of the size gate; both
    branches must release them before returning."""
    e = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "src: long, dst: long")
    persisted = []
    real_persist = type(e).persist

    def spy(self, *args, **kwargs):
        persisted.append(self)
        return real_persist(self, *args, **kwargs)

    monkeypatch.setattr(type(e), "persist", spy)
    sc = spark.sparkContext
    before = _persistent_rdds(sc)
    got = {
        r["id"]: r["component"]
        for r in connected_components(e, local_threshold=local_threshold).collect()
    }
    assert got == {2: 1, 3: 1, 6: 5}
    assert persisted, "the edge frame is no longer persisted before the gate"
    assert _persistent_rdds(sc) <= before


@pytest.mark.parametrize("n_edges,branch", [(3, "local"), (4, "distributed")])
def test_connected_components_gate_boundary(spark, monkeypatch, n_edges, branch):
    """The gate's limit(threshold + 1) collect sends exactly-threshold
    edge lists to union-find and one more edge to the star contraction."""
    from elevate_data_pipeline_spark.operators import cluster

    taken = []
    real_local = cluster._local_components
    real_dist = cluster._distributed_components
    monkeypatch.setattr(
        cluster, "_local_components",
        lambda e, rows: taken.append("local") or real_local(e, rows),
    )
    monkeypatch.setattr(
        cluster, "_distributed_components",
        lambda e, max_iter: taken.append("distributed") or real_dist(e, max_iter),
    )
    edges = [(i, i + 1) for i in range(n_edges)]
    e = spark.createDataFrame(edges, "src: long, dst: long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(e, local_threshold=3).collect()
    }
    assert taken == [branch]
    assert got == {i + 1: 0 for i in range(n_edges)}
