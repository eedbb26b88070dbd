"""The r06 connected-components driver fast path (union-find under the
measured edge-count gate) must be indistinguishable from the distributed
large-star/small-star rounds — same (node, component) set on every graph
shape that has bitten a CC implementation before."""

from __future__ import annotations

import pytest

from mannheimsearchjoinsengine_spark.operators.canonical import (
    CC_DRIVER_MAX_EDGES,
    connected_components,
)

GRAPHS = {
    # long chain: O(diameter) propagation breaks here, star rounds don't
    "chain": [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)],
    # two components + duplicate/reversed edges + self-loop noise
    "two_comps": [
        ("b", "a"),
        ("a", "b"),
        ("b", "c"),
        ("x", "y"),
        ("y", "z"),
        ("z", "x"),
        ("q", "q"),
    ],
    # star + bridge
    "star_bridge": [("h", f"s{i}") for i in range(10)] + [("s0", "t"), ("t", "u")],
}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_driver_and_distributed_cc_agree(spark, name):
    edges = spark.createDataFrame(GRAPHS[name], schema="src string, dst string")
    fast = connected_components(edges)  # gate engages (tiny edge list)
    slow = connected_components(edges, driver_max_edges=0)  # force star rounds
    assert fast.schema == slow.schema
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))


def test_gate_is_measured_not_assumed(spark):
    # a graph just over a tiny explicit gate takes the distributed path and
    # still produces the same components
    edges = spark.createDataFrame(GRAPHS["chain"], schema="src string, dst string")
    fast = connected_components(edges, driver_max_edges=CC_DRIVER_MAX_EDGES)
    slow = connected_components(edges, driver_max_edges=len(GRAPHS["chain"]) - 1)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))


def test_empty_edges(spark):
    edges = spark.createDataFrame([], schema="src string, dst string")
    assert connected_components(edges).count() == 0
