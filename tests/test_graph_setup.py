"""Static-graph setup of the min-label and PageRank loops: the
order-preserving id map (vid = rank of the id) and PageRank's
vertex-key collision fallback to string keys."""

from __future__ import annotations

import importlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from pregel_spark.graph import pagerank
from pregel_spark.graph.build import order_preserving_id_map
from pregel_spark.graph.engine import materialize
from tests.conftest import edges_df
from tests.graphs import TOY7, pagerank_oracle, two_components

# the package re-exports a function named ``pagerank``, which hides the
# submodule of that name from attribute access
pagerank_mod = importlib.import_module("pregel_spark.graph.pagerank")

# enough ids that the sampled range bounds fall between them, plus
# non-ASCII ids (UTF-8 byte order == code point order == Python's)
IDS = [f"v{i:03d}" for i in range(0, 400, 3)] + [
    "", "A", "a", "z", "é", "Ω", "日本", "日本語", "𝔘", "a\u0000b",
]


def _vmap(spark, ids, n_part):
    # scatter the input over several partitions in no particular order
    vdf = spark.createDataFrame([(i,) for i in ids], "id string").repartition(5)
    return materialize(order_preserving_id_map(vdf, n_part))


@pytest.mark.parametrize("n_part", [1, 3, 8])
def test_order_preserving_id_map(spark, n_part):
    vmap = _vmap(spark, IDS, n_part)
    first = sorted((r["id"], r["vid"]) for r in vmap.collect())
    assert [i for i, _ in first] == sorted(IDS)
    vids = [v for _, v in first]
    # strictly increasing in id, unique, non-negative: the dense rank,
    # whatever n_part and however the ids straddle the range bounds
    assert vids == list(range(len(IDS)))
    # frozen by its one materialization: every later read agrees
    assert sorted((r["id"], r["vid"]) for r in vmap.collect()) == first
    joined = vmap.join(vmap.withColumnRenamed("vid", "vid2"), "id")
    assert joined.filter(F.col("vid") != F.col("vid2")).count() == 0


def test_order_preserving_id_map_empty(spark):
    assert _vmap(spark, [], 3).collect() == []


def _ranks(res):
    return {r["id"]: r["rank"] for r in res.vertices.collect()}


def test_pagerank_key_collision_falls_back_to_strings(spark, monkeypatch):
    pairs = two_components(n=20) + TOY7
    e = edges_df(spark, pairs)
    kw = dict(tol=0.0, max_iter=5)
    want = _ranks(pagerank(spark, e, **kw))
    want_ppr = _ranks(pagerank(spark, e, sources=["a", "b"], **kw))
    oracle = pagerank_oracle(pairs, k=5)

    # three keys for 47 vertices: every key is shared by several ids
    monkeypatch.setattr(
        pagerank_mod, "key_hash", lambda col: F.pmod(F.xxhash64(col), F.lit(3))
    )
    prep = pagerank_mod.prepare_graph(spark, e)
    try:
        assert not prep.numeric
        assert prep.n == len(oracle)
    finally:
        prep.release()
    got = _ranks(pagerank(spark, e, **kw))
    got_ppr = _ranks(pagerank(spark, e, sources=["a", "b"], **kw))

    assert set(got) == set(want) == set(oracle)
    for v in oracle:
        assert np.isclose(got[v], want[v], rtol=0, atol=1e-15), v
        assert np.isclose(got[v], oracle[v], rtol=0, atol=1e-9), v
        assert np.isclose(got_ppr[v], want_ppr[v], rtol=0, atol=1e-15), v
