"""Graph operators: fixed-point PageRank exactness and invariance,
ranking sanity, k-core/k-truss peeling, walk generation."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row

import meerpipe_spark.operators.graph as G
from meerpipe_spark.operators.graph import PAGERANK_SCALE, pagerank_fixed_point


def _edges(spark, pairs):
    return spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def copurchase_pairs(spark, sf_dir):
    from meerpipe_spark.io import load_tables

    li = load_tables(spark, sf_dir)["lineitem"]
    pp = li.select("l_orderkey", "l_partkey").distinct()
    a = pp.select(F.col("l_orderkey").alias("kk"), F.col("l_partkey").alias("src"))
    b = pp.select(F.col("l_orderkey").alias("kk"), F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "kk")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def test_cycle_ranks_are_equal(spark):
    # a→b→c→a: perfect symmetry ⇒ identical integer ranks
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    ranks = {r.node: r.rank for r in pagerank_fixed_point(e, iters=10).collect()}
    assert len(set(ranks.values())) == 1
    # mass: ≤ scale, and within the floor-loss budget (≤ 1 unit/node/round)
    assert sum(ranks.values()) <= PAGERANK_SCALE
    assert sum(ranks.values()) >= PAGERANK_SCALE - 10 * 3 * 2


def test_hub_outranks_leaves(spark):
    e = _edges(spark, [(f"u{i}", "hub") for i in range(10)])
    ranks = {r.node: r.rank for r in pagerank_fixed_point(e, iters=10).collect()}
    assert ranks["hub"] > max(v for k, v in ranks.items() if k != "hub")
    # leaves are sinks of nothing: exactly the base share each round
    leaf_vals = {v for k, v in ranks.items() if k != "hub"}
    assert len(leaf_vals) == 1


def test_partitioning_invariance_bit_exact(spark):
    pairs = [(f"n{i}", f"n{(i * 7 + 3) % 40}") for i in range(200)]
    a = pagerank_fixed_point(_edges(spark, pairs).repartition(1), iters=6)
    b = pagerank_fixed_point(_edges(spark, pairs).repartition(16), iters=6)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb  # integer arithmetic: identical to the last bit


def test_label_propagation_two_cliques(spark):
    from meerpipe_spark.operators.graph import label_propagation

    # two disconnected triangles: each converges to its min node id
    # (with a bridge, synchronous LPA legitimately bleeds labels across)
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)]
    df = spark.createDataFrame(edges, "src INT, dst INT")
    got = {r["node"]: r["label"] for r in label_propagation(df, iters=4).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}


def test_label_propagation_deterministic_across_partitionings(spark):
    from meerpipe_spark.operators.graph import label_propagation

    edges = [(i, (i * 7) % 23) for i in range(40)] + [(i, i + 1) for i in range(22)]
    df = spark.createDataFrame(edges, "src INT, dst INT")
    a = sorted(map(tuple, label_propagation(df.repartition(1), iters=3).collect()))
    b = sorted(map(tuple, label_propagation(df.repartition(13), iters=3).collect()))
    assert a == b


def test_k_core_peels_pendants_recursively(spark):
    from meerpipe_spark.operators.graph import k_core

    # K4 core + a chain hanging off it: 2-core must peel the whole
    # chain (recursively — the inner chain node only drops after the
    # outer one does), K4 survives with degree 3
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(k4 + chain, "src INT, dst INT")
    got = {r["node"]: r["core_degree"] for r in k_core(df, k=2, rounds=6).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_k_core_empty_when_k_exceeds_density(spark):
    from meerpipe_spark.operators.graph import k_core

    tri = [(1, 2), (2, 3), (1, 3)]
    df = spark.createDataFrame(tri, "src INT, dst INT")
    assert k_core(df, k=3, rounds=4).count() == 0


def test_transitive_closure_diamond_paths(spark):
    from meerpipe_spark.operators.graph import transitive_closure

    # diamond: 1->2 (qty 2), 1->3 (qty 3), 2->4 (qty 5), 3->4 (qty 7)
    # node 4 must appear TWICE (per-path semantics) with products 10, 21
    edges = spark.createDataFrame(
        [(1, 2, 2), (1, 3, 3), (2, 4, 5), (3, 4, 7)],
        "parent BIGINT, child BIGINT, qty BIGINT",
    )
    roots = spark.createDataFrame([(1,)], "node BIGINT")
    rows = transitive_closure(edges, roots, max_depth=5).collect()
    got = sorted((r["node"], r["level"], r["cum_qty"]) for r in rows)
    assert got == [(1, 0, 1), (2, 1, 2), (3, 1, 3), (4, 2, 10), (4, 2, 21)]


def test_transitive_closure_depth_bound_stops_cycles(spark):
    from meerpipe_spark.operators.graph import transitive_closure

    # 2-cycle: without the depth bound this would never terminate
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1)], "parent BIGINT, child BIGINT, qty BIGINT"
    )
    roots = spark.createDataFrame([(1,)], "node BIGINT")
    rows = transitive_closure(edges, roots, max_depth=4).collect()
    assert len(rows) == 5  # level 0..4, alternating 1,2,1,2,1


def test_bcast_state_ceiling_is_cost_only(spark, monkeypatch):
    """r13 optimization: node-sized iteration state broadcasts into the
    per-round join when its known row count fits _BCAST_STATE_MAX_ROWS.
    The ceiling must be COST-ONLY — forcing the shuffle path (ceiling 0)
    must reproduce the broadcast path's ranks to the last bit."""
    pairs = [(f"n{i}", f"n{(i * 7 + 3) % 40}") for i in range(200)]
    e = _edges(spark, pairs)
    with_bcast = sorted(map(tuple, pagerank_fixed_point(e, iters=4).collect()))
    monkeypatch.setattr(G, "_BCAST_STATE_MAX_ROWS", 0)
    shuffled = sorted(map(tuple, pagerank_fixed_point(e, iters=4).collect()))
    assert with_bcast == shuffled


def test_bcast_small_hint_semantics(spark):
    """_bcast_small applies a BROADCAST hint below the ceiling and is a
    strict no-op (same object) above it or with unknown cardinality."""
    a = spark.range(100).toDF("k")
    b = spark.range(50).toDF("k")
    j = a.join(G._bcast_small(b, 50), "k")
    plan = j._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "BroadcastHashJoin" in plan
    assert G._bcast_small(b, G._BCAST_STATE_MAX_ROWS + 1) is b
    assert G._bcast_small(b, None) is b


def test_ktruss_incremental_equals_full_reenumeration(spark, monkeypatch, copurchase_pairs):
    from meerpipe_spark.operators.graph import k_truss

    co = copurchase_pairs.localCheckpoint()
    # k=4 on the co-purchase graph peels progressively (several
    # non-converged rounds), so the incremental decrement path really
    # fires; rounds=4 exercises the post-loop final-support branch too
    fast = _rows(k_truss(co, k=4, rounds=4))
    monkeypatch.setattr(G, "_BCAST_STATE_MAX_ROWS", 0)
    slow = _rows(k_truss(co, k=4, rounds=4))
    assert fast and fast == slow


def test_ktruss_incremental_multi_removed_edge_triangles(spark, monkeypatch):
    # Adversarial micro-graph: two triangles sharing an edge plus a
    # pendant triangle chain, where one peel removes SEVERAL edges of
    # the same dead triangle — the distinct-on-sorted-triple step must
    # decrement each survivor exactly once. Compare against the full
    # re-enumeration on the same input.
    from meerpipe_spark.operators.graph import k_truss

    edges = [
        (1, 2), (1, 3), (2, 3),          # triangle A
        (2, 4), (3, 4),                  # triangle B shares (2,3)
        (4, 5), (4, 6), (5, 6),          # triangle C hangs off 4
        (1, 4),                          # closes extra triangles
        (6, 7),                          # zero-triangle pendant edge
    ]
    df = spark.createDataFrame(edges, "src bigint, dst bigint").localCheckpoint()
    fast = _rows(k_truss(df, k=3, rounds=3))
    fast4 = _rows(k_truss(df, k=4, rounds=3))
    monkeypatch.setattr(G, "_BCAST_STATE_MAX_ROWS", 0)
    assert fast == _rows(k_truss(df, k=3, rounds=3))
    assert fast4 == _rows(k_truss(df, k=4, rounds=3))


def _replay_walks(edge_list, starts, steps, weight=None):
    """Sequential replay of the md5-argmin walk draw. ``weight(prev,
    dst)`` gives the node2vec replica count; None is the uniform
    DeepWalk draw (one replica, no replica index in the key)."""
    outs = {}
    for a, b in edge_list:
        outs.setdefault(a, []).append(b)
    got = []
    for wid, node in starts:
        prev = None
        got.append((wid, 0, node))
        for t in range(1, steps + 1):
            keys = []
            for dst in outs[node]:
                if weight is None:
                    tags = [f"{wid}:{t}:{dst}"]
                else:
                    tags = [f"{wid}:{t}:{dst}:{i}" for i in range(1, weight(prev, dst) + 1)]
                keys += [(hashlib.md5(s.encode()).hexdigest() + "|" + str(dst).zfill(19), dst)
                         for s in tags]
            prev, node = node, min(keys)[1]
            got.append((wid, t, node))
    return sorted(got)


def test_walk_frontiers_checkpointed_per_step(spark):
    """Both walk generators cut lineage at every step: the output plan
    is a union of one checkpoint leaf per step (no cached relation
    whose plan nests every earlier step), so a long walk neither grows
    the driver's plan nor runs it out of memory, and its rows still
    equal a sequential replay of the md5 argmin."""
    from meerpipe_spark.operators.graph import deterministic_walks, node2vec_walks

    n = 50  # a ring plus chords: no sinks, degree 2-4
    und = [(i, (i + 1) % n) for i in range(n)] + [(i, (i + 7) % n) for i in range(0, n, 3)]
    both = und + [(b, a) for a, b in und]
    adj = set(both)
    edges = spark.createDataFrame(both, "src BIGINT, dst BIGINT")
    start_rows = [(100, 0), (200, 13), (300, 26), (400, 49)]
    starts = spark.createDataFrame(start_rows, "walk_id BIGINT, node BIGINT")
    p_, q_, repl = 0.5, 2.0, 4

    def n2v_weight(prev, dst):
        if prev is None:
            return repl
        if dst == prev:
            return max(1, round(repl / p_))
        return repl if (prev, dst) in adj else max(1, round(repl / q_))

    def walks(steps):
        return (
            deterministic_walks(edges, starts, steps=steps),
            node2vec_walks(edges, starts, steps=steps, p=p_, q=q_, replication=repl),
        )

    for df in walks(4):
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
        assert names == ["LogicalRDD"] * 5, names

    dw, n2v = walks(24)
    assert _rows(dw) == _replay_walks(both, start_rows, 24)
    assert _rows(n2v) == _replay_walks(both, start_rows, 24, n2v_weight)
