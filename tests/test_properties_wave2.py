"""Property-based tests (hypothesis) for the round-8 wave-2 operators:
randomized graphs vs a driver-side Dijkstra/Bellman-Ford reference,
randomized bins vs sequential PAVA, and the mergeable-reservoir law of
the Efraimidis-Spirakis sampler."""

from __future__ import annotations

import heapq

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F


def _dijkstra(edges, sources):
    """Driver-side reference shortest paths on a tiny weighted digraph."""
    adj = {}
    for u, v, w in edges:
        adj.setdefault(u, []).append((v, w))
    dist = {s: 0 for s in sources}
    pq = [(0, s) for s in sources]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


edge_strategy = st.lists(
    st.tuples(
        st.integers(0, 7), st.integers(0, 7), st.integers(1, 9)
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=14,
)


@pytest.mark.slow
@settings(max_examples=6, deadline=None)
@given(edges=edge_strategy, n_src=st.integers(1, 3))
def test_sssp_matches_dijkstra(spark, edges, n_src):
    sources = sorted({e[0] for e in edges})[:n_src]
    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT, w BIGINT")
    sdf = spark.createDataFrame([(s,) for s in sources], "node BIGINT")
    from meerpipe_spark.operators.graph import sssp_bellman_ford

    # 8 nodes -> 8 rounds always converge
    got = {
        r["node"]: r["dist"]
        for r in sssp_bellman_ford(df, sdf, rounds=8).collect()
    }
    assert got == _dijkstra(edges, sources)


def _pava(w, y):
    blocks = [[wi, wi * yi] for wi, yi in zip(w, y)]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][1] * blocks[i + 1][0] > blocks[i + 1][1] * blocks[i][0]:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    out = []
    for bw, bs in blocks:
        # expand back to per-bin fitted values (weights are integer
        # counts, so the block covers exactly bw units of weight)
        covered = 0
        while covered < bw:
            out.append(bs / bw)
            covered += w[len(out) - 1]
    return out


@settings(max_examples=6, deadline=None)
@given(
    data=st.lists(
        st.tuples(st.integers(1, 9), st.integers(0, 9)),
        min_size=2,
        max_size=8,
    )
)
def test_isotonic_minimax_equals_sequential_pava(spark, data):
    # bins with integer weight n and integer positives pos <= n
    rows = [(i, n, min(p, n)) for i, (n, p) in enumerate(data)]
    bins = spark.createDataFrame(rows, "bin INT, n BIGINT, pos BIGINT")
    from meerpipe_spark.operators.logreg import isotonic_fit_bins

    got = {
        r["bin"]: r["iso_rate"]
        for r in isotonic_fit_bins(bins, "bin", "n", "pos").collect()
    }
    ref = _pava([r[1] for r in rows], [r[2] / r[1] for r in rows])
    for i in range(len(rows)):
        assert abs(got[i] - ref[i]) < 1e-9, (rows, i, got[i], ref[i])


@settings(max_examples=5, deadline=None)
@given(
    weights=st.lists(st.integers(1, 50), min_size=6, max_size=20),
    split=st.integers(1, 5),
    k=st.integers(1, 4),
)
def test_weighted_reservoir_is_mergeable(spark, weights, split, k):
    # the A-ES law: top-k of the union == top-k of (top-k(A) UNION top-k(B))
    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, n_chars BIGINT")
    a = df.filter(F.col("doc_id") < split)
    b = df.filter(F.col("doc_id") >= split)
    from meerpipe_spark.operators.curation import weighted_sample_wor

    full = [tuple(r) for r in weighted_sample_wor(df, "n_chars", k=k).collect()]
    pa = weighted_sample_wor(a, "n_chars", k=k)
    pb = weighted_sample_wor(b, "n_chars", k=k)
    merged = (
        pa.unionByName(pb)
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(k)
        .collect()
    )
    assert [tuple(r) for r in merged] == full
