"""Property-based tests (hypothesis) for the order-sensitive and
modular-arithmetic hard parts (SURVEY.md §7.3.2/§7.3.3): randomized rule
sets and observations vs the sequential reference evaluator, and
phase-normalization invariants."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import Row, functions as F

from meerpipe_spark.operators.delay_rules import evaluate_delay_rules, parse_dlycfg, rules_df
from meerpipe_spark.operators.phase import phase_norm
from tests.test_delay_rules import _sequential_eval


def _mk_block(i, lo, hi, lo_inc, hi_inc, op, val, unit, pat, neg, extra_action):
    """Render one random rule block in the real dlyfix grammar."""
    lines = [f"* rule {i}"]
    lines.append(f"mjd {'>=' if lo_inc else '>'} {lo!r}")
    lines.append(f"mjd {'<=' if hi_inc else '<'} {hi!r}")
    if pat is not None:
        lines.append(f"beconfig {'!~=' if neg else '~='} {pat}")
    lines.append(f"delay {op} {val!r} {unit}")
    if extra_action:
        lines.append("delay -= 7 ns")
    return lines


block_strategy = st.builds(
    _mk_block,
    st.integers(0, 0),  # cosmetic
    st.floats(0, 50, allow_nan=False),
    st.floats(50, 100, allow_nan=False),
    st.booleans(),
    st.booleans(),
    st.sampled_from(["=", "+=", "-="]),
    st.floats(-10, 10, allow_nan=False, allow_infinity=False),
    st.sampled_from(["s", "ms", "us", "ns", "tbin"]),
    st.sampled_from([None, "aa", "bb", "^aa", "a.b"]),
    st.booleans(),
    st.booleans(),
)


@settings(max_examples=8, deadline=None)
@given(
    blocks=st.lists(block_strategy, min_size=1, max_size=8),
    mjds=st.lists(st.floats(0, 100, allow_nan=False), min_size=1, max_size=6),
    attrs=st.lists(st.sampled_from(["aab", "bba", "xyz", "a_b"]), min_size=1, max_size=6),
)
def test_delay_reduction_matches_sequential(spark, blocks, mjds, attrs):
    lines = [ln for b in blocks for ln in b]
    acts = parse_dlycfg(lines)
    n = min(len(mjds), len(attrs))
    obs = [
        Row(obs_id=f"o{i}", mjd=float(mjds[i]), beconfig=attrs[i], tbin=2.5e-6)
        for i in range(n)
    ]
    got = {
        r.obs_id: r.delay_s
        for r in evaluate_delay_rules(
            spark.createDataFrame(obs),
            rules_df(spark, acts),
            attr_cols={"beconfig": "beconfig", "tbin": "tbin"},
        ).collect()
    }
    for o in obs:
        expect = _sequential_eval(
            lines, {"mjd": o.mjd, "beconfig": o.beconfig, "tbin": 2.5e-6}
        )
        assert math.isclose(got[o.obs_id], expect, rel_tol=1e-12, abs_tol=1e-12), (
            lines, o, got[o.obs_id], expect,
        )


@settings(max_examples=10, deadline=None)
@given(
    xs=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=20,
    ),
    mod=st.floats(0.1, 1000, allow_nan=False),
)
def test_phase_norm_invariants(spark, xs, mod):
    df = spark.createDataFrame([Row(x=float(x)) for x in xs])
    out = df.select("x", phase_norm(F.col("x"), mod).alias("p")).collect()
    for r in out:
        assert 0.0 <= r.p < mod, r
        # p ≡ x (mod m): difference is an integer multiple of m
        k = (r.x - r.p) / mod
        assert math.isclose(k, round(k), abs_tol=1e-6), r


@settings(max_examples=30, deadline=None)
@given(
    lines=st.lists(
        st.text(
            alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
            max_size=60,
        ),
        max_size=20,
    )
)
def test_parse_dlycfg_never_raises(lines):
    """Garbage input never crashes the parser — unparseable lines warn
    (dlyfix.py:123-125) and parsing continues."""
    from meerpipe_spark.operators.delay_rules import parse_dlycfg

    actions = parse_dlycfg(lines)
    for a in actions:
        assert a["delay_op"] in ("=", "+=", "-=")
        assert isinstance(a["delay_val"], float)


@settings(max_examples=10, deadline=None)
@given(
    text=st.text(
        alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
        max_size=400,
    )
)
def test_par_parser_never_raises(spark, tmp_path_factory, text):
    """Garbage par files never crash the Spark-side parse (try_cast
    everywhere) or the dict collector."""
    from meerpipe_spark.sources.par import par_to_map, read_par_df

    p = tmp_path_factory.mktemp("fuzz") / "x.par"
    p.write_text(text + "\n")
    out = par_to_map(read_par_df(spark, str(p)))
    assert isinstance(out, dict)


# -- tfidf / oov ------------------------------------------------------------

def test_tfidf_ubiquitous_tokens_score_zero(spark):
    from pyspark.sql import Row

    from meerpipe_spark.operators.text import tfidf_scores

    # every doc is the same token -> df = N -> idf = 0 -> score 0
    docs = spark.createDataFrame([Row(doc_id=i, text="x x x") for i in range(4)])
    out = tfidf_scores(docs).collect()
    assert all(r.mean_tfidf == 0.0 for r in out)


def test_tfidf_rare_tokens_score_higher(spark):
    from pyspark.sql import Row

    from meerpipe_spark.operators.text import tfidf_scores

    docs = spark.createDataFrame(
        [Row(doc_id=0, text="common rare0"), Row(doc_id=1, text="common common")]
    )
    out = {r.doc_id: r.mean_tfidf for r in tfidf_scores(docs).collect()}
    assert out[0] > out[1]


def test_oov_rate_counts_tokens_outside_topv(spark):
    from pyspark.sql import Row

    from meerpipe_spark.operators.text import oov_rate

    # 'a' x6 and 'b' x4 are the top-2; c/d are OOV
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="a a a b b c"),
            Row(doc_id=1, text="a a a b b d"),
        ]
    )
    out = {r.doc_id: r for r in oov_rate(docs, vocab_size=2).collect()}
    assert out[0].oov_rate == round(1 / 6, 6) and out[0].n_tokens == 6
    assert out[1].oov_rate == round(1 / 6, 6)


# ---------------------------------------------------------------------------
# Round-5 sketches/dedup: randomized cross-checks vs brute force
# ---------------------------------------------------------------------------

@given(
    n=st.integers(min_value=1, max_value=400),
    dup_factor=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=8, deadline=None)
def test_hll_tracks_exact_cardinality(spark, n, dup_factor, seed):
    from meerpipe_spark.operators.sketches import hll_distinct

    rows = [Row(g="g", v=f"{seed}:{i}") for i in range(n)] * dup_factor
    out = hll_distinct(spark.createDataFrame(rows), ["g"], "v").head()
    # n <= 400 << 2.5*1024: always the linear-counting regime, whose
    # error at load n/m <= 0.4 stays within ~8% + quantization
    assert abs(out.hll_est - n) <= max(4.0, 0.08 * n)


@pytest.mark.slow
@given(
    seed=st.integers(min_value=0, max_value=10**6),
    n_docs=st.integers(min_value=2, max_value=12),
)
@settings(max_examples=8, deadline=None)
def test_duplicate_spans_matches_bruteforce(spark, seed, n_docs):
    import random as _random

    from meerpipe_spark.operators.dedup import duplicate_spans

    rng = _random.Random(seed)
    L = 4
    vocab = [f"w{i}" for i in range(6)]  # tiny vocab: collisions guaranteed
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25)))
        for _ in range(n_docs)
    ]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        r.doc_id: (r.n_dup_spans, r.dup_words)
        for r in duplicate_spans(docs, window_words=L).collect()
    }
    # brute force: count every L-window across the corpus, flag repeats,
    # merge flagged coverage intervals per doc
    from collections import Counter

    wins: list[list[tuple[int, int]]] = []
    c: Counter = Counter()
    for t in texts:
        w = t.split(" ")
        ps = list(range(0, max(0, len(w) - L + 1)))
        wins.append([(p, len(w)) for p in ps])
        for p in ps:
            c[" ".join(w[p : p + L])] += 1
    for i, t in enumerate(texts):
        w = t.split(" ")
        flagged = [
            p for p, _ in wins[i] if c[" ".join(w[p : p + L])] > 1
        ]
        spans = []
        for p in flagged:
            if spans and p - spans[-1][1] <= L:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        dup_words = sum(b + L - a for a, b in spans)
        assert got[i] == (len(spans), dup_words), (i, texts)


# ---------------------------------------------------------------------------
# Round-5 wave-5: BPE trainer and triangle counter vs brute-force oracles
# ---------------------------------------------------------------------------

def _bpe_reference(word_freqs: dict[str, int], steps: int):
    """Pure-Python Sennrich BPE trainer: the independent oracle."""
    words = {w: list(w) for w in word_freqs}
    merges = []
    for _ in range(steps):
        pairs: dict[tuple[str, str], int] = {}
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = (
                    pairs.get((syms[i], syms[i + 1]), 0) + word_freqs[w]
                )
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((a, b, cnt))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges


@pytest.mark.slow
@given(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=4),
)
@settings(max_examples=8, deadline=None)
def test_bpe_train_matches_reference(spark, words, steps):
    from meerpipe_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame([(0, " ".join(words))], "doc_id INT, text STRING")
    got = [
        (r["pair_a"], r["pair_b"], r["pair_count"])
        for r in bpe_train(docs, steps=steps).orderBy("step").collect()
    ]
    freqs: dict[str, int] = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    assert got == _bpe_reference(freqs, steps)


@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=0,
        max_size=30,
    )
)
@settings(max_examples=10, deadline=None)
def test_triangle_count_matches_brute_force(spark, raw_edges):
    from itertools import combinations

    from meerpipe_spark.operators.graph import triangle_count

    edges = {(min(a, b), max(a, b)) for a, b in raw_edges if a != b}
    if not edges:
        return
    nodes = {n for e in edges for n in e}
    expected = sum(
        1
        for a, b, c in combinations(sorted(nodes), 3)
        if (a, b) in edges and (b, c) in edges and (a, c) in edges
    )
    df = spark.createDataFrame(list(edges), "src INT, dst INT")
    row = triangle_count(df).collect()[0]
    assert row["n_triangles"] == expected
    assert row["n_edges"] == len(edges)
    assert row["n_nodes"] == len(nodes)


@given(
    st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        min_size=0,
        max_size=40,
    ),
    st.integers(min_value=1, max_value=4),
)
@settings(max_examples=8, deadline=None)
def test_k_core_matches_sequential_peel(spark, raw_edges, k):
    from meerpipe_spark.operators.graph import k_core

    edges = {(min(a, b), max(a, b)) for a, b in raw_edges if a != b}
    if not edges:
        return
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        dead = {n for n in alive if sum(1 for m in adj[n] if m in alive) < k}
        if not dead:
            break
        alive -= dead
    expected = {
        n: sum(1 for m in adj[n] if m in alive) for n in alive
    }
    df = spark.createDataFrame(list(edges), "src INT, dst INT")
    got = {r["node"]: r["core_degree"] for r in k_core(df, k=k, rounds=12).collect()}
    assert got == expected


@given(
    st.lists(st.text(alphabet="abc", min_size=1, max_size=5), min_size=2, max_size=10)
)
@settings(max_examples=8, deadline=None)
def test_deletion_join_matches_brute_force_lev1(spark, names):
    from meerpipe_spark.operators.reconcile import entity_match_deletion_join

    def lev(a: str, b: str) -> int:
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    recs = spark.createDataFrame(list(enumerate(names)), "id INT, name STRING")
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in entity_match_deletion_join(recs, "id", "name").collect()
    }
    expected = {
        (i, j): lev(names[i], names[j])
        for i in range(len(names))
        for j in range(i + 1, len(names))
        if lev(names[i], names[j]) <= 1
    }
    assert got == expected


@pytest.mark.slow
@settings(max_examples=6, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    nsub=st.integers(1, 3),
    nchan=st.integers(2, 4),
    zap_frac=st.floats(0.0, 0.4),
)
def test_clean_chain_fused_equals_composed_random_cubes(
    spark, seed, nsub, nchan, zap_frac
):
    """Property: the fused one-exchange clean_chain reproduces the
    composed rcvrstd→surgical→bandwagon weights on ARBITRARY cubes —
    including degenerate ones (single subint, pre-zeroed rows, entire
    channels at zero weight, constant values that zero the MAD)."""
    import numpy as np
    from pyspark.sql import Row
    from meerpipe_spark.operators.clean import bandwagon, clean_chain, rcvrstd, surgical
    from pyspark.sql import functions as F

    rng = np.random.default_rng(seed)
    nbin = 8
    rows = []
    for s in range(nsub):
        for c in range(nchan):
            for b in range(nbin):
                rows.append(
                    Row(
                        obs_id="obsP",
                        subint=s,
                        pol=0,
                        chan=c,
                        bin=b,
                        band="LBAND",
                        nchan=nchan,
                        freq=900.0 + c * 40.0,
                        value=float(rng.normal(0, 1.0) * (50.0 if c == 0 else 1.0)),
                        weight=0.0 if rng.uniform() < zap_frac else 1.0,
                    )
                )
    cube = spark.createDataFrame(rows)
    on_pulse = (F.col("bin") >= 3) & (F.col("bin") < 5)
    composed = bandwagon(
        surgical(rcvrstd(cube, bad_channels=[1]), on_pulse, sigma_threshold=3.0),
        chan_frac=0.5,
        subint_frac=0.5,
    )
    fused = clean_chain(cube, on_pulse, bad_channels=[1], sigma_threshold=3.0)
    key = ["subint", "chan", "bin"]
    a = {tuple(r[k] for k in key): r["weight"] for r in composed.collect()}
    b = {tuple(r[k] for k in key): r["weight"] for r in fused.collect()}
    assert a == b
