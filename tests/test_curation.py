"""Curation operator tests: contamination overlap counting, repetition
metrics on crafted docs, stratified-sample determinism and rate
behavior, and the connected-components fixpoint."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from meerpipe_spark.operators.curation import (
    _hex_threshold,
    benchmark_contamination,
    repetition_metrics,
    stratified_sample,
)
from meerpipe_spark.operators.dedup import connected_components


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, source=s) for i, t, s in rows]
    )


# -- contamination -----------------------------------------------------------

def test_contamination_counts_distinct_overlaps(spark):
    bench = _docs(spark, [(100, "a b c d e", "src0")])  # trigrams: abc bcd cde
    train = _docs(
        spark,
        [
            (1, "a b c d x", "src0"),   # shares "a b c", "b c d" -> 2 of 3
            (2, "x y z w q", "src0"),   # shares none
        ],
    )
    out = {r.doc_id: r for r in benchmark_contamination(train, bench).collect()}
    assert set(out) == {1}
    assert out[1].n_overlap == 2
    assert abs(out[1].contam_frac - round(2 / 3, 6)) < 1e-9


def test_contamination_short_docs_no_shingles(spark):
    bench = _docs(spark, [(100, "a b c d", "src0")])
    train = _docs(spark, [(1, "a b", "src0")])  # < 3 words: no trigrams
    assert benchmark_contamination(train, bench).count() == 0


# -- repetition metrics ------------------------------------------------------

def test_repetition_flags_boilerplate(spark):
    docs = _docs(
        spark,
        [
            (1, "spam ham spam ham spam ham spam ham", "s"),  # one bigram dominates
            # all-distinct and long enough that 1/(n-1) < the 0.06 threshold
            (2, " ".join(f"w{i}" for i in range(40)), "s"),
        ],
    )
    out = {r.doc_id: r for r in repetition_metrics(docs).collect()}
    assert out[1].keep is False and out[1].top_bigram_frac > 0.5
    assert out[2].keep is True and out[2].dup_word_frac == 0.0
    assert out[2].n_words == 40


def test_repetition_single_word_doc_dropped(spark):
    docs = _docs(spark, [(1, "word", "s"), (2, "a b c", "s")])
    assert {r.doc_id for r in repetition_metrics(docs).collect()} == {2}


# -- stratified sample -------------------------------------------------------

def test_hex_threshold_bounds():
    assert _hex_threshold(0.0) == "00000000"
    assert _hex_threshold(0.5) == "80000000"
    assert _hex_threshold(1.0) == "g"      # > every hex digit: keeps all
    assert _hex_threshold(2.0) == "g"


def test_stratified_sample_rates_and_determinism(spark):
    rows = [(i, f"text number {i} with some words", f"src{i % 2}") for i in range(400)]
    docs = _docs(spark, rows)
    full = stratified_sample(docs, {"src0": 1.0}, default_rate=0.0)
    assert full.count() == 200  # all of src0, none of src1
    assert {r.source for r in full.collect()} == {"src0"}

    half = stratified_sample(docs, {}, default_rate=0.5)
    n = half.count()
    assert 130 <= n <= 270  # ~50% of 400, generous binomial bounds
    # determinism: identical row set on re-evaluation
    ids1 = sorted(r.doc_id for r in half.collect())
    ids2 = sorted(r.doc_id for r in stratified_sample(docs, {}, default_rate=0.5).collect())
    assert ids1 == ids2


def test_stratified_sample_dedup_stable(spark):
    """Byte-identical texts are kept or dropped together (content hash)."""
    docs = _docs(spark, [(1, "same text here", "a"), (2, "same text here", "b")])
    kept = {r.doc_id for r in stratified_sample(docs, {}, default_rate=0.5).collect()}
    assert kept in (set(), {1, 2})


# -- connected components ----------------------------------------------------

def _pairs(spark, edges):
    return spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in edges])


def test_cc_chain_and_island(spark):
    # chain 1-2-3 (transitive: 3 never pairs with 1 directly) + island 7-8
    comp = {
        r.node: r.component
        for r in connected_components(_pairs(spark, [(1, 2), (2, 3), (7, 8)])).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_cc_cycle_and_cross_link(spark):
    comp = {
        r.node: r.component
        for r in connected_components(
            _pairs(spark, [(4, 5), (5, 6), (6, 4), (2, 6)])
        ).collect()
    }
    assert set(comp.values()) == {2}
    assert set(comp) == {2, 4, 5, 6}


def test_cc_long_path_converges(spark):
    # path 0-1-2-...-9: worst-case diameter for min propagation
    comp = {
        r.node: r.component
        for r in connected_components(
            _pairs(spark, [(i, i + 1) for i in range(9)])
        ).collect()
    }
    assert set(comp.values()) == {0} and len(comp) == 10


def test_canonical_docs_keeps_min_id_and_islands(spark):
    """canonical_docs keeps the min-id representative of each cluster
    and passes through docs in no cluster untouched."""
    from meerpipe_spark.operators.dedup import canonical_docs

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"t{i}") for i in range(8)]
    )
    # clusters {1,2,3} and {6,7}; 0, 4, 5 untouched
    pairs = _pairs(spark, [(1, 2), (2, 3), (6, 7)])
    kept = {r.doc_id for r in canonical_docs(docs, pairs).collect()}
    assert kept == {0, 1, 4, 5, 6}


def test_canonical_docs_no_pairs_is_identity(spark):
    from meerpipe_spark.operators.dedup import canonical_docs

    docs = spark.createDataFrame([Row(doc_id=i, text="x") for i in range(5)])
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert canonical_docs(docs, pairs).count() == 5


# -- BPE-ish tokenization ----------------------------------------------------

def test_bpe_ish_token_stats(spark):
    from meerpipe_spark.operators.text import bpe_token_stats

    docs = _docs(
        spark,
        [
            (1, "Hello, world! Ab3 42x", "s"),  # Hello , world ! Ab 3 42 x -> 8
            (2, "", "s"),                        # no tokens -> null ratio
        ],
    )
    out = {r.doc_id: r for r in bpe_token_stats(docs).collect()}
    assert out[1].n_bpe_tokens == 8
    assert out[2].n_bpe_tokens == 0 and out[2].chars_per_token is None


def test_cc_random_graph_matches_union_find(spark):
    """200-node random graph: the distributed result must equal a plain
    union-find computed in-process (min node id per component)."""
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(200))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    expect = {n: find(n) for n in nodes}

    got = {
        r.node: r.component
        for r in connected_components(
            _pairs(spark, edges), max_iters=50
        ).collect()
    }
    assert got == expect


# -- quota sampling ----------------------------------------------------------

def test_quota_sample_exact_n_and_deterministic(spark):
    from meerpipe_spark.operators.curation import quota_sample

    rows = [(i, f"doc number {i}", f"src{i % 3}") for i in range(60)]
    docs = _docs(spark, rows)
    got = quota_sample(docs, 5).collect()
    per = {}
    for r in got:
        per[r.source] = per.get(r.source, 0) + 1
    assert per == {"src0": 5, "src1": 5, "src2": 5}
    again = quota_sample(docs, 5).collect()
    assert sorted(r.doc_id for r in got) == sorted(r.doc_id for r in again)


def test_quota_larger_than_stratum_keeps_all(spark):
    from meerpipe_spark.operators.curation import quota_sample

    docs = _docs(spark, [(1, "a", "s"), (2, "b", "s")])
    assert quota_sample(docs, 10).count() == 2


# -- segment boilerplate removal --------------------------------------------

def test_boilerplate_segment_removed_and_text_rebuilt(spark):
    from meerpipe_spark.operators.curation import segment_boilerplate_filter

    boiler = "subscribe now"  # 2-word segment shared by 3 docs
    docs = _docs(
        spark,
        [
            (1, f"alpha beta {boiler}", "s"),
            (2, f"gamma delta {boiler}", "s"),
            (3, f"{boiler} epsilon zeta", "s"),
            (4, "unique text here four", "s"),
        ],
    )
    out = {
        r.doc_id: r
        for r in segment_boilerplate_filter(docs, segment_words=2, min_docs=3).collect()
    }
    # the shared segment is gone, per-doc unique segments survive in order
    assert out[1].text_clean == "alpha beta"
    assert out[2].text_clean == "gamma delta"
    assert out[3].text_clean == "epsilon zeta"
    assert out[4].text_clean == "unique text here four"
    assert out[1].n_segments == 2 and out[1].n_kept == 1


def test_boilerplate_fully_boilerplate_doc_survives_empty(spark):
    from meerpipe_spark.operators.curation import segment_boilerplate_filter

    docs = _docs(spark, [(i, "same same", "s") for i in range(1, 5)])
    out = segment_boilerplate_filter(docs, segment_words=2, min_docs=3).collect()
    assert len(out) == 4
    assert all(r.text_clean == "" and r.n_kept == 0 and r.n_segments == 1 for r in out)


def test_boilerplate_below_threshold_kept(spark):
    from meerpipe_spark.operators.curation import segment_boilerplate_filter

    docs = _docs(spark, [(1, "dup seg", "s"), (2, "dup seg", "s")])
    out = segment_boilerplate_filter(docs, segment_words=2, min_docs=3).collect()
    assert all(r.text_clean == "dup seg" for r in out)


# -- PII redaction -----------------------------------------------------------

def test_pii_redact_patterns(spark):
    from pyspark.sql import functions as F

    from meerpipe_spark.operators.curation import pii_redact

    df = spark.createDataFrame(
        [Row(s="mail a.b+c@ex-1.co and 10.0.255.1 and id 1234567 but keep 12345 v2")]
    )
    out = df.select(pii_redact(F.col("s")).alias("r")).head().r
    assert out == "mail <EMAIL> and <IP> and id <NUM> but keep 12345 v2"


def test_pii_redact_email_before_num(spark):
    from pyspark.sql import functions as F

    from meerpipe_spark.operators.curation import pii_redact

    df = spark.createDataFrame([Row(s="x 123456789@example.com y")])
    assert df.select(pii_redact(F.col("s")).alias("r")).head().r == "x <EMAIL> y"


# -- mixture rates -----------------------------------------------------------

def test_mixture_rates_uniform_target_cap(spark):
    from meerpipe_spark.operators.curation import mixture_rates

    # srcA: 8 tokens, srcB: 2 tokens -> total 10, target 5/stratum
    docs = _docs(
        spark,
        [(1, "a b c d e f g h", "srcA"), (2, "x y", "srcB")],
    )
    out = {r.source: r for r in mixture_rates(docs).collect()}
    assert out["srcA"].rate == 0.625    # 5/8 downsample
    assert out["srcB"].rate == 1.0      # capped, never upsample
    assert out["srcA"].n_tokens == 8 and out["srcB"].n_docs == 1


# -- hash split --------------------------------------------------------------

def test_hash_split_deterministic_and_dedup_stable(spark):
    from meerpipe_spark.operators.curation import hash_split

    docs = _docs(spark, [(i, f"doc {i % 50}", "s") for i in range(200)])
    a = {(r.doc_id, r.split) for r in hash_split(docs).collect()}
    b = {(r.doc_id, r.split) for r in hash_split(docs.repartition(7)).collect()}
    assert a == b  # partitioning-independent
    # byte-equal docs always share a split (dedup-stable: no train/test leak)
    by_text = {}
    for r in hash_split(docs).select("text", "split").collect():
        by_text.setdefault(r.text, set()).add(r.split)
    assert all(len(s) == 1 for s in by_text.values())
    # all three splits populated at 80/10/10 over 50 distinct contents
    assert {s for ss in by_text.values() for s in ss} == {"train", "val", "test"}


@pytest.mark.slow
def test_cc_contraction_matches_propagation_small_graphs(spark):
    """Same (node, component) map from both algorithms on chains, cycles,
    cross-links and islands."""
    cases = [
        [(1, 2), (2, 3), (7, 8)],
        [(4, 5), (5, 6), (6, 4), (2, 6)],
        [(i, i + 1) for i in range(9)],
        [(10, 20), (20, 10), (30, 30), (30, 31)],  # dupes + self-loop
    ]
    for edges in cases:
        prop = {
            r.node: r.component
            for r in connected_components(_pairs(spark, edges)).collect()
        }
        cont = {
            r.node: r.component
            for r in connected_components(
                _pairs(spark, edges), algorithm="contraction"
            ).collect()
        }
        assert cont == prop, edges


@pytest.mark.slow
def test_cc_contraction_long_path_within_log_rounds(spark):
    """VERDICT r3 #8: a 10^4-node path graph (diameter 10^4) must
    converge within max_iters=15 rounds under contraction — propagation
    would need 10^4 rounds. Every node lands on component 0."""
    n = 10_000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = connected_components(pairs, max_iters=15, algorithm="contraction")
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("component").alias("ncomp"),
        F.max("component").alias("maxc"),
    ).collect()[0]
    assert agg.n == n and agg.ncomp == 1 and agg.maxc == 0


@pytest.mark.slow
def test_cc_contraction_random_graph_matches_propagation(spark):
    """Randomized (fixed-seed) sparse graph equivalence."""
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [e for e in edges if e[0] != e[1]]
    prop = {
        r.node: r.component
        for r in connected_components(_pairs(spark, edges)).collect()
    }
    cont = {
        r.node: r.component
        for r in connected_components(
            _pairs(spark, edges), algorithm="contraction"
        ).collect()
    }
    assert cont == prop


# -- importance resampling ---------------------------------------------------

def test_importance_resample_prefers_target_like_docs(spark):
    """Docs sharing the target slice's vocabulary must outscore docs
    with disjoint vocabulary, and the selection is deterministic."""
    from meerpipe_spark.operators.curation import importance_resample

    rows = []
    # target domain: words from {alpha beta gamma}
    for i in range(20):
        rows.append(Row(doc_id=i, source="tgt", text="alpha beta gamma alpha beta"))
    # raw pool: 10 target-like, 10 disjoint-vocabulary
    for i in range(100, 110):
        rows.append(Row(doc_id=i, source="raw", text="alpha beta alpha gamma beta"))
    for i in range(200, 210):
        rows.append(Row(doc_id=i, source="raw", text="zeta eta theta iota kappa"))
    docs = spark.createDataFrame(rows)
    out = importance_resample(
        docs, is_target=F.col("source") == "tgt", n=10, id_col="doc_id"
    )
    picked = {r.doc_id for r in out.collect()}
    # Gumbel noise is O(1); the vocabulary log-ratio gap is >> that, so
    # every selected raw-pool doc must be target-like
    target_like = set(range(100, 110)) | set(range(20))
    assert picked <= target_like

    again = {r.doc_id for r in importance_resample(
        docs, is_target=F.col("source") == "tgt", n=10, id_col="doc_id"
    ).collect()}
    assert again == picked  # content-derived noise -> reproducible draw


def test_importance_resample_scores_monotone_in_target_overlap(spark):
    from meerpipe_spark.operators.curation import importance_resample

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="tgt", text="x y z"),
            Row(doc_id=2, source="raw", text="x y z"),      # full overlap
            Row(doc_id=3, source="raw", text="x y q"),      # partial
            Row(doc_id=4, source="raw", text="q q q"),      # none (repeated OOV)
        ]
    )
    out = {
        r.doc_id: r.score
        for r in importance_resample(
            docs, is_target=F.col("source") == "tgt", n=4
        ).collect()
    }
    assert out[2] > out[3] > out[4]


def test_profile_table_stats_and_single_pass(spark):
    from meerpipe_spark.operators.curation import profile_table

    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=2, b=None), Row(a=2, b="y")]
    )
    prof = {r.column_name: r for r in profile_table(df).collect()}
    assert prof["a"].n_rows == 3 and prof["a"].n_nulls == 0
    assert prof["a"].n_distinct == 2 and prof["a"].min_str == "1" and prof["a"].max_str == "2"
    assert prof["b"].n_nulls == 1 and prof["b"].n_distinct == 2
    # single wide aggregation: exactly one scan of the input in the plan
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LocalTableScan") + plan.count("Scan ExistingRDD") <= 2


@pytest.mark.slow
def test_cc_auto_long_path_through_default_entry(spark):
    """VERDICT r4 #3: the DEFAULT entry point must be safe on the
    adversarial topology — a 10^4-node path (diameter 10^4) exceeds the
    propagation probe, auto falls back to contraction, and the result
    still lands within the contraction round bound."""
    n = 10_000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = connected_components(pairs)  # algorithm="auto" default
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("component").alias("ncomp"),
        F.max("component").alias("maxc"),
    ).collect()[0]
    assert agg.n == n and agg.ncomp == 1 and agg.maxc == 0


def test_cc_auto_converges_in_probe_on_cliques(spark):
    """Healthy near-dup cliques converge inside the propagation probe —
    auto must return the propagation result without the contraction
    restart (observed via the probe's converged flag)."""
    from meerpipe_spark.operators.dedup import _cc_propagation

    edges = [(a, b) for a in range(10) for b in range(a + 1, 10)] + [
        (100 + a, 100 + b) for a in range(5) for b in range(a + 1, 5)
    ]
    labels, converged = _cc_propagation(_pairs(spark, edges), "id_a", "id_b", 6)
    assert converged
    got = {r.node: r.component for r in labels.collect()}
    assert all(v == 0 for k, v in got.items() if k < 100)
    assert all(v == 100 for k, v in got.items() if k >= 100)


# ---------------------------------------------------------------------------
# Sliding-window chunking — round 5
# ---------------------------------------------------------------------------

def test_chunking_overlap_and_reconstruction(spark):
    from pyspark.sql import Row
    from meerpipe_spark.operators.text import chunk_documents

    words = [f"w{i}" for i in range(200)]
    docs = spark.createDataFrame([Row(doc_id=1, text=" ".join(words))])
    chunks = sorted(
        chunk_documents(docs, chunk_words=64, overlap=16).collect(),
        key=lambda r: r.chunk_idx,
    )
    # stride 48: starts at 0,48,96,144; ceil((200-16)/48)=4 chunks
    assert [c.chunk_idx for c in chunks] == [0, 1, 2, 3]
    texts = [c.chunk_text.split(" ") for c in chunks]
    for a, b in zip(texts, texts[1:]):
        assert a[-16:] == b[:16]  # consecutive chunks share the overlap
    # de-overlapped concatenation reconstructs the document
    rebuilt = texts[0] + [w for t in texts[1:] for w in t[16:]]
    assert rebuilt == words


def test_chunking_short_doc_single_chunk(spark):
    from pyspark.sql import Row
    from meerpipe_spark.operators.text import chunk_documents

    docs = spark.createDataFrame([Row(doc_id=1, text="just five little words here")])
    chunks = chunk_documents(docs, chunk_words=64, overlap=16).collect()
    assert len(chunks) == 1
    assert chunks[0].chunk_text == "just five little words here"
    assert chunks[0].n_words == 5


def test_chunking_rejects_bad_overlap(spark):
    import pytest
    from pyspark.sql import Row
    from meerpipe_spark.operators.text import chunk_documents

    docs = spark.createDataFrame([Row(doc_id=1, text="a b")])
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_words=8, overlap=8)


# ---------------------------------------------------------------------------
# Temperature mixture resampling — round 5
# ---------------------------------------------------------------------------

def test_temperature_resample_flattens_mixture(spark):
    import random
    from pyspark.sql import Row, functions as F
    from meerpipe_spark.operators.curation import temperature_resample

    rng = random.Random(11)
    rows = []
    i = 0
    # heavily imbalanced: head 2000 docs, tail 100 docs (20x token skew)
    for src, n in (("head", 2000), ("tail", 100)):
        for _ in range(n):
            rows.append(
                Row(doc_id=i, source=src,
                    text=" ".join(f"w{rng.randrange(50)}" for _ in range(20)))
            )
            i += 1
    out = temperature_resample(spark.createDataFrame(rows))
    rates = {r.source: r.rate for r in out.select("source", "rate").distinct().collect()}
    # without-replacement limit: the most up-weighted source (tail) hits
    # rate exactly 1; the head is damped below its natural share
    assert abs(rates["tail"] - 1.0) < 1e-6
    assert 0 < rates["head"] < 1
    # sqrt temperature: head/tail KEPT ratio ~ sqrt(20) ~ 4.5, far below
    # the natural 20x
    kept = {r.source: r.cnt for r in out.filter("kept").groupBy("source")
            .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    ratio = kept["head"] / kept["tail"]
    assert 3.0 < ratio < 6.5, ratio


def test_temperature_resample_partitioning_invariant(spark):
    from pyspark.sql import Row
    from meerpipe_spark.operators.curation import temperature_resample

    rows = [
        Row(doc_id=i, source=f"s{i % 7}", text=" ".join(f"t{j}" for j in range(i % 30 + 3)))
        for i in range(400)
    ]
    a = temperature_resample(spark.createDataFrame(rows).coalesce(1))
    b = temperature_resample(spark.createDataFrame(rows).repartition(13))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---------------------------------------------------------------------------
# Content-defined chunking — round 5
# ---------------------------------------------------------------------------

def test_cdc_resync_after_edit(spark):
    import random
    from pyspark.sql import Row
    from meerpipe_spark.operators.text import cdc_chunks

    rng = random.Random(7)
    words = [f"t{rng.randrange(10**6)}" for _ in range(300)]
    base = spark.createDataFrame([Row(doc_id=1, text=" ".join(words))])
    edited = spark.createDataFrame(
        [Row(doc_id=2, text=" ".join([f"p{i}" for i in range(5)] + words))]
    )
    h1 = {r.chunk_hash for r in cdc_chunks(base).collect()}
    h2 = {r.chunk_hash for r in cdc_chunks(edited).collect()}
    # a 5-word prepend disturbs only the first chunk: every later chunk
    # re-syncs to an identical boundary/hash (the CDC property; fixed-
    # stride chunking would shift EVERY chunk)
    assert len(h1) >= 4
    assert len(h1 & h2) >= len(h1) - 1


def test_cdc_conservation_and_bounds(spark):
    import random
    from pyspark.sql import Row, functions as F
    from meerpipe_spark.operators.text import cdc_chunks

    rng = random.Random(3)
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=" ".join(f"u{rng.randrange(10**6)}"
                                        for _ in range(rng.randint(1, 150))))
            for i in range(30)
        ]
    )
    out = cdc_chunks(docs)
    words_out = {
        r.doc_id: r.s for r in out.groupBy("doc_id").agg(F.sum("n_words").alias("s")).collect()
    }
    words_in = {r.doc_id: len(r.text.split(" ")) for r in docs.collect()}
    assert words_out == words_in  # every word lands in exactly one chunk
    assert out.filter("n_words <= 0").count() == 0


# ---------------------------------------------------------------------------
# Gopher-rules quality gate — round 5
# ---------------------------------------------------------------------------

def test_quality_gate_check_codes(spark):
    from pyspark.sql import Row
    from meerpipe_spark.operators.curation import quality_gate

    ok = " ".join("abcdefghijklmnopqrstuvwxyz"[i % 26] * 3 for i in range(40))  # clean doc
    short = "just a few words"                                # too_short
    repet = " ".join(["spam"] * 10 + ["abcdefghijklmnopqrst"[i] * 3 for i in range(20)])  # repetition
    digity = " ".join([f"n{i}" for i in range(25)])           # every word has a digit
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=ok), Row(doc_id=2, text=short),
         Row(doc_id=3, text=repet), Row(doc_id=4, text=digity)]
    )
    out = {r.doc_id: r for r in quality_gate(docs).collect()}
    assert out[1].keep and out[1].failed_checks == ""
    assert not out[2].keep and "too_short" in out[2].failed_checks
    assert not out[3].keep and "repetition" in out[3].failed_checks
    assert abs(out[3].top_word_frac - 10 / 30) < 1e-5
    assert not out[4].keep and "digits" in out[4].failed_checks


def test_quality_gate_run_length_equals_multiplicity(spark):
    import random
    from collections import Counter

    from pyspark.sql import Row
    from meerpipe_spark.operators.curation import quality_gate

    rng = random.Random(31)
    rows, expect = [], {}
    for i in range(30):
        ws = [f"w{rng.randrange(8)}" for _ in range(rng.randint(20, 60))]
        rows.append(Row(doc_id=i, text=" ".join(ws)))
        expect[i] = max(Counter(ws).values()) / len(ws)
    out = quality_gate(spark.createDataFrame(rows)).collect()
    for r in out:
        assert abs(r.top_word_frac - expect[r.doc_id]) < 1e-6


# --- robust outliers + PSI drift (round 5, wave 4) --------------------------

def test_robust_outliers_flags_injected_spike(spark):
    from pyspark.sql import Row
    from meerpipe_spark.operators.curation import robust_outliers

    base = [Row(id=i, g="a", v=float(10 + (i % 5))) for i in range(50)]
    spike = [Row(id=999, g="a", v=1000.0)]
    df = spark.createDataFrame(base + spike)
    out = robust_outliers(df, ["g"], "v", ["id"], k=3.5).collect()
    assert [r.id for r in out] == [999]
    r = out[0]
    # med=12, MAD=median(|v-12|)=1 on the base grid -> z = .6745*988
    assert r.med == 12.0 and r.mad == 1.0
    assert abs(r.robust_z - 0.6745 * 988.0) < 1e-6


def test_robust_outliers_clean_group_flags_nothing(spark):
    from pyspark.sql import Row
    from meerpipe_spark.operators.curation import robust_outliers

    df = spark.createDataFrame([Row(id=i, g="a", v=float(i % 7)) for i in range(70)])
    assert robust_outliers(df, ["g"], "v", ["id"]).count() == 0


def test_psi_zero_for_identical_distributions(spark):
    from pyspark.sql import Row
    from meerpipe_spark.operators.curation import fixed_width_bin, psi_drift

    rows = [Row(v=float(i % 100)) for i in range(1000)]
    df = spark.createDataFrame(rows)
    out = psi_drift(df, df, "v", fixed_width_bin("v", 0.0, 100.0, 10)).head()
    assert out.psi == 0.0
    assert out.n_ref == out.n_cur == 1000


def test_psi_detects_major_shift(spark):
    from pyspark.sql import Row
    from meerpipe_spark.operators.curation import fixed_width_bin, psi_drift

    ref = spark.createDataFrame([Row(v=float(i % 50)) for i in range(1000)])
    cur = spark.createDataFrame([Row(v=50.0 + float(i % 50)) for i in range(1000)])
    out = psi_drift(ref, cur, "v", fixed_width_bin("v", 0.0, 100.0, 10)).head()
    assert out.psi > 0.25  # disjoint supports -> major shift on the scorecard


def test_psi_partitioning_invariance(spark):
    from pyspark.sql import Row
    from meerpipe_spark.operators.curation import psi_drift
    from pyspark.sql import functions as F

    ref = spark.createDataFrame([Row(c=f"k{i % 7}") for i in range(700)])
    cur = spark.createDataFrame([Row(c=f"k{i % 5}") for i in range(500)])
    a = psi_drift(ref.repartition(1), cur.repartition(1), "c", F.col("c")).head().psi
    b = psi_drift(ref.repartition(13), cur.repartition(13), "c", F.col("c")).head().psi
    assert a == b  # ordered fold: bit-identical under any partitioning


# --- LM perplexity + char entropy (round 5, wave 4) -------------------------

def test_char_entropy_known_values(spark):
    import math
    from pyspark.sql import Row
    from meerpipe_spark.operators.text import char_entropy

    df = spark.createDataFrame([
        Row(doc_id=1, text="aaaaaaaa"),          # one symbol -> 0 bits
        Row(doc_id=2, text="abababab"),          # two equiprobable -> 1 bit
        Row(doc_id=3, text="abcdabcd"),          # four equiprobable -> 2 bits
    ])
    out = {r.doc_id: r.entropy_bits for r in char_entropy(df).collect()}
    assert out[1] == 0.0
    assert abs(out[2] - 1.0) < 1e-9
    assert abs(out[3] - 2.0) < 1e-9


def test_bigram_perplexity_prefers_predictable_text(spark):
    from pyspark.sql import Row
    from meerpipe_spark.operators.text import bigram_perplexity

    # corpus dominated by one repeated transition; doc 99 uses transitions
    # never seen elsewhere -> must score a higher perplexity
    rows = [Row(doc_id=i, text="the cat sat on the mat") for i in range(20)]
    rows.append(Row(doc_id=99, text="mat the on sat cat the"))
    out = {r.doc_id: r.ppl for r in bigram_perplexity(spark.createDataFrame(rows)).collect()}
    assert out[99] > out[0]


def test_bigram_perplexity_skips_single_word_docs(spark):
    from pyspark.sql import Row
    from meerpipe_spark.operators.text import bigram_perplexity

    df = spark.createDataFrame([Row(doc_id=1, text="hello"), Row(doc_id=2, text="a b a b")])
    out = bigram_perplexity(df).collect()
    assert [r.doc_id for r in out] == [2]  # no bigrams -> no row


def test_leakage_safe_split_keeps_components_together(spark):
    from pyspark.sql import Row
    from meerpipe_spark.operators.curation import leakage_safe_split

    docs = spark.createDataFrame([Row(doc_id=i) for i in range(30)])
    # two dup clusters: {1,2,3,4} (path) and {10,11}; rest singletons
    edges = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=3, id_b=4), Row(id_a=10, id_b=11)]
    )
    out = leakage_safe_split(docs, edges)
    rows = {r.doc_id: (r.component, r.split) for r in out.collect()}
    assert len(rows) == 30
    # every cluster member shares component AND side
    assert len({rows[i] for i in (1, 2, 3, 4)}) == 1
    assert len({rows[i] for i in (10, 11)}) == 1
    assert rows[1][0] == 1 and rows[10][0] == 10  # min-id canonical
    # singletons keep their own id
    assert rows[20][0] == 20
    # both sides are populated at this size
    assert {s for _, s in rows.values()} == {"train", "val"}


def test_leakage_safe_split_deterministic_across_partitionings(spark):
    from pyspark.sql import Row
    from meerpipe_spark.operators.curation import leakage_safe_split

    docs = spark.createDataFrame([Row(doc_id=i) for i in range(100)])
    edges = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(0, 40, 2)])
    a = sorted(map(tuple, leakage_safe_split(docs.repartition(1), edges).collect()))
    b = sorted(map(tuple, leakage_safe_split(docs.repartition(11), edges).collect()))
    assert a == b


# --- declarative recipe compiler (round 5, wave 4) --------------------------

def test_recipe_conservation_and_first_step_claims(spark):
    from pyspark.sql import Row
    from meerpipe_spark.plans.curation_recipe import compile_recipe

    docs = spark.createDataFrame([
        Row(doc_id=1, text="short", lang="en"),
        Row(doc_id=2, text="long enough text right here ok", lang="fr"),
        Row(doc_id=3, text="long enough text right here ok", lang="en"),
        Row(doc_id=4, text="long enough text right here ok", lang="en"),  # dup of 3
        Row(doc_id=5, text="another long enough text here!", lang="en"),
    ])
    recipe = [
        {"step": "min_length", "chars": 10},
        {"step": "language", "allow": ("en",)},
        {"step": "exact_dedup"},
    ]
    corpus, quarantine = compile_recipe(docs, recipe)
    kept = {r.doc_id for r in corpus.collect()}
    q = {r.doc_id: r.rejected_by for r in quarantine.collect()}
    assert kept == {3, 5}
    # FIRST failing step claims the doc; every doc is in exactly one place
    assert q == {1: "min_length", 2: "language", 4: "exact_dedup"}
    assert kept.isdisjoint(q)
    assert kept | set(q) == {1, 2, 3, 4, 5}


def test_recipe_unknown_step_raises(spark):
    from pyspark.sql import Row
    from meerpipe_spark.plans.curation_recipe import compile_recipe

    docs = spark.createDataFrame([Row(doc_id=1, text="t", lang="en")])
    import pytest
    with pytest.raises(ValueError, match="unknown recipe step"):
        compile_recipe(docs, [{"step": "nope"}])


def test_recipe_transform_step_keeps_all_rows(spark):
    from pyspark.sql import Row
    from meerpipe_spark.plans.curation_recipe import compile_recipe

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"contact me: user{i}@mail.com today", lang="en") for i in range(5)]
    )
    corpus, quarantine = compile_recipe(docs, [{"step": "pii_redact"}])
    assert corpus.count() == 5
    assert quarantine.count() == 0
    assert all("@" not in r.text for r in corpus.collect())  # rewritten, not dropped


def test_corpus_build_e2e_statuses_partition_corpus(spark, sf_dir):
    """Every document exits with exactly ONE status, and stage
    populations are consistent (no doc both kept and rejected)."""
    from meerpipe_spark.queries import QUERIES

    out = QUERIES["corpus_build_e2e"].fn(spark, sf_dir).collect()
    from meerpipe_spark.io import load_tables

    n_docs = load_tables(spark, sf_dir)["documents"].count()
    assert len(out) == n_docs
    ids = [r["doc_id"] for r in out]
    assert len(set(ids)) == n_docs  # exactly one status per doc
    statuses = {r["status"] for r in out}
    assert statuses <= {
        "quality", "language", "exact_dedup", "benchmark",
        "contaminated", "near_dup", "kept_train", "kept_val",
    }
    assert "kept_train" in statuses
