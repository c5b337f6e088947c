"""Round-10 additions: PPMI-spectral node embeddings (the Levy &
Goldberg SGNS factorization closing the walk → embedding loop), the
bounded pinned-k hard-negative lane, and large-k routing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _copurchase_embeddings(spark, sf_dir, iters=6):
    from meerpipe_spark.operators.graph import (
        deterministic_walks,
        ppmi_spectral_embeddings,
        skipgram_pairs,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    pp = li.select("l_orderkey", "l_partkey").distinct()
    a = pp.select(F.col("l_orderkey").alias("kk"), F.col("l_partkey").alias("src"))
    b = pp.select(F.col("l_orderkey").alias("kk"), F.col("l_partkey").alias("dst"))
    co = (
        a.join(b, "kk").filter(F.col("src") < F.col("dst"))
        .select("src", "dst").distinct()
    )
    edges = co.unionByName(
        co.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    starts = part.filter(F.col("p_partkey") % 25 == 0).select(
        F.col("p_partkey").alias("walk_id"), F.col("p_partkey").alias("node")
    )
    walks = deterministic_walks(edges, starts, steps=8)
    return ppmi_spectral_embeddings(skipgram_pairs(walks, window=2), iters=iters)


@pytest.mark.slow
def test_ppmi_embeddings_invariants(spark, sf_dir):
    """Component 1 is the Perron direction of a nonnegative matrix
    (all entries >= 0), component 2 is a genuine second direction
    (mixed signs), both live under the 2^14 ∞-norm cap, and every
    vocab node gets exactly one embedding row."""
    rows = _copurchase_embeddings(spark, sf_dir).collect()
    assert len(rows) > 50
    assert len({r.node for r in rows}) == len(rows)
    assert all(r.e1 >= 0 for r in rows)  # Perron start stays nonnegative
    assert all(abs(r.e1) < 2**14 and abs(r.e2) < 2**14 for r in rows)
    assert any(r.e2 < 0 for r in rows) and any(r.e2 > 0 for r in rows)
    # components not (anti)parallel: integer cross-correlation sign mix
    import math

    n1 = math.sqrt(sum(r.e1 * r.e1 for r in rows))
    n2 = math.sqrt(sum(r.e2 * r.e2 for r in rows))
    cos12 = sum(r.e1 * r.e2 for r in rows) / (n1 * n2)
    assert abs(cos12) < 0.9


@pytest.mark.slow
def test_ppmi_embeddings_partition_invariant(spark, sf_dir):
    """Exact-bigint iteration: repartitioning the pair counts must not
    move a single output bit (the float formulation this replaces
    drifts in the low mantissa bits with shuffle order)."""
    from meerpipe_spark.operators.graph import ppmi_spectral_embeddings

    base = _copurchase_embeddings(spark, sf_dir, iters=3)
    # same pair table, adversarial partitioning
    from meerpipe_spark.operators.graph import (
        deterministic_walks,
        skipgram_pairs,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    pp = li.select("l_orderkey", "l_partkey").distinct()
    a = pp.select(F.col("l_orderkey").alias("kk"), F.col("l_partkey").alias("src"))
    b = pp.select(F.col("l_orderkey").alias("kk"), F.col("l_partkey").alias("dst"))
    co = (
        a.join(b, "kk").filter(F.col("src") < F.col("dst"))
        .select("src", "dst").distinct()
    )
    edges = co.unionByName(
        co.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    starts = part.filter(F.col("p_partkey") % 25 == 0).select(
        F.col("p_partkey").alias("walk_id"), F.col("p_partkey").alias("node")
    )
    pairs = skipgram_pairs(
        deterministic_walks(edges, starts, steps=8), window=2
    ).repartition(17, "context")
    other = ppmi_spectral_embeddings(pairs, iters=3)
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, other.collect()))


def test_hard_negatives_explicit_large_k_routes(spark, sf_dir):
    """ADVICE r9: an explicit centroids_k above the literal-path cap
    must route to the two-level quantizer, not raise."""
    from meerpipe_spark.operators.similarity import hard_negatives

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = hard_negatives(emb, centroids_k=40, iters=1, per_anchor=1)
    rows = out.collect()
    assert len(rows) > 0
    assert len({r.src for r in rows}) == len(rows)  # per_anchor=1


def test_pinned_hard_negative_lane_is_bounded(spark, sf_dir):
    """The registered pinned-k lane samples its input to <= ~4096 rows
    (VERDICT r9 item 1): at gate scales the filter is a no-op, and the
    md5 predicate composes identically on both engines — spot-check the
    Spark-side sample row count formula here."""
    from meerpipe_spark.operators.similarity import _train_sample

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    sampled = _train_sample(emb, 4096, "vec_id")
    if n <= 4096:
        assert sampled.count() == n  # returned unchanged
    else:
        k = sampled.count()
        assert 0.8 * 4096 < k < 1.2 * 4096


def test_train_sample_salt_decorrelates(spark, sf_dir):
    """ADVICE r9: the salted draw must be independent of the unsalted
    one — the composed nested sample targets k1·64 rows, not the outer
    sample's full size."""
    from meerpipe_spark.operators.similarity import _train_sample

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(400)
    outer = _train_sample(emb, 100, "vec_id", n=400)
    inner = _train_sample(outer, 25, "vec_id", n=100, salt=":coarse")
    n_outer, n_inner = outer.count(), inner.count()
    assert 50 <= n_outer <= 160  # ~100 target
    # unsalted composition would return ~n_outer rows when bounds align;
    # the salted draw actually thins toward the 25-row target
    assert n_inner < 0.6 * n_outer


def test_wav_roundtrip_and_poison_isolation(spark, sf_dir):
    """vectors_to_wav -> wav_header_features roundtrip: header fields
    match the synth formulas, RMS comes from the real decoded samples,
    and a payload whose data-chunk size overruns the actual bytes is
    rejected by the bounds check (not over-read)."""
    import struct

    from meerpipe_spark.operators.multimodal import (
        vectors_to_wav,
        wav_header_features,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(20)
    media = vectors_to_wav(emb)
    rows = wav_header_features(media).collect()
    assert all(r.decode_ok for r in rows)
    for r in rows:
        assert r.sample_rate == 8000 + (r.media_id % 8) * 1000
        assert r.n_samples == 256
        assert r.duration_ms == 256000 // r.sample_rate
        assert 0.0 <= r.rms < 32768.0
    # corrupt one payload's data-size field: must isolate, not crash
    one = media.limit(1).collect()[0]
    bad = one.payload[:40] + struct.pack("<I", 1 << 20) + one.payload[44:]
    pdf = spark.createDataFrame(
        [(one.media_id, bytearray(bad))], "media_id LONG, payload BINARY"
    )
    out = wav_header_features(pdf).collect()
    assert len(out) == 1 and out[0].decode_ok is False
    assert out[0].rms is None and out[0].sample_rate is None


def test_tim_sharded_sink_layout_and_roundtrip(spark, sf_dir, tmp_path):
    """write_tim_sharded: every shard is a standalone FORMAT 1 file
    (header first), the manifest lists every shard part in
    deterministic order, shard membership is content-deterministic
    (input partitioning does not move rows between shards), and the
    distributed re-read recovers every TOA."""
    from pyspark.sql import functions as F

    from meerpipe_spark.sources.tim import read_tim_df, write_tim_sharded

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(500)
    toas = ev.select(
        F.col("event_type").alias("name"),
        (900 + F.col("user_id") % 200).cast("double").alias("freq_mhz"),
        (59000 + F.col("event_id") % 1000).cast("long").alias("imjd"),
        ((F.col("event_id") % 100000) / F.lit(100000.0)).alias("fmjd"),
        (F.col("user_id") % 100).cast("double").alias("err_us"),
        F.lit("meerkat").alias("site"),
        F.lit(None).cast("map<string,string>").alias("flags"),
    )
    out = str(tmp_path / "tim_bulk")
    manifest = write_tim_sharded(toas, out, n_shards=8)
    import os

    mlines = open(manifest).read().splitlines()
    assert mlines[0] == "FORMAT 1"
    assert all(l.startswith("INCLUDE shard=") for l in mlines[1:])
    assert len(mlines) - 1 >= 1
    shard_dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    for d in shard_dirs:
        for part in os.listdir(os.path.join(out, d)):
            if part.startswith(("_", ".")) or part.endswith(".crc"):
                continue
            first = open(os.path.join(out, d, part)).readline().strip()
            assert first == "FORMAT 1", f"{d}/{part} lacks header"
    n_in = toas.count()
    back = read_tim_df(spark, out + "/shard=*")
    assert back.count() == n_in
    # content-deterministic shards: adversarial repartition, same layout
    out2 = str(tmp_path / "tim_bulk2")
    write_tim_sharded(toas.repartition(13), out2, n_shards=8)

    def shard_map(root):
        got = {}
        for d in sorted(x for x in os.listdir(root) if x.startswith("shard=")):
            lines = []
            for part in sorted(os.listdir(os.path.join(root, d))):
                if part.startswith(("_", ".")) or part.endswith(".crc"):
                    continue
                lines += [
                    l for l in open(os.path.join(root, d, part)).read().splitlines()
                    if l != "FORMAT 1"
                ]
            got[d] = sorted(lines)
        return got

    assert shard_map(out) == shard_map(out2)


def test_jpeg_roundtrip_and_poison_isolation(spark, sf_dir):
    """vectors_to_jpeg -> jpeg_header_features roundtrip: header fields
    match the synth formulas, dqt_sum comes from the real DQT bytes,
    and a payload whose SOF0 length field overruns the actual bytes is
    rejected by the bounds check (not over-read)."""
    import numpy as np

    from meerpipe_spark.operators.multimodal import (
        jpeg_header_features,
        vectors_to_jpeg,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(20)
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    media = vectors_to_jpeg(emb)
    rows = jpeg_header_features(media).collect()
    assert len(rows) == len(vecs) and all(r.decode_ok for r in rows)
    for r in rows:
        i = r.media_id
        assert r.width == 16 + i % 240
        assert r.height == 16 + (i * 7) % 240
        assert r.x_density == 72 + i % 5
        assert r.y_density == 72 + (i * 3) % 5
        q = np.clip(np.floor(np.abs(vecs[i][:64]) * 200).astype(np.int64) + 1,
                    1, 255)
        assert r.dqt_sum == int(q.sum())
    # corrupt one payload's SOF0 length field: must isolate, not crash
    one = media.limit(1).collect()[0]
    bad = one.payload[:91] + b"\x7f\xff" + one.payload[93:]
    pdf = spark.createDataFrame(
        [(one.media_id, bytearray(bad))], "media_id LONG, payload BINARY"
    )
    out = jpeg_header_features(pdf).collect()
    assert len(out) == 1 and out[0].decode_ok is False
    assert out[0].width is None and out[0].dqt_sum is None
    # non-JPEG bytes: the SOI magic check isolates too
    pdf2 = spark.createDataFrame(
        [(99, bytearray(b"certainly not a jpeg"))],
        "media_id LONG, payload BINARY",
    )
    out2 = jpeg_header_features(pdf2).collect()
    assert out2[0].decode_ok is False
