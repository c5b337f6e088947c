"""Streaming-layer tests: windowed aggregation equivalence with the
batch query, and exactly-once incremental processing (unprocessed-only
semantics survive re-delivery)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from meerpipe_spark.io import load_tables
from meerpipe_spark.streaming.events import (
    read_event_stream,
    run_incremental_pipeline,
    windowed_event_counts,
    job_state_rollup,
)


@pytest.fixture()
def event_dir(spark, sf_dir, tmp_path):
    """Events parquet split into several files to exercise micro-batches."""
    src = str(tmp_path / "events_src")
    load_tables(spark, sf_dir)["events"].repartition(4).write.parquet(src)
    return src


@pytest.mark.slow
def test_windowed_counts_match_batch(spark, sf_dir, event_dir, tmp_path):
    stream = read_event_stream(spark, event_dir)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (
        windowed_event_counts(stream, "1 hour")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(out_dir)
    batch = (
        load_tables(spark, sf_dir)["events"]
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # watermark may hold back the tail window(s) in append mode; everything
    # emitted must match the batch result exactly
    emitted = {(r.window_start, r.event_type): r.n for r in got.collect()}
    expect = {(r.window_start, r.event_type): r.n for r in batch.collect()}
    assert len(emitted) > 0
    for k, v in emitted.items():
        assert expect[k] == v, k


@pytest.mark.slow
def test_incremental_pipeline_exactly_once(spark, event_dir, tmp_path):
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt2")

    def transform(df):
        return df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

    run_incremental_pipeline(spark, event_dir, sink, ckpt, transform)
    ledger1 = spark.read.parquet(os.path.join(sink, "ledger"))
    n_events = spark.read.parquet(event_dir).count()
    assert ledger1.count() == n_events
    assert ledger1.distinct().count() == n_events

    # Re-deliver the same data with a FRESH checkpoint (simulated
    # re-delivery): the ledger anti-join must keep processing idempotent.
    shutil.rmtree(ckpt)
    run_incremental_pipeline(spark, event_dir, sink, str(tmp_path / "ckpt3"), transform)
    ledger2 = spark.read.parquet(os.path.join(sink, "ledger"))
    assert ledger2.count() == n_events  # no duplicates appended


def test_job_state_rollup(spark):
    df = spark.createDataFrame(
        [("Complete",), ("Complete",), ("Running",), ("Failure",)], "state string"
    )
    got = {r.state: r.n for r in job_state_rollup(df).collect()}
    assert got == {"Complete": 2, "Running": 1, "Failure": 1}


@pytest.mark.slow
def test_upsert_by_key_idempotent(spark, tmp_path):
    from meerpipe_spark.sinks import upsert_by_key

    path = str(tmp_path / "tbl")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    upsert_by_key(spark, v1, path, ("id",))
    assert sorted((r.id, r.v) for r in spark.read.parquet(path).collect()) == [(1, "a"), (2, "b")]
    # update key 2, add key 3; re-apply twice (idempotent)
    v2 = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    upsert_by_key(spark, v2, path, ("id",))
    upsert_by_key(spark, v2, path, ("id",))
    got = sorted((r.id, r.v) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]


def test_write_cube_partitioned(spark, tmp_path):
    import os
    from meerpipe_spark.sinks import write_cube

    df = spark.createDataFrame(
        [("obsA", 1, 0.5), ("obsB", 2, 1.5)], "obs_id string, chan int, value double"
    )
    path = str(tmp_path / "cube")
    write_cube(df, path)
    assert sorted(d for d in os.listdir(path) if d.startswith("obs_id=")) == [
        "obs_id=obsA", "obs_id=obsB",
    ]
    back = spark.read.parquet(path)
    assert back.count() == 2 and set(back.columns) == {"obs_id", "chan", "value"}


def test_salted_agg_sum_matches_plain(spark, sf_dir):
    from meerpipe_spark.io import load_tables
    from meerpipe_spark.skew import salted_agg_sum, top_frequent_keys

    e = load_tables(spark, sf_dir)["events"]
    salted = {
        (r.event_type,): (r.sum_value, r.n)
        for r in salted_agg_sum(e, ["event_type"], ["value"], salt_buckets=8).collect()
    }
    plain = {
        (r.event_type,): (r.s, r.n)
        for r in e.groupBy("event_type")
        .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(salted) == set(plain)
    for k in plain:
        assert salted[k][1] == plain[k][1]
        assert abs(salted[k][0] - plain[k][0]) < 1e-6 * max(1.0, abs(plain[k][0]))
    hot = top_frequent_keys(e, F.col("event_type"), threshold=0.05)
    assert hot.count() >= 1  # event types each hold >5% of a 5-type table


@pytest.mark.slow
def test_sessionize_stream_matches_batch(spark, sf_dir, tmp_path):
    """Single micro-batch: each user's emitted rows (closed + open
    sessions) must equal the batch gap-sessionization exactly."""
    from meerpipe_spark.io import load_tables
    from meerpipe_spark.streaming.events import read_event_stream
    from meerpipe_spark.streaming.sessions import sessionize_stream

    src = str(tmp_path / "src")
    events = load_tables(spark, sf_dir)["events"]
    events.coalesce(1).write.parquet(src)

    q = (
        sessionize_stream(read_event_stream(spark, src), gap_minutes=30)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sessions_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM sessions_test").toPandas()

    # batch truth: gap-based sessions per user
    import pandas as pd

    pdf = events.select("user_id", "ts", "value").toPandas().sort_values(["user_id", "ts"])
    expected_sessions = []
    for uid, grp in pdf.groupby("user_id"):
        cur = None
        for ts, value in zip(grp["ts"], grp["value"]):
            if cur is None or (ts - cur["end"]).total_seconds() > 1800:
                if cur is not None:
                    expected_sessions.append(cur)
                cur = {"user_id": uid, "start": ts, "end": ts, "n": 0, "s": 0.0}
            cur["end"] = ts
            cur["n"] += 1
            cur["s"] += value
        expected_sessions.append(cur)
    exp = pd.DataFrame(expected_sessions)

    # update mode re-emits a session when its event-time timeout fires in
    # the follow-up batch (now closed) — dedup by session key exactly like
    # the downstream idempotent upsert would (latest emission wins)
    got = (
        got.sort_values("closed")
        .drop_duplicates(["user_id", "session_start"], keep="last")
    )
    assert len(got) == len(exp)
    g = got.sort_values(["user_id", "session_start"]).reset_index(drop=True)
    e = exp.sort_values(["user_id", "start"]).reset_index(drop=True)
    assert (g["user_id"].to_numpy() == e["user_id"].to_numpy()).all()
    assert (g["n_events"].to_numpy() == e["n"].to_numpy()).all()
    import numpy as np

    assert np.allclose(g["sum_value"].to_numpy(), e["s"].to_numpy())
    # the last session of each user is open, all others closed
    last_per_user = g.groupby("user_id")["session_start"].transform("max")
    is_last = g["session_start"] == last_per_user
    assert (g.loc[~is_last, "closed"]).all()


@pytest.mark.slow
def test_stream_stream_join_matches_batch(spark, sf_dir, event_dir, tmp_path):
    """§2.11 stream-stream interval join: click→purchase attribution
    within 1 hour, equivalence with the batch twin join."""
    from meerpipe_spark.streaming.events import join_event_streams

    stream = read_event_stream(spark, event_dir)
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    out_dir = str(tmp_path / "ssj_out")
    ckpt = str(tmp_path / "ssj_ckpt")
    (
        join_event_streams(clicks, purchases)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {
        (r.left_id, r.right_id)
        for r in spark.read.parquet(out_dir).collect()
    }
    e = load_tables(spark, sf_dir)["events"]
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("left_id"), F.col("ts").alias("lts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("right_id"), F.col("ts").alias("rts")
    )
    expect = {
        (r.left_id, r.right_id)
        for r in c.join(
            p,
            (c.user_id == p.user_id)
            & (F.col("rts") >= F.col("lts"))
            & (F.col("rts") <= F.col("lts") + F.expr("interval 1 hour")),
        ).collect()
    }
    assert len(expect) > 0
    # append-mode emission must be a subset closed to the batch result;
    # with availableNow over a finite backlog all pairs are emitted
    assert got == expect


@pytest.mark.slow
def test_dedup_stream_suppresses_redelivery(spark, sf_dir, event_dir, tmp_path):
    """Events delivered twice; dedup on event_id leaves exactly one copy
    of each — matching the clean batch table row-for-row."""
    from meerpipe_spark.streaming.events import dedup_stream

    ev = load_tables(spark, sf_dir)["events"]
    ev.repartition(4).write.mode("append").parquet(event_dir)  # second delivery
    out_dir, ckpt = str(tmp_path / "dd_out"), str(tmp_path / "dd_ckpt")
    (
        dedup_stream(read_event_stream(spark, event_dir), ["event_id"],
                     watermark="87600 hours")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(out_dir)
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


# ---------------------------------------------------------------------------
# Funnel analysis — round 5
# ---------------------------------------------------------------------------

def test_funnel_greedy_earliest_semantics(spark):
    import datetime as dt

    from pyspark.sql import Row
    from meerpipe_spark.operators.funnel import funnel

    t0 = dt.datetime(2026, 1, 1)
    sec = dt.timedelta(seconds=1)
    rows = [
        # user 1: full ordered funnel
        Row(user_id=1, ts=t0 + 1 * sec, event_type="view"),
        Row(user_id=1, ts=t0 + 5 * sec, event_type="click"),
        Row(user_id=1, ts=t0 + 9 * sec, event_type="purchase"),
        # user 2: purchase BEFORE click -> not converted
        Row(user_id=2, ts=t0 + 1 * sec, event_type="view"),
        Row(user_id=2, ts=t0 + 2 * sec, event_type="purchase"),
        Row(user_id=2, ts=t0 + 3 * sec, event_type="click"),
        # user 3: no view at all -> excluded entirely
        Row(user_id=3, ts=t0 + 1 * sec, event_type="click"),
        # user 4: greedy-earliest — the EARLIEST view matches, and the
        # click between the two views still counts
        Row(user_id=4, ts=t0 + 1 * sec, event_type="view"),
        Row(user_id=4, ts=t0 + 2 * sec, event_type="click"),
        Row(user_id=4, ts=t0 + 3 * sec, event_type="view"),
        Row(user_id=4, ts=t0 + 4 * sec, event_type="purchase"),
    ]
    out = {r.user_id: r for r in funnel(
        spark.createDataFrame(rows), ["view", "click", "purchase"]).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1].converted and out[1].secs_to_convert == 8
    assert not out[2].converted and out[2].t_click is not None
    assert out[2].t_purchase is None
    assert out[4].converted and out[4].secs_to_convert == 3


def test_cohort_retention_matrix(spark):
    import datetime as dt

    from pyspark.sql import Row
    from meerpipe_spark.operators.funnel import cohort_retention

    w0 = dt.datetime(2026, 1, 5)  # a Monday
    week = dt.timedelta(days=7)
    rows = []
    # cohort A: users 1,2 sign up week 0; user 1 active weeks 0,1; user 2 only week 0
    rows += [Row(user_id=1, ts=w0, event_type="signup"),
             Row(user_id=1, ts=w0 + week, event_type="click"),
             Row(user_id=2, ts=w0 + dt.timedelta(days=2), event_type="signup")]
    # cohort B: user 3 signs up week 1, active week 2
    rows += [Row(user_id=3, ts=w0 + week, event_type="signup"),
             Row(user_id=3, ts=w0 + 2 * week, event_type="purchase")]
    out = {(r.cohort_week.isoformat(), r.week_offset): (r.n_cohort, r.n_active)
           for r in cohort_retention(spark.createDataFrame(rows)).collect()}
    a, b = w0.date().isoformat(), (w0 + week).date().isoformat()
    assert out[(a, 0)] == (2, 2)   # both cohort-A users active in week 0
    assert out[(a, 1)] == (2, 1)   # only user 1 retained
    assert out[(b, 0)] == (1, 1)
    assert out[(b, 1)] == (1, 1)


def test_ewma_sequential_reference(spark):
    import datetime as dt
    import random

    from pyspark.sql import Row
    from meerpipe_spark.operators.funnel import ewma_per_user

    rng = random.Random(23)
    t0 = dt.datetime(2026, 1, 1)
    rows, expect = [], {}
    eid = 0
    for u in range(5):
        xs = [round(rng.uniform(0, 10), 3) for _ in range(rng.randint(1, 40))]
        for k, x in enumerate(xs):
            rows.append(Row(user_id=u, event_id=eid,
                            ts=t0 + dt.timedelta(seconds=k), value=x))
            eid += 1
        y = xs[0]
        for x in xs[1:]:
            y = 0.25 * x + 0.75 * y
        expect[u] = (len(xs), round(y, 6))
    out = {r.user_id: (r.n_events, r.ewma_value) for r in
           ewma_per_user(spark.createDataFrame(rows), alpha=0.25).collect()}
    assert out == expect


def test_trending_sketch_matches_batch(spark, sf_dir, event_dir, tmp_path):
    from meerpipe_spark.operators.sketches import _cms_bucket
    from meerpipe_spark.streaming.events import read_event_stream, trending_sketch_stream

    stream = read_event_stream(spark, event_dir)
    out_dir = str(tmp_path / "cms_out")
    ckpt = str(tmp_path / "cms_ckpt")
    (
        trending_sketch_stream(stream, "user_id", "1 hour")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(out_dir)
    ev = load_tables(spark, sf_dir)["events"]
    buckets = F.array(*[_cms_bucket(F.col("user_id").cast("string"), j, 256) for j in range(4)])
    batch = (
        ev.select(F.date_trunc("hour", "ts").alias("window_start"),
                  F.posexplode(buckets).alias("j", "bucket"))
        .groupBy("window_start", "j", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    emitted = {(r.window_start, r.j, r.bucket): r.cnt for r in got.collect()}
    expect = {(r.window_start, r.j, r.bucket): r.cnt for r in batch.collect()}
    assert len(emitted) > 0
    # every finalized window's registers are IDENTICAL to a batch rebuild
    for k, v in emitted.items():
        assert expect[k] == v, k
    # and the per-window state is bounded: <= depth*width cells per window
    from collections import Counter
    per_win = Counter(w for (w, _, _) in emitted)
    assert all(n <= 4 * 256 for n in per_win.values())


def test_windowed_hll_stream_matches_batch(spark, sf_dir, event_dir, tmp_path):
    from meerpipe_spark.streaming.events import read_event_stream, windowed_hll_stream

    stream = read_event_stream(spark, event_dir)
    out_dir = str(tmp_path / "hll_out")
    ckpt = str(tmp_path / "hll_ckpt")
    (
        windowed_hll_stream(stream, "user_id", "1 hour")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(out_dir)
    ev = load_tables(spark, sf_dir)["events"]
    m = 1 << 10
    h = F.md5(F.col("user_id").cast("string"))
    j = F.conv(F.substring(h, 1, 3), 16, 10).cast("int") % m
    w = F.conv(F.substring(h, 4, 12), 16, 10).cast("bigint")
    bitlen = F.when(w == 0, F.lit(0)).otherwise(F.length(F.conv(w.cast("string"), 10, 2)))
    batch = (
        ev.select(F.date_trunc("hour", "ts").alias("window_start"),
                  j.alias("j"), (F.lit(49) - bitlen).alias("rank"))
        .groupBy("window_start", "j")
        .agg(F.max("rank").alias("M"))
    )
    emitted = {(r.window_start, r.j): r.M for r in got.collect()}
    expect = {(r.window_start, r.j): r.M for r in batch.collect()}
    assert len(emitted) > 0
    # every finalized window's registers match the batch rebuild exactly
    for k, v in emitted.items():
        assert expect[k] == v, k


def test_stream_static_enrichment_matches_batch(spark, sf_dir, event_dir, tmp_path):
    """Stream-STATIC join (the third join lane next to stream-stream and
    batch): every micro-batch hash-joins against an in-memory static
    dim — no state store involved, the dim broadcast per batch. The
    enrichment output must equal the batch join exactly."""
    from meerpipe_spark.streaming.events import read_event_stream

    static_dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0),
         ("error", 0.0), ("signup", 5.0)],
        "event_type STRING, weight DOUBLE",
    )
    stream = read_event_stream(spark, event_dir)
    out_dir = str(tmp_path / "ss_out")
    ckpt = str(tmp_path / "ss_ckpt")
    (
        stream.join(static_dim, "event_type")
        .select("event_id", "event_type", (F.col("value") * F.col("weight")).alias("wv"))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {r["event_id"]: (r["event_type"], r["wv"]) for r in spark.read.parquet(out_dir).collect()}
    ev = load_tables(spark, sf_dir)["events"]
    expect = {
        r["event_id"]: (r["event_type"], r["wv"])
        for r in ev.join(static_dim, "event_type")
        .select("event_id", "event_type", (F.col("value") * F.col("weight")).alias("wv"))
        .collect()
    }
    assert got == expect


def test_streaming_quality_gate_matches_batch(spark, sf_dir, tmp_path):
    """The ONLINE corpus filter: a logreg quality model trained in batch
    (operators/logreg.py) broadcast into a file-source document stream
    as a stream-static join; per-micro-batch keep decisions must equal
    the batch gate exactly — the shape a continuously-ingesting corpus
    pipeline scores new documents with."""
    from meerpipe_spark.operators.logreg import logistic_irls

    docs = load_tables(spark, sf_dir)["documents"]
    toks = F.split(F.col("text"), " ")
    nw = F.size(toks).cast("double")
    feats_cols = [
        F.log(F.lit(1.0) + F.col("n_chars").cast("double")).alias("x1"),
        (F.col("n_chars").cast("double") / nw).alias("x2"),
        (F.size(F.filter(toks, lambda tk: tk.isin("a", "the"))).cast("double") / nw).alias("x3"),
    ]
    label = (F.col("n_chars") % 2 == 0).cast("int")
    train = docs.select("doc_id", *feats_cols, label.alias("y"))
    model = logistic_irls(
        train, [F.col("x1"), F.col("x2"), F.col("x3")], F.col("y"), iters=2
    ).drop("n")
    t = (
        F.col("b0")
        + F.col("b1") * F.col("x1")
        + F.col("b2") * F.col("x2")
        + F.col("b3") * F.col("x3")
    )

    # stream the documents table through a file source
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    out_dir, ckpt = str(tmp_path / "gate_out"), str(tmp_path / "gate_ckpt")
    (
        stream.select("doc_id", *feats_cols)
        .join(model, how="cross")
        .select("doc_id", (t > 0).alias("keep"))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {r.doc_id: r.keep for r in spark.read.parquet(out_dir).collect()}
    expect = {
        r.doc_id: r.keep
        for r in docs.select("doc_id", *feats_cols)
        .crossJoin(model)
        .select("doc_id", (t > 0).alias("keep"))
        .collect()
    }
    assert got == expect and len(got) == docs.count()
    assert 0 < sum(got.values()) < len(got)  # a real boundary, not all/none


def test_transform_with_state_running_stats(spark, sf_dir, event_dir, tmp_path):
    """The Spark 4 transformWithStateInPandas lane (typed ValueState,
    the applyInPandasWithState successor): per-key running moments
    across micro-batches. After the stream drains, each key's LAST
    emitted row must equal the batch aggregation of the same rows
    (merge-based Welford/Chan update ≡ one-pass stats at ~1e-12).

    ENV GATE: the transformWithState wire protocol needs
    google.protobuf (pyspark/sql/streaming/proto). Containers without
    it skip — the operator itself (streaming/running_stats.py) has no
    extra dependency."""
    pytest.importorskip("google.protobuf", reason="transformWithState needs protobuf")
    from meerpipe_spark.streaming.running_stats import running_stats_stream

    # transformWithState requires the RocksDB state store provider
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = (
        spark.readStream.schema(load_tables(spark, sf_dir)["events"].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(event_dir)
    )
    out_dir = str(tmp_path / "rs_out")
    ckpt = str(tmp_path / "rs_ckpt")
    # parquet sinks reject update mode; foreachBatch appends each
    # micro-batch's refreshed rows instead
    (
        running_stats_stream(stream)
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda b, _id: b.write.mode("append").parquet(out_dir)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    if prev is None:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    else:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    got_all = spark.read.parquet(out_dir)
    # update mode appends one refreshed row per key per batch to the
    # file sink; the final state per key is the row with max n
    import pandas as pd

    pdf = got_all.toPandas().sort_values("n").groupby("key").last()
    ev = load_tables(spark, sf_dir)["events"]
    expect = {
        r.key: r
        for r in ev.selectExpr("event_type AS key", "CAST(value AS DOUBLE) AS value")
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("mean"),
            F.var_samp("value").alias("var_samp"),
        )
        .collect()
    }
    assert set(pdf.index) == set(expect)
    for key, row in pdf.iterrows():
        e = expect[key]
        assert int(row["n"]) == e.n, key
        assert abs(row["mean"] - e.mean) < 1e-9
        assert abs(row["var_samp"] - e.var_samp) < 1e-9


def test_running_stats_processor_chan_merge_unit():
    """Protobuf-free unit coverage of RunningStatsProcessor: drive
    handleInputRows directly with a fake ValueState across three
    batches in two different orders — the merged (n, mean, var) must
    equal numpy's one-pass stats over the concatenation either way."""
    import numpy as np
    import pandas as pd

    from meerpipe_spark.streaming.running_stats import RunningStatsProcessor

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    class FakeHandle:
        def __init__(self, state):
            self._s = state

        def getValueState(self, name, schema):
            return self._s

    rng = np.random.default_rng(5)
    batches = [rng.normal(3.0, 2.0, size=n) for n in (17, 1, 400)]
    full = np.concatenate(batches)

    for order in (batches, batches[::-1]):
        p = RunningStatsProcessor()
        p.init(FakeHandle(FakeState()))
        out = None
        for b in order:
            out = list(
                p.handleInputRows(("k",), iter([pd.DataFrame({"value": b})]), None)
            )[-1]
        assert int(out["n"].iloc[0]) == len(full)
        assert abs(out["mean"].iloc[0] - full.mean()) < 1e-12
        assert abs(out["var_samp"].iloc[0] - full.var(ddof=1)) < 1e-10


@pytest.mark.slow
def test_bucketed_stream_join_equals_plain(spark, sf_dir, event_dir, tmp_path):
    """join_event_streams_bucketed (composite (user, time-bucket) key —
    the r11 knee-analysis hot-key mitigation) must emit EXACTLY the
    plain interval join's pairs, each exactly once (every pair meets in
    one bucket copy), on a real availableNow stream."""
    from meerpipe_spark.streaming.events import (
        join_event_streams,
        join_event_streams_bucketed,
    )

    stream = read_event_stream(spark, event_dir)
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")

    def run(fn, tag, **kw):
        out_dir = str(tmp_path / f"{tag}_out")
        ckpt = str(tmp_path / f"{tag}_ckpt")
        (
            fn(clicks, purchases, max_gap="1 hour", **kw)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return [
            (r.left_id, r.right_id)
            for r in spark.read.parquet(out_dir).collect()
        ]

    plain = run(join_event_streams, "plain")
    # bucket < gap (explode factor 4) and bucket > gap (factor 2)
    for tag, bucket in (("b15", "15 minutes"), ("b90", "90 minutes")):
        bucketed = run(
            join_event_streams_bucketed, tag, bucket=bucket
        )
        assert len(bucketed) == len(set(bucketed)), "pair emitted twice"
        assert set(bucketed) == set(plain)
        assert len(plain) == len(set(plain))
    assert len(plain) > 0
