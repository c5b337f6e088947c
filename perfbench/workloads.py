"""The benchmark's workloads. Each takes a :class:`Context` and returns
``(end_to_end, per_layer, detail)`` metric dicts; the context counts
attempted and failed operations."""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import statistics
import sys
import threading
import time
import traceback
from datetime import datetime

from perfbench import checks, pipeline, trace
from perfbench.archives import ArchiveSpec, obs_name, write_archives
from perfbench.measure import loadavg, quantile, supported_percentile
from perfbench.metrics import QUERY_NAMES

#: 4 archives x 8 subint x 4 pol x 32 chan x 128 bin = 524 k cells (4.2 MB)
REPROCESS_SPEC = ArchiveSpec(nsub=8, nchan=32, nbin=128)
REPROCESS_OBS = 4
#: one small archive per observation (32 k cells)
LIVE_SPEC = ArchiveSpec(nsub=4, nchan=16, nbin=128)
#: open-loop arrivals: LIVE_RATE per second over --seconds, evenly spaced
#: from LIVE_LEAD_S after a trigger boundary, so a 5 s window lands in one
#: micro-batch. At ~13 s per batch the 32-file admission cap stays above
#: the arrivals per batch, so the backlog stays bounded.
LIVE_RATE = 2.0
LIVE_MIN_ARRIVALS = 10
LIVE_TRIGGER_S = 5
LIVE_LEAD_S = 0.5
LIVE_MAX_FILES = 32
DRAIN_TIMEOUT_S = 60.0
QUERY_DATA_SCALE = 10.0    # tools/gen_testdata scale (10 ~ sf0.01 row counts)


class Context:
    def __init__(self, root: str, work: str, seed: int, seconds: int, traced: bool, t0: float):
        self.root, self.work, self.seed, self.seconds, self.traced = root, work, seed, seconds, traced
        self.t0 = t0
        self.gen_s = 0.0
        self.setup_s: float | None = None
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.first_session_s = 0.0
        self.load_start = loadavg()

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def generate(self, fn, *args):
        t = time.perf_counter()
        out = fn(*args)
        self.gen_s += time.perf_counter() - t
        return out

    def session(self, master: str | None = None):
        from meerpipe_spark.session import get_spark
        from meerpipe_spark.sinks_datasource import ResultsLedgerDataSource
        from meerpipe_spark.sources.fits_datasource import FitsArchiveDataSource

        t = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=master)
        spark.dataSource.register(FitsArchiveDataSource)
        spark.dataSource.register(ResultsLedgerDataSource)
        spark.sparkContext.setLogLevel("ERROR")
        if self.spark is None:
            self.first_session_s = time.perf_counter() - t
        self.spark = spark
        return spark

    def setup_done(self) -> None:
        self.setup_s = time.monotonic() - self.t0 - self.gen_s

    def op(self, fn, *args):
        """Run one operation; returns fn's result, or None if it raised.
        ``fn`` returns (result, errors); each non-empty error list is one
        failed operation."""
        self.attempted += 1
        try:
            result, errs = fn(*args)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        if errs:
            self.failed += 1
            print("check failed: " + "; ".join(errs[:5]), file=sys.stderr)
        return result


def _jvm_groups(ctx: Context) -> dict[str, dict]:
    return trace.read_event_logs(os.path.join(ctx.work, "events"))


def _layer_metrics(tr: trace.Tracer, counts: dict[str, float]) -> dict[str, float]:
    s = tr.seconds
    return {
        "sources.plan_s": s.get("sources.plan", 0.0),
        "sources.scan_s": s.get("sources", 0.0),
        "operators.clean.s": s.get("operators.clean", 0.0),
        "operators.clean.zapped_frac": counts.get("operators.clean.zapped_frac", 0.0),
        "operators.fluxcal.s": s.get("operators.fluxcal", 0.0),
        "operators.snr.s": s.get("operators.snr", 0.0),
        "operators.dynspec.s": s.get("operators.dynspec", 0.0),
        "operators.wlsfit.s": s.get("operators.wlsfit", 0.0),
        "plans.decimation.s": s.get("plans.decimation", 0.0),
        "plans.decimation.cells_out": counts.get("plans.decimation.cells_out", 0.0),
        "operators.toa.s": s.get("operators.toa", 0.0),
        "operators.toa.toas": counts.get("operators.toa.toas", 0.0),
        "sinks.write_s": s.get("sinks", 0.0),
        "sinks_fits.write_s": s.get("sinks_fits", 0.0),
        "sinks_datasource.commit_s": s.get("sinks_datasource", 0.0),
    }


def _sink_metrics(dest: str) -> dict[str, float]:
    files = size = 0
    for sub in ("cube", "results", "toas", "fits"):
        n, b = trace.dir_bytes(os.path.join(dest, sub))
        files, size = files + n, size + b
    return {"sinks.files_written": float(files), "sinks.bytes_written": float(size)}


def _source_metrics(paths: list[str], spec: ArchiveSpec, scan_s: float) -> dict[str, float]:
    return {
        "sources.files": float(len(paths)),
        "sources.bytes_read": float(sum(os.path.getsize(p) for p in paths)),
        "sources.cells_per_s": spec.cells * len(paths) / scan_s if scan_s > 0 else 0.0,
    }


def _group_metrics(groups: dict[str, dict], iterations: int) -> dict[str, float]:
    pipe = groups.get("plans.pipeline", {})
    out = trace.task_metrics(groups)
    out.update(
        {
            "plans.pipeline.jobs": pipe.get("jobs", 0) / max(iterations, 1),
            "plans.pipeline.stages": pipe.get("stages", 0) / max(iterations, 1),
            "operators.clean.shuffle_bytes": float(groups.get("operators.clean", {}).get("shuffle_bytes", 0)),
            "plans.decimation.shuffle_bytes": float(groups.get("plans.decimation", {}).get("shuffle_bytes", 0)),
        }
    )
    return out


# ---------------------------------------------------------------------------
# reprocess_batch: one client, one cold reprocessing job over a directory
# ---------------------------------------------------------------------------


def _check_reprocess(dest: str, spec: ArchiveSpec, obs_ids: set[str]) -> list[str]:
    docs = checks.read_json_lines(os.path.join(dest, "results"))
    errs = checks.check_docs(docs, spec, obs_ids)
    errs += checks.check_toas(checks.read_json_lines(os.path.join(dest, "toas")), spec, obs_ids)
    errs += checks.check_products(dest, spec, len(obs_ids))
    errs += checks.check_fits(dest, obs_ids)
    return errs


def reprocess_batch(ctx: Context):
    """One reprocessing job per engine process, as each meerpipe job is
    its own process: the job runs cold, so it pays plan compilation,
    code generation and worker start-up along with the data work. The
    live workload measures the warm engine."""
    spec = REPROCESS_SPEC
    paths = ctx.generate(write_archives, spec, ctx.seed, ctx.path("in"), 0, REPROCESS_OBS)
    pattern = os.path.join(ctx.work, "in", "*.fits")
    obs_ids = {obs_name(i) for i in range(REPROCESS_OBS)}
    build_s: list[float] = []
    cached = [(0, 0)]

    def job(spark, dest: str):
        t = time.perf_counter()
        build_s.append(
            pipeline.reprocess(spark, pattern, spec, dest, lambda: cached.append(trace.cached_bytes(spark)))
        )
        dt = time.perf_counter() - t
        return dt, _check_reprocess(dest, spec, obs_ids)

    spark = ctx.session()
    ctx.setup_done()
    cold = ctx.op(job, spark, ctx.path("out"))
    mem, disk = cached[-1]
    detail = {
        "reprocess_wall_s": cold,
        "cached_mb": mem / 2**20,
        "cached_on_disk_mb": disk / 2**20,
    }
    e2e = {"op_p50_s": cold if cold is not None else float("nan")}
    if not ctx.traced:
        return e2e, {}, detail

    # the same job warm (the base of the tracing overhead), layer by
    # layer, then on one core
    spark.sparkContext.setJobGroup("plans.pipeline", "plans.pipeline")
    warm = ctx.op(job, spark, ctx.path("warm"))
    spark.sparkContext.setJobGroup(trace.AUX, trace.AUX)
    tr = trace.Tracer(spark)
    dest = ctx.path("traced")
    t = time.perf_counter()
    counts = trace.traced_iteration(spark, tr, pattern, spec, dest)
    traced_s = time.perf_counter() - t
    layers = _layer_metrics(tr, counts)
    layers.update(_source_metrics(paths, spec, layers["sources.scan_s"]))
    layers.update(_sink_metrics(dest))
    layers.update(
        {
            "plans.pipeline.build_s": build_s[-1],  # the warm job's
            "cacheutil.cached_bytes": float(mem + disk),
            "session.get_spark_s": ctx.first_session_s,
        }
    )
    spark.stop()
    spark = ctx.session(master="local[1]")
    one = ctx.op(job, spark, ctx.path("one_core"))
    if warm is not None:
        layers["trace.overhead_frac"] = traced_s / warm - 1.0
        if one is not None:
            layers["scaling.reprocess_parallel_eff"] = one / warm / len(os.sched_getaffinity(0))
    spark.stop()
    layers.update(_group_metrics(_jvm_groups(ctx), 1))
    return e2e, layers, detail


# ---------------------------------------------------------------------------
# live_arrivals: open loop, one archive per observation renamed into a
# watched directory on a fixed schedule, processed by a streaming query
# ---------------------------------------------------------------------------


class Arrivals(threading.Thread):
    """Open-loop generator: renames the k-th staged archive into the
    watched directory at ``start + k * spacing_s``, whether or not the
    system keeps up. Records each archive's due and actual times."""

    def __init__(self, staging: str, watched: str, indices: list[int], start: float, spacing_s: float):
        super().__init__(name="arrivals", daemon=True)
        self.staging, self.watched, self.indices = staging, watched, indices
        self.start_at, self.spacing_s = start, spacing_s
        self.due: dict[str, float] = {}
        self.actual: dict[str, float] = {}

    def run(self) -> None:
        for k, i in enumerate(self.indices):
            due = self.start_at + k * self.spacing_s
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            name = obs_name(i)
            os.replace(
                os.path.join(self.staging, name + ".fits"),
                os.path.join(self.watched, name + ".fits"),
            )
            self.due[name] = due
            self.actual[name] = time.monotonic()


def _obs_of(path: str) -> str:
    return os.path.basename(path).rsplit(".", 1)[0]


def _progress_start(progress: dict) -> float:
    """Wall-clock start of a micro-batch, from its progress report."""
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def live_arrivals(ctx: Context):
    spec = LIVE_SPEC
    n = max(LIVE_MIN_ARRIVALS, round(ctx.seconds * LIVE_RATE))
    staging, watched = ctx.path("staging"), ctx.path("watched")
    ledger = os.path.join(ctx.work, "ledger")
    ctx.generate(write_archives, spec, ctx.seed, staging, 0, n)
    names = {obs_name(i) for i in range(n)}
    spark = ctx.session()
    committed: dict[int, float] = {}
    commit_s: dict[int, float] = {}
    build_s: dict[int, float] = {}
    wall_minus_mono = time.time() - time.monotonic()

    def process(batch, batch_id: int) -> None:
        sc = batch.sparkSession.sparkContext
        if ctx.traced:
            sc.setJobGroup("plans.pipeline", "plans.pipeline")
        t = time.perf_counter()
        out = pipeline.build(batch, spec)
        build_s[batch_id] = time.perf_counter() - t
        try:
            t = time.perf_counter()
            pipeline.commit_ledger(out["doc"], ledger)
            commit_s[batch_id] = time.perf_counter() - t
        finally:
            pipeline.release(out)
        committed[batch_id] = time.monotonic()

    query = (
        spark.readStream.format("fits_archive")
        .option("max_files_per_trigger", str(LIVE_MAX_FILES))
        .load(os.path.join(watched, "*.fits"))
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ctx.path("checkpoint"))
        .trigger(processingTime=f"{LIVE_TRIGGER_S} seconds")
        .start()
    )
    commit_at: dict[str, float] = {}
    batch_of: dict[str, dict] = {}

    def poll(names: set[str], deadline: float) -> bool:
        while time.monotonic() < deadline:
            for p in trace.stream_progress(query):
                if p.get("batchId") in committed:
                    for f in trace.batch_files(p):
                        commit_at.setdefault(_obs_of(f), committed[p["batchId"]])
                        batch_of.setdefault(_obs_of(f), p)
            if names <= commit_at.keys():
                return True
            if query.exception() is not None:
                return False
            time.sleep(0.1)
        return False

    def reference_run(glob_: str) -> tuple[list[dict], tuple[int, int]]:
        out = pipeline.build(pipeline.load_cube(spark, glob_), spec)
        try:
            return [r.asDict() for r in out["doc"].collect()], trace.cached_bytes(spark)
        finally:
            pipeline.release(out)

    try:
        # warm-up: the batch run every ledgered document is checked
        # against, over all staged archives, while the idle stream warms
        # its source and callback path
        ref = ctx.op(lambda: (reference_run(os.path.join(staging, "*.fits")), []))
        ctx.setup_done()
        idle_batches = set(committed)
        # triggers fire on multiples of the interval in wall-clock time
        now = time.time()
        lead = LIVE_TRIGGER_S - now % LIVE_TRIGGER_S + LIVE_LEAD_S
        window = max(ctx.seconds - 2 * LIVE_LEAD_S, 0.0)
        gen = Arrivals(staging, watched, list(range(n)), time.monotonic() + lead, window / (n - 1))
        gen.start()
        poll(names, time.monotonic() + lead + window + DRAIN_TIMEOUT_S)
        gen.join(timeout=lead + window + 5)
    finally:
        query.stop()
    reference, cached = ref if ref is not None else ([], (0, 0))
    lat = sorted(commit_at[k] - gen.due[k] for k in names if k in commit_at and k in gen.due)
    late = [gen.actual[k] - gen.due[k] for k in gen.due]

    from meerpipe_spark.sinks_datasource import resolve_manifest

    rows = []
    for p in resolve_manifest(ledger):
        with open(p) as fh:
            rows += [json.loads(line) for line in fh]
    errs = checks.check_ledger(rows, reference, names) + checks.check_docs(reference, spec, names)
    # one operation per arrival: each named in a failure message, or
    # never committed, is one failed operation
    bad = {i for i in names for e in errs if i in e} | (names - commit_at.keys())
    ctx.attempted += n
    ctx.failed += min(n, len(bad) or (1 if errs else 0))
    if errs:
        print("check failed: " + "; ".join(errs[:5]), file=sys.stderr)

    batches = []
    for b in sorted({p["batchId"] for p in batch_of.values()}):
        obs = [k for k, p in batch_of.items() if p["batchId"] == b and k in gen.due]
        start = _progress_start(batch_of[obs[0]]) - wall_minus_mono if obs else float("nan")
        batches.append({
            "batch": b, "obs": len(obs), "start_after_first_due_s": start - min(gen.due[k] for k in obs),
            "build_s": build_s.get(b), "commit_s": commit_s.get(b),
        })
    detail = {
        "arrival_latency_p50_s": statistics.median(lat) if lat else None,
        "arrival_latency_p90_s": quantile(lat, 0.9) if lat else None,
        "arrival_latency_supported_percentile": supported_percentile(len(lat)),
        "samples": len(lat),
        "generator_late_max_s": max(late) if late else None,
        "batches": batches,
    }
    e2e = {"op_p50_s": statistics.median(lat) if lat else float("nan")}
    if not ctx.traced:
        return e2e, {}, detail

    prog = [q for q in trace.stream_progress(query) if q.get("batchId") not in idle_batches
            and q.get("numInputRows", 0) > 0]
    dur = lambda q, k: q.get("durationMs", {}).get(k, 0) / 1e3  # noqa: E731
    events = [(gen.actual[k], 1) for k in gen.actual] + [(commit_at[k], -1) for k in names if k in commit_at]
    backlog = peak = 0
    for _, d in sorted(events):
        backlog += d
        peak = max(peak, backlog)
    waits = []
    for k in names:
        q = batch_of.get(k)
        if q is not None and k in gen.due:
            waits.append(_progress_start(q) - wall_minus_mono - gen.due[k])
    data_batches = {q["batchId"] for q in prog}
    layers = {
        "streaming.batch_s": _med([dur(q, "triggerExecution") for q in prog]),
        "streaming.planning_s": _med([dur(q, "queryPlanning") for q in prog]),
        "streaming.obs_per_batch": _mean([len(trace.batch_files(q)) for q in prog]),
        "streaming.trigger_wait_s": _med(waits),
        "streaming.backlog_max": float(peak),
        "sources.plan_s": _med([dur(q, "latestOffset") + dur(q, "getBatch") for q in prog]),
        "generator.late_max_s": max(late) if late else 0.0,
        "cacheutil.cached_bytes": float(cached[0] + cached[1]),
        "sinks_datasource.commit_s": _med([commit_s[b] for b in data_batches if b in commit_s]),
        "plans.pipeline.build_s": _med([build_s[b] for b in data_batches if b in build_s]),
    }

    # the same archives untraced (warm) and layer by layer, for the overhead
    glob_ = os.path.join(watched, "*.fits")
    t = time.perf_counter()
    reference_run(glob_)
    untraced_s = time.perf_counter() - t
    tr = trace.Tracer(spark)
    dest = ctx.path("traced")
    t = time.perf_counter()
    counts = trace.traced_iteration(spark, tr, glob_, spec, dest)
    traced_s = time.perf_counter() - t
    pipe_layers = _layer_metrics(tr, counts)
    for k in ("sources.plan_s", "sinks_datasource.commit_s"):
        pipe_layers.pop(k)
    layers.update(pipe_layers)
    layers.update(_source_metrics(sorted(glob.glob(glob_)), spec, layers["sources.scan_s"]))
    layers.update(_sink_metrics(dest))
    layers["trace.overhead_frac"] = traced_s / untraced_s - 1.0
    layers["session.get_spark_s"] = ctx.first_session_s
    layers.update(_query_layer(ctx, spark))
    spark.stop()
    layers.update(_group_metrics(_jvm_groups(ctx), len(data_batches)))
    return e2e, layers, detail


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# queries layer (traced run of live_arrivals): registry queries over
# seeded tables, each forced with a noop write, then checked against
# its DuckDB oracle outside the timed region
# ---------------------------------------------------------------------------


def _gen_tables(ctx: Context) -> str:
    spec = importlib.util.spec_from_file_location(
        "gen_testdata", os.path.join(ctx.root, "tools", "gen_testdata.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = ctx.path("tables")
    ctx.generate(mod.generate, out, QUERY_DATA_SCALE, ctx.seed)
    return out


def _query_layer(ctx: Context, spark) -> dict[str, float]:
    import duckdb

    from meerpipe_spark.cacheutil import release_persisted
    from meerpipe_spark.io import TABLES, load_tables
    from meerpipe_spark.queries import QUERIES

    tables = _gen_tables(ctx)
    tr = trace.Tracer(spark)
    with tr.layer("io.load_tables"):
        load_tables(spark, tables)
    out = {"io.load_tables_s": tr.seconds["io.load_tables"]}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables, t + '.parquet')}'")
    for name in QUERY_NAMES:
        spec = QUERIES[name]

        def run(spec=spec, name=name):
            # results are small aggregates: collecting them forces the
            # query like a noop write would, and feeds the oracle check
            with tr.layer(f"queries.{name}"):
                df = spec.fn(spark, tables)
                rows = [tuple(r) for r in df.collect()]
            release_persisted()
            res = con.execute(spec.sql)
            return None, checks.check_query(
                name, df.columns, rows, [d[0] for d in res.description], res.fetchall()
            )

        ctx.op(run)
        out[f"queries.{name}_s"] = tr.seconds.get(f"queries.{name}", 0.0)
    con.close()
    return out
