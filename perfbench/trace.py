"""Per-layer tracing from outside the engine: every layer call runs under
its own Spark job group, wall time is taken around the call, and task
counters come from the Spark event log."""

from __future__ import annotations

import ast
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from meerpipe_spark.cacheutil import release_checkpoints
from meerpipe_spark.operators.chop import chop_edge_channels
from meerpipe_spark.operators.clean import clean_chain
from meerpipe_spark.operators.dynspec import derive_dynspec
from meerpipe_spark.operators.fluxcal import (
    apply_flux,
    flux_density,
    flux_multiplier,
    offpulse_rms_per_channel,
)
from meerpipe_spark.operators.snr import cumulative_snr, profile_snr
from meerpipe_spark.operators.toa import template_match_toas
from meerpipe_spark.operators.wlsfit import fit_dm
from meerpipe_spark.plans.decimation import emit_products
from meerpipe_spark.plans.pipeline import results_doc

from perfbench import pipeline
from perfbench.archives import ArchiveSpec
from perfbench.metrics import SPARK_LAYERS, TASK_COUNTERS

AUX = "trace.aux"


class Tracer:
    """Job-group spans around layer calls; wall seconds per span name."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.seconds: dict[str, float] = {}

    @contextmanager
    def layer(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] = self.seconds.get(name, 0.0) + time.perf_counter() - t0
            self.sc.setJobGroup(AUX, AUX)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def checkpoint(df: DataFrame) -> DataFrame:
    """Force ``df`` and keep its rows as the next layer's input. A local
    checkpoint cuts the lineage, so later layers' plans stay small and no
    layer re-runs the ones before it."""
    return df.localCheckpoint(eager=True)


def traced_iteration(
    spark: SparkSession, tr: Tracer, glob_: str, spec: ArchiveSpec, dest: str
) -> dict[str, float]:
    """One reprocessing iteration called layer by layer, composed from
    the same public functions ``run_observation_pipeline`` chains. Each
    layer's input is already materialised; its output is forced (a local
    checkpoint, a noop write or its sink write) inside the layer's span."""
    counts: dict[str, float] = {}
    on = pipeline.on_pulse(spec)
    with tr.layer("sources.plan"):
        cube = pipeline.load_cube(spark, glob_)
        cube.rdd.getNumPartitions()
    with tr.layer("sources"):
        cube = checkpoint(cube)
    cube = pipeline.with_band(cube, spec)

    with tr.layer("operators.clean"):
        cleaned = checkpoint(clean_chain(chop_edge_channels(cube), on))
    zap = cleaned.agg(F.avg(F.when(F.col("weight") == 0, 1.0).otherwise(0.0))).first()[0]
    counts["operators.clean.zapped_frac"] = float(zap)

    with tr.layer("operators.fluxcal"):
        per_chan = offpulse_rms_per_channel(cleaned, ~on).withColumn(
            "expected_rms", F.lit(pipeline.EXPECTED_RMS)
        )
        mults = checkpoint(flux_multiplier(per_chan, "expected_rms", *pipeline.FLUXCAL_WINDOW))
        calibrated = checkpoint(apply_flux(cleaned, mults))
        flux = checkpoint(flux_density(calibrated, on))

    with tr.layer("plans.decimation"):
        products = {
            name: checkpoint(df)
            for name, df in emit_products(calibrated, pipeline.SPECS, spec.nsub, spec.nchan).items()
        }
    counts["plans.decimation.cells_out"] = float(sum(p.count() for p in products.values()))

    with tr.layer("operators.snr"):
        live = calibrated.filter(F.col("weight") > 0)
        per_subint = live.groupBy("obs_id", "subint").agg(
            F.sum(F.when(on, F.col("value"))).alias("on_sum"),
            F.stddev_samp(F.when(~on, F.col("value"))).alias("off_rms"),
        )
        noop(cumulative_snr(per_subint))
        snr_total = checkpoint(profile_snr(live, ["obs_id"], on))

    with tr.layer("operators.dynspec"):
        noop(derive_dynspec(calibrated, on))

    out = dict(products)
    prod = pipeline.toa_product(out)
    with tr.layer("operators.toa"):
        toas = checkpoint(
            template_match_toas(prod, spec.template(), chan_groups=pipeline.TOA_CHANS, nchan=pipeline.TOA_CHANS)
        )
    counts["operators.toa.toas"] = float(toas.count())

    resid = checkpoint(pipeline.toa_residuals(toas, prod, spec))
    with tr.layer("operators.wlsfit"):
        dm = checkpoint(
            fit_dm(resid, ["obs_id"], F.col("freq_mhz"), F.col("resid_s"), F.col("err_s"),
                   F.col("dm0"), F.col("mjd"))
        )

    doc = checkpoint(results_doc(cleaned, mults, snr_total, flux=flux).join(dm, "obs_id", "left"))
    out.update(doc=doc, toas=toas)
    with tr.layer("sinks"):
        pipeline.write_products(out, dest)
    with tr.layer("sinks_fits"):
        pipeline.write_fits(out, dest)
    with tr.layer("sinks_datasource"):
        pipeline.commit_ledger(doc, os.path.join(dest, "ledger"))
    release_checkpoints(spark)
    return counts


def cached_bytes(spark: SparkSession) -> tuple[int, int]:
    """(memory, disk) bytes of every cached block right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos), sum(i.diskSize() for i in infos)


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")) or f.endswith(".crc"):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def read_event_logs(log_dir: str) -> dict[str, dict]:
    """Task counters per job group, summed over every application log in
    ``log_dir``. Layer names are the job group ids; every ``queries.*``
    group is also summed into ``queries``."""
    groups: dict[str, dict] = {}
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_group: dict[int, str] = {}
        job_group: dict[int, str] = {}
        durations: dict[int, list[float]] = {}
        for line in _event_lines(app):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                job_group[ev["Job ID"]] = g
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"), "none")
                _add_task(groups, g, ev, app, durations)
                if g.startswith("queries."):
                    _add_task(groups, "queries", ev, app, None)
        for g in set(job_group.values()):
            groups.setdefault(g, _empty())["jobs"] += sum(1 for v in job_group.values() if v == g)
        for sid, ds in durations.items():
            g = stage_group.get(sid, "none")
            if len(ds) >= 2:
                skew = max(ds) / max(statistics.median(ds), 1e-3)
                groups[g]["task_skew"] = max(groups[g]["task_skew"], skew)
    for name, g in groups.items():
        g["stages"] = len(g.pop("_stages"))
        if name.startswith("queries.") and "queries" in groups:
            groups["queries"]["task_skew"] = max(groups["queries"]["task_skew"], g["task_skew"])
    return groups


def _event_lines(path: str):
    with open(path) as fh:
        yield from fh


def _empty() -> dict:
    return {
        "jobs": 0, "tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0, "spill_bytes": 0,
        "failed_tasks": 0, "task_skew": 1.0, "shuffle_bytes": 0, "_stages": set(),
    }


def _add_task(groups: dict, g: str, ev: dict, app: str, durations) -> None:
    acc = groups.setdefault(g, _empty())
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    acc["tasks"] += 1
    acc["_stages"].add((app, ev.get("Stage ID"), ev.get("Stage Attempt ID")))
    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        acc["failed_tasks"] += 1
    if durations is not None and info.get("Finish Time") and info.get("Launch Time"):
        durations.setdefault(ev.get("Stage ID"), []).append(
            (info["Finish Time"] - info["Launch Time"]) / 1e3
        )


def task_metrics(groups: dict[str, dict]) -> dict[str, float]:
    """``<layer>.<counter>`` for every Spark-executing layer (0 when the
    workload never runs the layer)."""
    out = {}
    for layer in SPARK_LAYERS:
        g = groups.get(layer, _empty())
        for c in TASK_COUNTERS:
            out[f"{layer}.{c}"] = float(g[c])
    return out


def stream_progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        if isinstance(p, dict):
            out.append(p)
        elif isinstance(p, str):
            out.append(json.loads(p))
        else:
            out.append(json.loads(p.json))
    return out


def batch_files(progress: dict) -> set[str]:
    """Archive paths a micro-batch consumed: end offset minus start offset."""
    def seen(offset):
        if isinstance(offset, str):
            # the Python source's offsets surface as a dict repr
            offset = ast.literal_eval(offset)
        return set((offset or {}).get("seen", {}))

    src = (progress.get("sources") or [{}])[0]
    return seen(src.get("endOffset")) - seen(src.get("startOffset"))
