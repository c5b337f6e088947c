"""The per-observation job both pipeline workloads run: ingest → clean →
decimate → flux-calibrate → TOAs → DM fit → products, composed only from
the engine's public entry points."""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from meerpipe_spark.cacheutil import release_persisted
from meerpipe_spark.operators.toa import template_match_toas
from meerpipe_spark.operators.wlsfit import fit_dm
from meerpipe_spark.plans.decimation import parse_decimation_flags
from meerpipe_spark.plans.pipeline import release_pipeline, run_observation_pipeline
from meerpipe_spark.sinks import write_cube, write_results_json
from meerpipe_spark.sinks_fits import write_archive_fits

from perfbench.archives import ArchiveSpec

#: meertime-style decimation flag set (one product per comma).
FLAGS = "pscrunch t 4 f 16, pscrunch tscrunch f 8"
SPECS = parse_decimation_flags(FLAGS)
#: the product TOAs are measured on, one TOA per channel group
TOA_PRODUCT = "pscrunch_tscrunch_f_8"
TOA_CHANS = 8
EXPECTED_RMS = 1.0
FLUXCAL_WINDOW = (900.0, 1700.0)
DM0 = 0.0
MJD = 60000.0


def load_cube(spark: SparkSession, glob: str) -> DataFrame:
    return spark.read.format("fits_archive").load(glob)


def on_pulse(spec: ArchiveSpec):
    lo, hi = spec.on_pulse_bins()
    return F.col("bin").between(lo, hi)


def with_band(cube: DataFrame, spec: ArchiveSpec) -> DataFrame:
    return cube.withColumn("band", F.lit("LBAND")).withColumn("nchan", F.lit(spec.nchan))


def toa_product(out: dict[str, DataFrame]) -> DataFrame:
    return out[TOA_PRODUCT].fillna(0.0, subset=["value"])


def toas_of(out: dict[str, DataFrame], spec: ArchiveSpec) -> DataFrame:
    return template_match_toas(
        toa_product(out), spec.template(), chan_groups=TOA_CHANS, nchan=TOA_CHANS
    )


def toa_residuals(toas: DataFrame, product: DataFrame, spec: ArchiveSpec) -> DataFrame:
    """Per-channel-group TOA residuals in seconds, with the group's centre
    frequency, ready for the DM fit."""
    freq = product.groupBy("obs_id", F.col("chan").alias("chan_group")).agg(
        F.avg("freq").alias("freq_mhz")
    )
    shift = F.col("phase_shift")
    wrapped = F.when(shift >= 0.5, shift - 1.0).otherwise(shift)
    return toas.join(freq, ["obs_id", "chan_group"]).select(
        "obs_id",
        "freq_mhz",
        (wrapped * spec.period_s).alias("resid_s"),
        (F.col("phase_err") * spec.period_s).alias("err_s"),
        F.lit(DM0).alias("dm0"),
        F.lit(MJD).alias("mjd"),
    )


def dm_fit(toas: DataFrame, product: DataFrame, spec: ArchiveSpec) -> DataFrame:
    return fit_dm(
        toa_residuals(toas, product, spec),
        ["obs_id"],
        F.col("freq_mhz"),
        F.col("resid_s"),
        F.col("err_s"),
        F.col("dm0"),
        F.col("mjd"),
    )


def build(cube: DataFrame, spec: ArchiveSpec) -> dict[str, DataFrame]:
    """Lazy plan of one pipeline run: every product, the results
    document, TOAs and the DM fit (``doc`` = results joined with the fit)."""
    out = run_observation_pipeline(
        with_band(cube, spec),
        on_pulse(spec),
        SPECS,
        input_nsub=spec.nsub,
        input_nchan=spec.nchan,
        expected_rms=EXPECTED_RMS,
        fluxcal_window=FLUXCAL_WINDOW,
    )
    out["toas"] = toas_of(out, spec)
    out["dm"] = dm_fit(out["toas"], out[TOA_PRODUCT], spec)
    out["doc"] = out["results"].join(out["dm"], "obs_id", "left")
    return out


def write_products(out: dict[str, DataFrame], dest: str) -> None:
    """Every product as a parquet cube, the results documents and TOAs as
    JSON lines."""
    for spec in SPECS:
        write_cube(out[spec.name], os.path.join(dest, "cube", spec.name), mode="overwrite")
    write_results_json(out["doc"], os.path.join(dest, "results"))
    write_results_json(out["toas"], os.path.join(dest, "toas"))


def write_fits(out: dict[str, DataFrame], dest: str) -> None:
    """The TOA product as one FITS archive per observation."""
    write_archive_fits(toa_product(out), os.path.join(dest, "fits")).collect()


def commit_ledger(doc: DataFrame, ledger_dir: str) -> None:
    """Publish results documents through the two-phase-commit ledger sink."""
    doc.write.format("results_ledger").option("path", ledger_dir).mode("append").save()


def release(out: dict[str, DataFrame]) -> None:
    release_pipeline(out)
    release_persisted()


def reprocess(spark: SparkSession, glob: str, spec: ArchiveSpec, dest: str, probe=None) -> float:
    """One full reprocessing iteration over every archive matching
    ``glob``; returns the seconds spent building the plan. ``probe()`` is
    called once the products are written, while the pipeline's caches
    are still held."""
    t = time.perf_counter()
    out = build(load_cube(spark, glob), spec)
    build_s = time.perf_counter() - t
    try:
        write_products(out, dest)
        if probe is not None:
            probe()
        write_fits(out, dest)
    finally:
        release(out)
    return build_s
