"""End-to-end per-observation pipeline (SURVEY.md §3): the reference's
nf-core stage chain as one DataFrame DAG.

    ingest(cube) → chop (F2) → cell statistics + per-obs kernel (clean,
    flux multiplier A5/A6/A10/A11, S/N A7/A8, flux) → verdict join →
    decimation products (A1 × config DSL), dynspec → results doc (D11)

Observations are tiny, so plan building and per-stage overhead cost
more than the data work. The chopped cube is the only fact-sized input
and the only cache; one (obs, subint, chan) aggregation of it feeds one
pandas kernel per obs (operators/cells.py) that decides every cell and
emits every per-obs number. Products and dynspec read the cube joined
once to the broadcast per-cell (zap, mult) table; the results document
is the kernel's per-obs row plus at most one join.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from meerpipe_spark.cacheutil import persist_tracked
from meerpipe_spark.operators.cells import apply_verdicts, observation_stats
from meerpipe_spark.operators.chop import chop_edge_channels
from meerpipe_spark.operators.dynspec import derive_dynspec
from meerpipe_spark.operators.snr import cumulative_snr
from meerpipe_spark.operators.wlsfit import fit_dm, fit_rm
from meerpipe_spark.plans.decimation import DecimationSpec, emit_products

DM_FIELDS = ("dm", "dm_err", "dm_epoch", "dm_chi2r", "dm_tres")
RM_FIELDS = ("rm", "rm_err")
#: results.json: the reference's 10 fields (generate_images_results.py:
#: 272-298) plus the legacy mult/observed_rms
DOC_FIELDS = ("percent_rfi_zapped", *DM_FIELDS, *RM_FIELDS, "sn", "flux", "mult", "observed_rms")


def run_observation_pipeline(
    cube: DataFrame,
    on_pulse: F.Column,
    specs: list[DecimationSpec],
    input_nsub: int,
    input_nchan: int,
    expected_rms: float,
    fluxcal_window: tuple[float, float],
    bad_channels: list[int] | None = None,
    persist: bool = True,
    toas: DataFrame | None = None,
    qu_chans: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Returns {product_name: DataFrame} plus 'chopped' (the input every
    output reads), 'cleaned', 'multipliers', 'snr_series', 'dynspec'
    and 'results'. ``persist=True`` caches the chopped cube, the run's
    only cache (through cacheutil.persist_tracked, so batch harnesses
    release it between queries; interactive callers use
    :func:`release_pipeline`): Spark does not reuse work across DataFrame
    branches, so without it every output would rescan the source.
    ``toas`` (per-channel TOA residuals) and ``qu_chans`` (per-channel
    Q/U) add the native DM and RM fits to the results document.
    """
    chopped = chop_edge_channels(cube)
    if persist:
        chopped = persist_tracked(chopped)
    stats = observation_stats(chopped, on_pulse, bad_channels, expected_rms=expected_rms, fluxcal_window=fluxcal_window)
    cleaned, calibrated = apply_verdicts(chopped, stats)
    per_obs = stats.filter(F.col("kind") == "obs")
    fits = _fits(
        None if toas is None else fit_dm(toas, ["obs_id"], *map(F.col, ("freq_mhz", "resid_s", "err_s", "dm0", "mjd"))),
        None if qu_chans is None else fit_rm(qu_chans, ["obs_id"], *map(F.col, ("freq_mhz", "q", "u", "pa_err"))),
    )
    out = emit_products(calibrated, specs, input_nsub, input_nchan)
    out.update(
        chopped=chopped,
        cleaned=cleaned,
        multipliers=per_obs.select("obs_id", "observed_rms", "expected_rms", "mult"),
        snr_series=cumulative_snr(stats.filter(F.col("kind") == "subint")),
        dynspec=derive_dynspec(calibrated, on_pulse),
        results=_document(per_obs if fits is None else per_obs.join(fits, "obs_id", "left")),
    )
    return out


def release_pipeline(out: dict[str, DataFrame]) -> None:
    """Unpersist the one cache a pipeline run pins, the chopped cube.
    Call after the products have been written/collected."""
    out["chopped"].unpersist()


def _fits(dm_fit: DataFrame | None, rm_fit: DataFrame | None) -> DataFrame | None:
    """The DM and RM fit blocks as one per-obs frame (None when neither is
    given): a union and one aggregation, so the document takes one join
    for both."""
    parts = [fit.select("obs_id", *cols) for fit, cols in ((dm_fit, DM_FIELDS), (rm_fit, RM_FIELDS))
             if fit is not None]
    if not parts:
        return None
    fits = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    return fits.groupBy("obs_id").agg(*[F.first(c, ignorenulls=True).alias(c) for c in fits.columns[1:]])


def _document(doc: DataFrame) -> DataFrame:
    """One results.json string per obs. A field ``doc`` lacks is an
    EXPLICIT JSON null (ignoreNullFields=false), matching the
    reference's raw-only null-variant document (:342-355): an absent
    measurement is ``null``, never a missing key."""
    return doc.select(
        "obs_id",
        F.to_json(
            F.struct(*[
                F.col(f) if f in doc.columns else F.lit(None).cast("double").alias(f)
                for f in DOC_FIELDS
            ]),
            {"ignoreNullFields": "false"},
        ).alias("results_json"),
    )


def results_doc(
    cleaned: DataFrame,
    mults: DataFrame,
    snr_total: DataFrame,
    dm_fit: DataFrame | None = None,
    rm_fit: DataFrame | None = None,
    flux: DataFrame | None = None,
) -> DataFrame:
    """D11 results.json composed from the separate operators' outputs
    (the pipeline emits the same document from its per-obs kernel row):
    percent_rfi_zapped from the cleaned cube, mult/observed_rms from
    ``mults`` (fluxcal.flux_multiplier), sn from ``snr_total``
    (snr.profile_snr), the native DM fit ``dm_fit``
    (wlsfit.fit_dm: dm, dm_err, dm_epoch, dm_chi2r, dm_tres), the native
    RM fit ``rm_fit`` (wlsfit.fit_rm: rm, rm_err) and the period-averaged
    ``flux`` (fluxcal.flux_density). Any of the last three may be None:
    its fields are then explicit JSON nulls."""
    doc = cleaned.groupBy("obs_id").agg(
        F.avg(F.when(F.col("weight") == 0, 1.0).otherwise(0.0)).alias("percent_rfi_zapped")
    )
    for part in (mults.select("obs_id", "mult", "observed_rms"), snr_total.select("obs_id", F.col("snr").alias("sn")),
                 _fits(dm_fit, rm_fit), None if flux is None else flux.select("obs_id", "flux")):
        if part is not None:
            doc = doc.join(part, "obs_id", "left")
    return _document(doc)
