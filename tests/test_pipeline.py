"""End-to-end pipeline tests on a synthetic cube with injected RFI:
the full stage chain runs lazily, cleans the bad channel, calibrates
flux, and produces every configured decimation product."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from meerpipe_spark.operators.clean import bandwagon, rcvrstd, surgical
from meerpipe_spark.plans.decimation import parse_decimation_flags
from meerpipe_spark.plans.pipeline import run_observation_pipeline

NSUB, NCHAN, NBIN = 8, 16, 32
RFI_CHAN = 5


@pytest.fixture(scope="module")
def cube(spark):
    rng = np.random.default_rng(99)
    rows = []
    for s in range(NSUB):
        for c in range(NCHAN):
            # LBAND-ish frequencies inside the chop window
            freq = 900.0 + c * 40.0
            for b in range(NBIN):
                pulse = 10.0 if 14 <= b < 18 else 0.0
                noise = rng.normal(0, 1.0)
                rfi = rng.normal(0, 50.0) if c == RFI_CHAN else 0.0
                rows.append(
                    Row(
                        obs_id="obsA",
                        subint=s,
                        pol=0,
                        chan=c,
                        bin=b,
                        band="LBAND",
                        nchan=NCHAN,
                        freq=freq,
                        value=float(pulse + noise + rfi),
                        weight=1.0,
                    )
                )
    return spark.createDataFrame(rows).cache()


def on_pulse():
    return (F.col("bin") >= 14) & (F.col("bin") < 18)


def test_surgical_zaps_rfi_channel(spark, cube):
    out = surgical(cube, on_pulse(), sigma_threshold=5.0)
    zapped = (
        out.groupBy("chan")
        .agg(F.avg(F.when(F.col("weight") == 0, 1.0).otherwise(0.0)).alias("zf"))
        .collect()
    )
    zf = {r.chan: r.zf for r in zapped}
    assert zf[RFI_CHAN] == 1.0  # the RFI channel is fully zapped
    clean_chans = [zf[c] for c in range(NCHAN) if c != RFI_CHAN]
    assert max(clean_chans) <= 0.25  # clean channels mostly untouched


def test_bandwagon_finishes_partial_zaps(spark, cube):
    # zap 60% of subints in channel 2 manually, bandwagon takes the rest
    seeded = cube.withColumn(
        "weight",
        F.when((F.col("chan") == 2) & (F.col("subint") < 5), 0.0).otherwise(F.col("weight")),
    )
    out = bandwagon(seeded, chan_frac=0.5, subint_frac=0.9)
    remaining = out.filter((F.col("chan") == 2) & (F.col("weight") > 0)).count()
    assert remaining == 0
    untouched = out.filter((F.col("chan") == 0) & (F.col("weight") > 0)).count()
    assert untouched == NSUB * NBIN


def test_rcvrstd_fixed_lists(spark, cube):
    out = rcvrstd(cube, bad_channels=[1, 3], bad_subints=[7])
    assert out.filter((F.col("chan").isin(1, 3)) & (F.col("weight") > 0)).count() == 0
    assert out.filter((F.col("subint") == 7) & (F.col("weight") > 0)).count() == 0


def test_full_pipeline_products_and_results(spark, cube):
    specs = parse_decimation_flags("pscrunch, t 4 f 8, tscrunch, fscrunch")
    out = run_observation_pipeline(
        cube,
        on_pulse(),
        specs,
        input_nsub=NSUB,
        input_nchan=NCHAN,
        expected_rms=1.0,
        fluxcal_window=(900.0, 1500.0),
    )
    assert set(out) >= {"pscrunch", "t_4_f_8", "tscrunch", "fscrunch", "results"}
    # t 4 f 8 product has the decimated shape
    prod = out["t_4_f_8"]
    assert prod.select("subint").distinct().count() == 4
    assert prod.select("chan").distinct().count() == 8
    # tscrunch collapses time
    assert out["tscrunch"].select("subint").distinct().count() == 1
    # flux calibration: multiplier is expected/observed; observed ~1 => mult ~1
    mult = out["multipliers"].collect()[0].mult
    assert 0.5 < mult < 2.0
    # results doc parses as JSON with the D11 fields
    import json

    doc = json.loads(out["results"].collect()[0].results_json)
    # the reference's FULL 10-field document (generate_images_results.py:
    # 272-298) plus the legacy mult/observed_rms extras
    assert set(doc) >= {
        "percent_rfi_zapped", "dm", "dm_err", "dm_epoch", "dm_chi2r",
        "dm_tres", "rm", "rm_err", "sn", "flux", "mult", "observed_rms",
    }
    assert 0.0 <= doc["percent_rfi_zapped"] <= 1.0
    assert doc["sn"] > 5.0  # strong injected pulse survives cleaning
    assert doc["flux"] is not None and doc["flux"] > 0.0
    # no TOAs / no Q/U supplied -> DM and RM blocks are EXPLICIT nulls
    # (the raw-only null-variant, generate_images_results.py:342-355)
    for k in ("dm", "dm_err", "dm_epoch", "dm_chi2r", "dm_tres", "rm", "rm_err"):
        assert doc[k] is None
    # cumulative S/N series is monotone-ish and defined per subint
    series = out["snr_series"].collect()
    assert len(series) == NSUB


def test_decimation_dsl_parse():
    specs = parse_decimation_flags("pscrunch, t 320 f 8, t 64 f 16, tscrunch, fscrunch")
    assert specs[0].pscrunch and specs[0].nsub is None
    assert specs[1].nsub == 320 and specs[1].nchan == 8
    assert specs[3].nsub == 1 and specs[4].nchan == 1


def test_results_doc_null_variant(spark):
    """The raw-only document (generate_images_results.py:342-355): every
    measurement the pipeline didn't produce is an EXPLICIT JSON null,
    never a missing key — downstream ingest relies on a fixed schema."""
    import json

    from pyspark.sql import functions as F

    from meerpipe_spark.plans.pipeline import results_doc

    cleaned = spark.createDataFrame(
        [("obs1", 0, 0, i, float(i), 1.0 if i % 4 else 0.0) for i in range(8)],
        ["obs_id", "subint", "chan", "bin", "value", "weight"],
    )
    mults = spark.createDataFrame(
        [("obs1", 1.5, 0.8)], ["obs_id", "mult", "observed_rms"]
    )
    snr_total = spark.createDataFrame([("obs1", 12.5)], ["obs_id", "snr"])
    doc = json.loads(
        results_doc(cleaned, mults, snr_total).collect()[0].results_json
    )
    # all 10 reference fields present as KEYS
    assert set(doc) >= {
        "percent_rfi_zapped", "dm", "dm_err", "dm_epoch", "dm_chi2r",
        "dm_tres", "rm", "rm_err", "sn", "flux",
    }
    # absent fits -> explicit nulls
    for k in ("dm", "dm_err", "dm_epoch", "dm_chi2r", "dm_tres", "rm", "rm_err", "flux"):
        assert doc[k] is None, k
    # produced fields carry through
    assert doc["sn"] == 12.5
    assert doc["percent_rfi_zapped"] == 0.25


def test_results_doc_full_fits_wired(spark):
    """With TOA and Q/U frames supplied, run_observation_pipeline emits
    a document whose DM block comes from fit_dm and RM block from
    fit_rm (non-null, physically sensible values)."""
    import json
    import math

    from pyspark.sql import functions as F

    from meerpipe_spark.plans.decimation import parse_decimation_flags
    from meerpipe_spark.plans.pipeline import run_observation_pipeline

    rows = []
    for sub in range(2):
        for ch in range(8):
            for b in range(16):
                val = 10.0 if 6 <= b <= 9 else 0.1 * ((sub * 131 + ch * 17 + b * 7) % 11 - 5)
                rows.append(("obsZ", sub, 0, ch, b, "LBAND", 8, 900.0 + ch * 80.0, val, 1.0))
    cube = spark.createDataFrame(
        rows,
        ["obs_id", "subint", "pol", "chan", "bin", "band", "nchan", "freq", "value", "weight"],
    )
    toas = spark.createDataFrame(
        [
            (
                "obsZ",
                900.0 + ch * 80.0,
                1e-6 + 0.002 * 4148.808 / (900.0 + ch * 80.0) ** 2,
                2e-7,
                12.5,
                59000.0 + ch,
            )
            for ch in range(8)
        ],
        ["obs_id", "freq_mhz", "resid_s", "err_s", "dm0", "mjd"],
    )
    qu = spark.createDataFrame(
        [
            (
                "obsZ",
                900.0 + ch * 80.0,
                math.cos(2 * (0.05 + 3.0 * (299792458.0 / ((900.0 + ch * 80.0) * 1e6)) ** 2)),
                math.sin(2 * (0.05 + 3.0 * (299792458.0 / ((900.0 + ch * 80.0) * 1e6)) ** 2)),
                0.01,
            )
            for ch in range(8)
        ],
        ["obs_id", "freq_mhz", "q", "u", "pa_err"],
    )
    out = run_observation_pipeline(
        cube,
        F.col("bin").between(6, 9),
        specs=parse_decimation_flags("pscrunch"),
        input_nsub=2,
        input_nchan=8,
        expected_rms=1.0,
        fluxcal_window=(900.0, 1600.0),
        toas=toas,
        qu_chans=qu,
    )
    doc = json.loads(out["results"].collect()[0].results_json)
    assert doc["dm"] == pytest.approx(12.5 + 0.002, abs=1e-9)
    assert doc["rm"] == pytest.approx(3.0, abs=1e-6)
    assert doc["dm_err"] is not None and doc["rm_err"] is not None
    assert doc["flux"] is not None and doc["flux"] > 0
    assert 59000.0 <= doc["dm_epoch"] <= 59007.0
    from meerpipe_spark.plans.pipeline import release_pipeline

    release_pipeline(out)


@pytest.mark.slow
def test_clean_chain_fused_equivalence(spark, cube):
    """The fused one-exchange clean_chain must reproduce the composed
    rcvrstd→surgical→bandwagon chain weight-for-weight — including a
    pre-existing zero-weight row (counts toward bandwagon's fraction)
    and a rcvrstd-listed channel (every row contributes to the chan
    fraction)."""
    from meerpipe_spark.operators.clean import clean_chain

    # seed one pre-zeroed row so the n_w0 lane is exercised
    seeded = cube.withColumn(
        "weight",
        F.when(
            (F.col("subint") == 0) & (F.col("chan") == 2) & (F.col("bin") == 0),
            0.0,
        ).otherwise(F.col("weight")),
    )
    composed = bandwagon(
        surgical(
            rcvrstd(seeded, bad_channels=[1]), on_pulse(), sigma_threshold=5.0
        ),
        chan_frac=0.5,
        subint_frac=0.5,
    )
    fused = clean_chain(seeded, on_pulse(), bad_channels=[1])
    key = ["subint", "chan", "bin"]
    a = {tuple(r[k] for k in key): r["weight"] for r in composed.collect()}
    b = {tuple(r[k] for k in key): r["weight"] for r in fused.collect()}
    assert a == b
    assert fused.columns == seeded.columns


@pytest.mark.slow
def test_results_doc_writes_through_ledger_sink(spark, cube, tmp_path):
    """D11 composed with the custom sink: the pipeline's results
    document lands in the two-phase-commit results ledger (staged
    ndjson -> atomic publish + manifest), and the emitted JSON parses
    back with every field present."""
    import glob as g
    import json

    from meerpipe_spark.sinks_datasource import ResultsLedgerDataSource

    out = run_observation_pipeline(
        cube,
        on_pulse(),
        specs=[],
        input_nsub=NSUB,
        input_nchan=NCHAN,
        expected_rms=1.0,
        fluxcal_window=(900.0, 1500.0),
        bad_channels=[1],
        persist=False,
    )
    spark.dataSource.register(ResultsLedgerDataSource)
    led = str(tmp_path / "ledger")
    out["results"].write.format("results_ledger").option("path", led).mode(
        "append"
    ).save()
    rows = []
    for f in g.glob(led + "/task-*.ndjson"):
        rows += [json.loads(line) for line in open(f)]
    assert len(rows) == 1
    doc = json.loads(rows[0]["results_json"])
    for field in ("percent_rfi_zapped", "dm", "rm", "sn", "flux", "mult"):
        assert field in doc
    manifest = [json.loads(line) for line in open(led + "/_manifest.ndjson")]
    assert sum(e["rows"] for e in manifest[0]["files"]) == 1


EQ_NSUB, EQ_NPOL, EQ_NCHAN, EQ_NBIN = 4, 4, 8, 16
EQ_WINDOW = (900.0, 1250.0)


def eq_on_pulse():
    return F.col("bin").between(6, 9)


@pytest.fixture(scope="module")
def obs_cube(spark):
    """Three 4-pol observations in one frame. obsA has an RFI channel (5)
    and pre-zeroed rows, most of them in channel 6 (bandwagon finishes
    it); in obsB the cell (subint 0, chan 3) keeps a single off-pulse
    row, so its cell_rms is null; every channel of obsC lies above the
    fluxcal window, so obsC has no multiplier. Channel 0 of obsA/obsB
    (880 MHz) is outside the LBAND chop bounds."""
    rng = np.random.default_rng(7)
    rows = []
    for obs, f0 in (("obsA", 880.0), ("obsB", 880.0), ("obsC", 1300.0)):
        for s in range(EQ_NSUB):
            for p in range(EQ_NPOL):
                for c in range(EQ_NCHAN):
                    for b in range(EQ_NBIN):
                        on = 6 <= b <= 9
                        if obs == "obsB" and (s, c) == (0, 3) and not on and (p, b) != (0, 0):
                            continue
                        rfi = 30.0 if obs == "obsA" and c == 5 else 1.0
                        value = (8.0 if on else 0.0) + rng.normal(0, 1.0) * rfi
                        zeroed = obs == "obsA" and rng.uniform() < (0.6 if c == 6 else 0.05)
                        rows.append((obs, s, p, c, b, "LBAND", EQ_NCHAN, f0 + 40.0 * c,
                                     float(value), 0.0 if zeroed else 1.0))
    return spark.createDataFrame(
        rows, ["obs_id", "subint", "pol", "chan", "bin", "band", "nchan", "freq", "value", "weight"]
    )


def _by_key(df, keys):
    return {tuple(r[k] for k in keys): r.asDict() for r in df.collect()}


def _assert_close(a: dict, b: dict, fields):
    import math

    assert a.keys() == b.keys()
    for key in a:
        for f in fields:
            x, y = a[key][f], b[key][f]
            assert (x is None and y is None) or math.isclose(x, y, rel_tol=1e-12, abs_tol=1e-12), (key, f, x, y)


def test_pipeline_matches_composed_operators(spark, obs_cube):
    """run_observation_pipeline (one cell aggregation + one per-obs
    kernel) reproduces the composed public operators: equal cleaned
    weights; doc fields, products, S/N series and dynspec to 1e-12."""
    import json

    from meerpipe_spark.operators.chop import chop_edge_channels
    from meerpipe_spark.operators.clean import clean_chain
    from meerpipe_spark.operators.dynspec import derive_dynspec
    from meerpipe_spark.operators.fluxcal import (
        apply_flux, flux_density, flux_multiplier, offpulse_rms_per_channel,
    )
    from meerpipe_spark.operators.snr import cumulative_snr, profile_snr
    from meerpipe_spark.plans.decimation import emit_products
    from meerpipe_spark.plans.pipeline import release_pipeline, results_doc

    on = eq_on_pulse()
    specs = parse_decimation_flags("pscrunch, t 2 f 4, tscrunch")
    out = run_observation_pipeline(
        obs_cube, on, specs, input_nsub=EQ_NSUB, input_nchan=EQ_NCHAN,
        expected_rms=1.0, fluxcal_window=EQ_WINDOW, bad_channels=[1],
    )

    cleaned = clean_chain(chop_edge_channels(obs_cube), on, bad_channels=[1])
    per_chan = offpulse_rms_per_channel(cleaned, ~on).withColumn("expected_rms", F.lit(1.0))
    mults = flux_multiplier(per_chan, "expected_rms", *EQ_WINDOW)
    calibrated = apply_flux(cleaned, mults)
    live = calibrated.filter(F.col("weight") > 0)
    per_subint = live.groupBy("obs_id", "subint").agg(
        F.sum(F.when(on, F.col("value"))).alias("on_sum"),
        F.stddev_samp(F.when(~on, F.col("value"))).alias("off_rms"),
    )
    doc = results_doc(cleaned, mults, profile_snr(live, ["obs_id"], on), flux=flux_density(calibrated, on))

    row_key = ["obs_id", "subint", "pol", "chan", "bin"]
    weights = _by_key(out["cleaned"], row_key)
    assert weights == _by_key(cleaned, row_key)
    assert 0 < sum(r["weight"] == 0 for r in weights.values()) < len(weights)
    docs = {r.obs_id: json.loads(r.results_json) for r in out["results"].collect()}
    want = {r.obs_id: json.loads(r.results_json) for r in doc.collect()}
    assert set(docs) == {"obsA", "obsB", "obsC"}
    _assert_close(docs, want, list(want["obsA"]))
    assert docs["obsC"]["mult"] is None and docs["obsA"]["mult"] is not None
    for name, product in emit_products(calibrated, specs, EQ_NSUB, EQ_NCHAN).items():
        _assert_close(_by_key(out[name], row_key), _by_key(product, row_key), ["value", "weight", "freq"])
    _assert_close(_by_key(out["snr_series"], ["obs_id", "subint"]),
                  _by_key(cumulative_snr(per_subint), ["obs_id", "subint"]), ["single_sum", "cumulative_snr"])
    dyn_key, dyn_fields = ["obs_id", "subint", "chan"], ["freq_mhz", "flux", "flux_err"]
    dyn = _by_key(out["dynspec"], dyn_key)
    _assert_close(dyn, _by_key(derive_dynspec(calibrated, on), dyn_key), dyn_fields)
    # obsC has no multiplier: its values stay unscaled
    unscaled = _by_key(derive_dynspec(out["cleaned"].filter(F.col("obs_id") == "obsC"), on), dyn_key)
    _assert_close({k: v for k, v in dyn.items() if k[0] == "obsC"}, unscaled, dyn_fields)
    release_pipeline(out)


def test_release_pipeline_frees_every_cache(spark, obs_cube):
    """Every cache a run pins is gone after release_pipeline."""
    from meerpipe_spark.plans.pipeline import release_pipeline

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    out = run_observation_pipeline(
        obs_cube, eq_on_pulse(), parse_decimation_flags("pscrunch"), input_nsub=EQ_NSUB,
        input_nchan=EQ_NCHAN, expected_rms=1.0, fluxcal_window=EQ_WINDOW, bad_channels=[1],
    )
    for df in out.values():
        df.count()
    assert not cache.isEmpty()
    release_pipeline(out)
    assert cache.isEmpty()


def _plan_nodes(df) -> dict[str, int]:
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    names = ("Aggregate", "FlatMapGroupsInPandas", "Join", "InMemoryRelation")
    found = re.findall(r"^[\s:+|-]*(\w+)", plan, flags=re.M)
    return {n: found.count(n) for n in names}


def test_pipeline_plan_shape_ceiling(spark, cube):
    """One run's plan shape, pinned: the cleaned cube is ONE aggregation
    of the cached chopped cube (and one pandas kernel) before the single
    verdict join; results is that aggregation and kernel plus at most
    one join (the DM/RM fits, when given)."""
    from meerpipe_spark.plans.pipeline import release_pipeline

    fits = spark.createDataFrame(
        [("obsA", 900.0 + 40.0 * c, 1e-6 * c, 1e-7, 0.0, 60000.0, 1.0, 0.5, 0.1) for c in range(4)],
        ["obs_id", "freq_mhz", "resid_s", "err_s", "dm0", "mjd", "q", "u", "pa_err"],
    )
    kw = dict(specs=[], input_nsub=NSUB, input_nchan=NCHAN, expected_rms=1.0,
              fluxcal_window=(900.0, 1500.0))
    out = run_observation_pipeline(cube, on_pulse(), **kw)
    with_fits = run_observation_pipeline(cube, on_pulse(), toas=fits, qu_chans=fits, **kw)
    assert _plan_nodes(out["cleaned"]) == {
        "Aggregate": 1, "FlatMapGroupsInPandas": 1, "Join": 1, "InMemoryRelation": 2,
    }
    assert _plan_nodes(out["results"]) == {
        "Aggregate": 1, "FlatMapGroupsInPandas": 1, "Join": 0, "InMemoryRelation": 1,
    }
    # cell statistics, the DM fit, the RM fit and the fits' union rollup
    assert _plan_nodes(with_fits["results"]) == {
        "Aggregate": 4, "FlatMapGroupsInPandas": 1, "Join": 1, "InMemoryRelation": 1,
    }
    release_pipeline(out)
    release_pipeline(with_fits)
