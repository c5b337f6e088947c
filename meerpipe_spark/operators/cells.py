"""Per-observation cell statistics. Every decision after the chop (the
clean verdicts, the flux multiplier, S/N, flux, the S/N series and
percent_rfi_zapped) is a function of per-(obs, subint, chan) sufficient
statistics, so the fact-sized cube is aggregated once
(:func:`cell_stats`) and each observation's nsub × nchan cell table,
dimension-sized at any scale, goes through one pandas kernel grouped by
obs (the obs axis carries the parallelism, as in ``toa`` and
``dynspec.refill``). Pooled standard deviations merge the per-cell
(count, mean, M2) exactly, never through a sum of squares.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

KEYS = ["obs_id", "subint", "chan"]
MAD_TO_SIGMA = 1.4826  # consistent estimator for Gaussian sigma
#: kernel output columns after ``kind`` and KEYS
FIELDS = ["zap", "mult", "observed_rms", "expected_rms", "percent_rfi_zapped",
          "sn", "flux", "on_sum", "off_rms"]


def _moments(x: F.Column, name: str) -> list[F.Column]:
    return [F.count(x).alias(name + "_n"), F.avg(x).alias(name + "_mean"),
            F.var_samp(x).alias(name + "_var")]


def cell_stats(cube: DataFrame, on_pulse: F.Column) -> DataFrame:
    """ONE hash aggregation per (obs, subint, chan) cell: row and
    zero-weight counts, the frequency sum, the top phase bin, off-pulse
    moments over all rows (surgical ``cell_rms``, channel fluxcal RMS)
    and, over rows with weight > 0, the on-pulse count and sum and the
    off-pulse moments (S/N, flux, S/N series)."""
    v, live = F.col("value"), F.col("weight") > 0
    return cube.groupBy(*KEYS).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("weight") == 0, 1)).alias("n_w0"),
        F.sum("freq").alias("freq_sum"),
        F.max("bin").alias("max_bin"),
        *_moments(F.when(~on_pulse, v), "off"),
        F.count(F.when(live & on_pulse, v)).alias("on_n"),
        F.sum(F.when(live & on_pulse, v)).alias("on_sum"),
        *_moments(F.when(live & ~on_pulse, v), "off_w"),
    )


def _median(x) -> float:
    """Spark's exact ``median``: nulls skipped, an even count averages the
    two middle values as 0.5·a + 0.5·b."""
    x = np.sort(x[~np.isnan(x)])
    if not len(x):
        return np.nan
    mid = (len(x) - 1) / 2
    return 0.5 * x[int(np.floor(mid))] + 0.5 * x[int(np.ceil(mid))]


def _pool(c: pd.DataFrame, prefix: str, key) -> pd.DataFrame:
    """Count, mean and sample std of the union of each key group's cells,
    from per-cell (count, mean, sample variance) — Chan et al.'s merge
    M2 = Σ M2_i + Σ n_i (mean_i − mean)². Also sums ``on_n``/``on_sum``."""
    n = c[prefix + "_n"].to_numpy(float)
    mean = np.nan_to_num(c[prefix + "_mean"].to_numpy(float))
    d = pd.DataFrame({"n": n, "s": n * mean, "on_n": c.on_n.to_numpy(), "on_sum": c.on_sum.to_numpy(),
                      "m2": np.nan_to_num(c[prefix + "_var"].to_numpy(float)) * np.maximum(n - 1, 0)})
    g = d.groupby(np.asarray(key))
    d["m2"] += np.where(n > 0, n * (mean - g.s.transform("sum") / g.n.transform("sum")) ** 2, 0.0)
    out = d.groupby(np.asarray(key)).sum(min_count=1)
    out["mean"] = out.s / out.n
    out["std"] = np.sqrt(out.m2 / (out.n - 1)).where(out.n > 1)
    return out


def _finite(x: float) -> float:
    return x if np.isfinite(x) else np.nan


def _kernel(c, bad_channels, sigma_threshold, bandwagon_frac, expected_rms, window):
    """One observation's cells → its cell verdicts, S/N series rows and
    results row (see :func:`observation_stats`)."""
    n_rows, chan, sub = c.n_rows.to_numpy(float), c.chan.to_numpy(), c.subint.to_numpy()
    gsum = lambda x, key: pd.Series(x).groupby(key).transform("sum").to_numpy()  # noqa: E731
    # rcvrstd lists, then surgical: |cell_rms − median| > k·1.4826·MAD
    rms = np.sqrt(c.off_var.to_numpy(float))
    dev = np.abs(rms - _median(rms))
    mad = _median(dev)
    zap = np.isin(chan, bad_channels or []) | ((dev > sigma_threshold * MAD_TO_SIGMA * mad) & (mad > 0))
    # bandwagon: a zapped cell counts all its rows, a kept one its weight-0 rows
    n_zap = np.where(zap, n_rows, c.n_w0)
    for axis in (chan, sub):
        zap = zap | (gsum(n_zap, axis) / gsum(n_rows, axis) >= bandwagon_frac)
    observed = mult = np.nan
    if window is not None:
        freq = c.freq_sum.groupby(chan).sum() / c.n_rows.groupby(chan).sum()
        observed = _median(_pool(c, "off", chan)["std"][(freq >= window[0]) & (freq < window[1])].to_numpy())
        mult = _finite(expected_rms / observed)
    m = 1.0 if np.isnan(mult) else mult
    live = c[~zap]
    subs = _pool(live, "off_w", live.subint)
    subs = subs[subs.n + subs.on_n > 0]
    tot = _pool(live, "off_w", np.zeros(len(live))).reindex([0.0]).iloc[0]
    excess = (tot.on_sum - tot.on_n * tot["mean"]) * m
    obs = c.obs_id.iloc[0]
    return pd.concat([
        pd.DataFrame({"kind": "cell", "obs_id": obs, "subint": sub, "chan": chan, "zap": zap, "mult": mult}),
        pd.DataFrame({"kind": "subint", "obs_id": obs, "subint": subs.index,
                      "on_sum": subs.on_sum * m, "off_rms": subs["std"] * abs(m)}),
        pd.DataFrame({"kind": ["obs"], "obs_id": obs, "mult": mult, "observed_rms": observed,
                      "expected_rms": expected_rms,
                      "percent_rfi_zapped": np.where(zap, n_rows, c.n_w0).sum() / n_rows.sum(),
                      "sn": _finite(excess / (tot["std"] * abs(m) * np.sqrt(tot.on_n))),
                      "flux": excess / (c.max_bin.max() + 1)}),
    ], ignore_index=True)


def observation_stats(
    cube: DataFrame,
    on_pulse: F.Column,
    bad_channels: list[int] | None = None,
    sigma_threshold: float = 5.0,
    bandwagon_frac: float = 0.5,
    expected_rms: float | None = None,
    fluxcal_window: tuple[float, float] | None = None,
) -> DataFrame:
    """:func:`cell_stats` and one ``applyInPandas`` kernel per obs. Rows:

    - ``kind="cell"``: the final clean verdict ``zap`` (rcvrstd →
      surgical → bandwagon, the reference's order) and the obs's ``mult``;
    - ``kind="subint"``: ``on_sum``/``off_rms`` of the calibrated rows
      with weight > 0, the ``snr.cumulative_snr`` input;
    - ``kind="obs"``: ``mult`` = expected/observed RMS (observed = median
      of the off-pulse RMS of the channels with freq in [lo, hi); null
      without an in-window channel), ``percent_rfi_zapped`` and the
      calibrated ``sn`` and ``flux`` (averaged over max(bin) + 1 bins).
      Undefined ratios are null.
    """
    cells = cell_stats(cube, on_pulse)
    schema = T.StructType(
        [T.StructField("kind", T.StringType())]
        + [T.StructField(k, cells.schema[k].dataType) for k in KEYS]
        + [T.StructField(f, T.BooleanType() if f == "zap" else T.DoubleType()) for f in FIELDS]
    )

    def kernel(c: pd.DataFrame) -> pd.DataFrame:
        with np.errstate(all="ignore"):
            return _kernel(c, bad_channels, sigma_threshold, bandwagon_frac, expected_rms, fluxcal_window)

    return cells.groupBy("obs_id").applyInPandas(kernel, schema)


def apply_verdicts(cube: DataFrame, stats: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(cleaned, calibrated): ``cube`` joined once to the broadcast per-cell
    (zap, mult) table. Zapped cells get weight 0 (rows are never
    deleted); calibrated values are also scaled by the obs's multiplier
    (unscaled where it is null). Both keep ``cube``'s columns."""
    cells = stats.filter(F.col("kind") == "cell").select(*KEYS, "zap", "mult")
    joined = cube.join(F.broadcast(cells), KEYS)
    weight = F.when(F.col("zap"), 0.0).otherwise(F.col("weight")).alias("weight")
    value = (F.col("value") * F.coalesce(F.col("mult"), F.lit(1.0))).alias("value")
    pick = lambda **cols: joined.select(*[cols.get(c, c) for c in cube.columns])  # noqa: E731
    return pick(weight=weight), pick(weight=weight, value=value)
