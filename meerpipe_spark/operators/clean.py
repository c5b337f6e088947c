"""RFI cleaning: the three-cleaner chain (docs/pipeline_workflow.md:28-33).

- ``rcvrstd``: zap fixed channel/subint lists and band edges — no
  statistics, pure predicate (weight := 0 where listed).
- ``surgical``: template-aware off-pulse statistics; zap (subint, chan)
  cells whose off-pulse RMS is a robust outlier vs the channel's
  distribution across subints.
- ``bandwagon``: if the already-zapped fraction of a channel (or subint)
  exceeds a threshold, zap the remainder of it.

The three operators below are the relational reference forms
(predicates, exact medians, broadcast joins back onto the cube);
:func:`clean_chain` runs the chain as one cell-statistics pass.
Zapping NEVER deletes rows: it zeroes ``weight`` (the reference's
convention, docs/pipeline_workflow.md:31-33) so downstream weighted
aggregations (scrunch A1) see consistent denominators.

At 100 TB: per-(obs,chan) statistics partial-aggregate map-side; the
zap-decision tables are tiny (nchan × nsub per obs) and broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from meerpipe_spark.operators.cells import MAD_TO_SIGMA, apply_verdicts, observation_stats


def rcvrstd(
    cube: DataFrame,
    bad_channels: list[int] | None = None,
    bad_subints: list[int] | None = None,
    freq_range: tuple[float, float] | None = None,
    weight_col: str = "weight",
) -> DataFrame:
    """Fixed-list zapping. ``freq_range`` keeps [lo, hi]; anything outside
    is zapped (band-edge trim as a weight, complementing chop's filter)."""
    zap = F.lit(False)
    if bad_channels:
        zap = zap | F.col("chan").isin(*bad_channels)
    if bad_subints:
        zap = zap | F.col("subint").isin(*bad_subints)
    if freq_range is not None:
        zap = zap | ~F.col("freq").between(*freq_range)
    return cube.withColumn(weight_col, F.when(zap, 0.0).otherwise(F.col(weight_col)))


def surgical(
    cube: DataFrame,
    on_pulse: F.Column,
    sigma_threshold: float = 5.0,
    obs_col: str = "obs_id",
    value_col: str = "value",
    weight_col: str = "weight",
) -> DataFrame:
    """Template-aware outlier zapping.

    1. off-pulse RMS per (obs, subint, chan) cell  — one hash agg;
    2. per obs: exact median + MAD of the cell RMS over ALL cells —
       robust against up to ~50% contamination, and catches fully-bad
       channels/subints (a per-channel baseline would normalize them
       away);
    3. zap cells with |rms − median| > k·1.4826·MAD — broadcast join of
       the per-obs stats back onto the cube.

    The on/off window comes from the template upstream (J8), passed as a
    boolean column expression.
    """
    cell = cube.groupBy(obs_col, "subint", "chan").agg(
        F.stddev_samp(F.when(~on_pulse, F.col(value_col))).alias("cell_rms")
    )
    # MAD needs the median subtracted first; two exact passes.
    obs_med = cell.groupBy(obs_col).agg(F.median("cell_rms").alias("rms_med"))
    obs_mad = (
        cell.join(obs_med, [obs_col])
        .groupBy(obs_col)
        .agg(F.median(F.abs(F.col("cell_rms") - F.col("rms_med"))).alias("rms_mad"))
    )
    stats = obs_med.join(obs_mad, [obs_col])
    decisions = (
        cell.join(F.broadcast(stats), [obs_col])
        .withColumn(
            "zap_cell",
            (F.abs(F.col("cell_rms") - F.col("rms_med"))
             > sigma_threshold * MAD_TO_SIGMA * F.col("rms_mad"))
            & (F.col("rms_mad") > 0),
        )
        .select(obs_col, "subint", "chan", "zap_cell")
    )
    return (
        cube.join(F.broadcast(decisions), [obs_col, "subint", "chan"], "left")
        .withColumn(
            weight_col,
            F.when(F.coalesce(F.col("zap_cell"), F.lit(False)), 0.0).otherwise(F.col(weight_col)),
        )
        .drop("zap_cell")
    )


def bandwagon(
    cube: DataFrame,
    chan_frac: float = 0.5,
    subint_frac: float = 0.5,
    obs_col: str = "obs_id",
    weight_col: str = "weight",
) -> DataFrame:
    """Majority-vote zapping: zero the rest of any channel (subint) whose
    already-zapped fraction exceeds the threshold."""
    zapped = F.when(F.col(weight_col) == 0, 1.0).otherwise(0.0)
    by_chan = cube.groupBy(obs_col, "chan").agg(F.avg(zapped).alias("chan_zap_frac"))
    by_subint = cube.groupBy(obs_col, "subint").agg(F.avg(zapped).alias("subint_zap_frac"))
    return (
        cube.join(F.broadcast(by_chan), [obs_col, "chan"])
        .join(F.broadcast(by_subint), [obs_col, "subint"])
        .withColumn(
            weight_col,
            F.when(
                (F.col("chan_zap_frac") >= chan_frac)
                | (F.col("subint_zap_frac") >= subint_frac),
                0.0,
            ).otherwise(F.col(weight_col)),
        )
        .drop("chan_zap_frac", "subint_zap_frac")
    )


def clean_chain(
    cube: DataFrame,
    on_pulse: F.Column,
    bad_channels: list[int] | None = None,
    sigma_threshold: float = 5.0,
    bandwagon_frac: float = 0.5,
) -> DataFrame:
    """rcvrstd → surgical → bandwagon, the reference's fixed order, in one
    cell-statistics pass: every zap decision is constant within an
    (obs, subint, chan) cell, so the chain is
    :func:`~meerpipe_spark.operators.cells.observation_stats` (one
    aggregation, one pandas kernel per obs) and one broadcast join of the
    verdicts. Rows already at weight 0 count toward bandwagon's fractions
    and a zapped cell counts all its rows, as in the composed chain above
    (tests/test_pipeline.py pins the equivalence). The pipeline runs this
    same pass, so there is one cleaning implementation.
    """
    stats = observation_stats(cube, on_pulse, bad_channels, sigma_threshold, bandwagon_frac)
    return apply_verdicts(cube, stats)[0]
