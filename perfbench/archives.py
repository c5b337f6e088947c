"""Seeded synthetic full-Stokes archives, written with the engine's public
``sinks_fits.build_archive_fits``.

Each archive carries a known truth so the pipeline's outputs can be checked:

- four polarisations (AA, BB, CR, CI): a Gaussian pulse at ``pulse_phase``
  in AA and BB, a weaker copy in CR, noise only in CI;
- a cold-plasma dispersive delay ``K * dm / f**2`` per channel;
- RFI-hot channels whose noise is ``rfi_scale`` times the rest (the
  cleaner must zap them);
- pre-zapped channels with ``DAT_WTS = 0``.

The same (spec, seed, index) always gives byte-identical files.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np

from meerpipe_spark.operators.wlsfit import DM_K
from meerpipe_spark.sinks_fits import build_archive_fits


@dataclass(frozen=True)
class ArchiveSpec:
    nsub: int
    nchan: int
    nbin: int
    npol: int = 4
    f_lo_mhz: float = 900.0
    bw_mhz: float = 760.0
    period_s: float = 0.5
    pulse_phase: float = 0.25
    pulse_sigma_bins: float = 1.5
    amplitude: float = 6.0
    dm: float = 8.0
    rfi_chans: tuple[int, ...] = (5,)
    zapped_chans: tuple[int, ...] = (2,)
    rfi_scale: float = 40.0

    @property
    def cells(self) -> int:
        return self.nsub * self.npol * self.nchan * self.nbin

    def freqs(self) -> np.ndarray:
        """Channel centre frequencies in MHz, all inside the L-band chop
        bounds, so chopping keeps every channel."""
        df = self.bw_mhz / self.nchan
        return self.f_lo_mhz + df * (np.arange(self.nchan) + 0.5)

    def delay_phase(self, freq_mhz) -> np.ndarray:
        """Dispersive delay in pulse phase (no wrap: stays below 0.5)."""
        f = np.asarray(freq_mhz, dtype=np.float64)
        return DM_K * self.dm / (f * f) / self.period_s

    def template(self) -> list[float]:
        """Intrinsic (undispersed) pulse shape on the phase-bin grid."""
        return list(self._pulse(np.zeros(1))[0])

    def on_pulse_bins(self) -> tuple[int, int]:
        """Inclusive bin window that holds the pulse in every channel."""
        d = self.delay_phase(self.freqs())
        lo = (self.pulse_phase + d.min()) * self.nbin - 4 * self.pulse_sigma_bins
        hi = (self.pulse_phase + d.max()) * self.nbin + 4 * self.pulse_sigma_bins
        return int(math.floor(lo)), int(math.ceil(hi))

    def zapped_frac(self) -> float:
        return len(set(self.rfi_chans) | set(self.zapped_chans)) / self.nchan

    def _pulse(self, delay_phase: np.ndarray) -> np.ndarray:
        """(len(delay_phase), nbin) Gaussian profiles, circular in phase."""
        bins = np.arange(self.nbin, dtype=np.float64)
        centre = ((self.pulse_phase + delay_phase) % 1.0) * self.nbin
        dist = bins[None, :] - centre[:, None]
        dist = (dist + self.nbin / 2) % self.nbin - self.nbin / 2
        return np.exp(-0.5 * (dist / self.pulse_sigma_bins) ** 2)


def archive_bytes(spec: ArchiveSpec, seed: int, index: int) -> bytes:
    """One archive's FITS bytes, a pure function of (spec, seed, index)."""
    rng = np.random.default_rng([seed, index])
    freqs = spec.freqs()
    wts = np.ones(spec.nchan)
    wts[list(spec.zapped_chans)] = 0.0
    prof = spec.amplitude * spec._pulse(spec.delay_phase(freqs))  # (nchan, nbin)
    pol_gain = np.array([1.0, 1.0, 0.3, 0.0])[: spec.npol]
    noise_scale = np.ones(spec.nchan)
    noise_scale[list(spec.rfi_chans)] = spec.rfi_scale
    subints = []
    for _ in range(spec.nsub):
        noise = rng.standard_normal((spec.npol, spec.nchan, spec.nbin))
        data = noise * noise_scale[None, :, None] + pol_gain[:, None, None] * prof[None]
        subints.append((list(freqs), list(wts), list(data.ravel())))
    return build_archive_fits(
        subints,
        spec.npol,
        spec.nchan,
        spec.nbin,
        primary_cards={"SEED": str(seed), "OBSINDEX": str(index)},
    )


def obs_name(index: int) -> str:
    return f"J0000-0000_obs{index:05d}"


def write_archives(
    spec: ArchiveSpec, seed: int, out_dir: str, first: int, count: int
) -> list[str]:
    """Write archives ``first .. first+count-1`` to ``out_dir``; returns
    their paths. The file stem becomes the engine's ``obs_id``."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(first, first + count):
        path = os.path.join(out_dir, obs_name(i) + ".fits")
        with open(path, "wb") as fh:
            fh.write(archive_bytes(spec, seed, i))
        paths.append(path)
    return paths


def read_archive(path: str) -> tuple[dict, np.ndarray, np.ndarray, np.ndarray]:
    """Independent reader for the round-trip check: (header cards of the
    table HDU, freqs (nsub, nchan), weights (nsub, nchan),
    data (nsub, npol, nchan, nbin)). Parses the FITS layout directly
    rather than through the engine's own reader."""
    with open(path, "rb") as fh:
        raw = fh.read()
    pos, hdus = 0, []
    while pos < len(raw):
        cards = {}
        while True:
            block = raw[pos : pos + 2880]
            pos += 2880
            done = False
            for i in range(0, 2880, 80):
                card = block[i : i + 80].decode("ascii")
                if card.startswith("END"):
                    done = True
                    break
                if card[8:10] == "= ":
                    cards[card[:8].strip()] = card[10:].split("/")[0].strip().strip("'").strip()
            if done:
                break
        size = 0
        if int(cards.get("NAXIS", "0")) == 2:
            size = int(cards["NAXIS1"]) * int(cards["NAXIS2"])
        hdus.append((cards, pos))
        pos += -(-size // 2880) * 2880
    cards, start = hdus[1]
    npol, nchan, nbin = int(cards["NPOL"]), int(cards["NCHAN"]), int(cards["NBIN"])
    nsub = int(cards["NAXIS2"])
    row = np.frombuffer(raw, dtype=">f8", count=nsub * (2 * nchan + npol * nchan * nbin), offset=start)
    row = row.reshape(nsub, -1).astype(np.float64)
    return (
        cards,
        row[:, :nchan],
        row[:, nchan : 2 * nchan],
        row[:, 2 * nchan :].reshape(nsub, npol, nchan, nbin),
    )
