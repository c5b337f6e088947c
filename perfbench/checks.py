"""Output checks. Each returns a list of failure messages (empty = pass);
every message counts as one failed operation."""

from __future__ import annotations

import glob
import json
import math
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import pipeline
from perfbench.archives import ArchiveSpec, read_archive

#: every field of the reference's results document
RESULT_FIELDS = (
    "percent_rfi_zapped", "dm", "dm_err", "dm_epoch", "dm_chi2r", "dm_tres",
    "rm", "rm_err", "sn", "flux", "mult", "observed_rms",
)
DM_TOL = 0.5           # pc cm^-3, absolute
ZAP_SLACK = 0.05       # surgical false positives allowed on top of the truth
SNR_MIN = 20.0


def read_json_lines(path: str) -> list[dict]:
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            rows += [json.loads(line) for line in fh if line.strip()]
    return rows


def check_docs(docs: list[dict], spec: ArchiveSpec, obs_ids: set[str]) -> list[str]:
    """Results documents: one per observation, every field present, RFI
    zapped, S/N sane, DM recovered from the per-group TOAs."""
    errs = []
    seen = [d.get("obs_id") for d in docs]
    if sorted(seen) != sorted(obs_ids):
        errs.append(f"results cover {len(seen)} docs, want one for each of {len(obs_ids)} obs")
    lo = spec.zapped_frac()
    for d in docs:
        oid = d.get("obs_id")
        try:
            body = json.loads(d["results_json"])
        except (KeyError, TypeError, ValueError):
            errs.append(f"{oid}: unreadable results_json")
            continue
        missing = [k for k in RESULT_FIELDS if k not in body]
        if missing:
            errs.append(f"{oid}: results fields missing {missing}")
            continue
        z = body["percent_rfi_zapped"]
        if z is None or not lo <= z <= lo + ZAP_SLACK:
            errs.append(f"{oid}: zapped fraction {z}, want [{lo}, {lo + ZAP_SLACK}]")
        if body["sn"] is None or not body["sn"] > SNR_MIN:
            errs.append(f"{oid}: S/N {body['sn']} below {SNR_MIN}")
        dm = d.get("dm")
        if dm is None or not abs(dm - spec.dm) <= DM_TOL:
            errs.append(f"{oid}: DM {dm}, want {spec.dm} +- {DM_TOL}")
        if d.get("n") != pipeline.TOA_CHANS:
            errs.append(f"{oid}: DM fit used {d.get('n')} TOAs, want {pipeline.TOA_CHANS}")
    return errs


def expected_toa_phase(spec: ArchiveSpec) -> np.ndarray:
    """Phase shift each channel group's TOA should show: the mean
    dispersive delay of the group's unzapped channels."""
    width = spec.nchan // pipeline.TOA_CHANS
    delay = spec.delay_phase(spec.freqs())
    bad = set(spec.rfi_chans) | set(spec.zapped_chans)
    out = []
    for g in range(pipeline.TOA_CHANS):
        chans = [c for c in range(g * width, (g + 1) * width) if c not in bad]
        out.append(delay[chans].mean())
    return np.array(out)


def check_toas(toas: list[dict], spec: ArchiveSpec, obs_ids: set[str]) -> list[str]:
    """One TOA per (obs, channel group), each within one phase bin of the
    injected pulse phase."""
    errs = []
    if len(toas) != len(obs_ids) * pipeline.TOA_CHANS:
        errs.append(f"{len(toas)} TOAs, want {len(obs_ids) * pipeline.TOA_CHANS}")
    want = expected_toa_phase(spec)
    for t in toas:
        g = t.get("chan_group")
        if t.get("obs_id") not in obs_ids or g not in range(pipeline.TOA_CHANS):
            errs.append(f"unexpected TOA {t}")
            continue
        d = (t["phase_shift"] - want[g] + 0.5) % 1.0 - 0.5
        if abs(d) > 1.0 / spec.nbin:
            errs.append(f"{t['obs_id']} group {g}: TOA phase off by {d * spec.nbin:.2f} bins")
    return errs


def product_rows(spec: ArchiveSpec, dspec, nobs: int) -> int:
    """Closed-form row count of one decimation product."""
    t, f = dspec.factors(spec.nsub, spec.nchan)
    npol = 1 if dspec.pscrunch else spec.npol
    return nobs * -(-spec.nsub // t) * npol * -(-spec.nchan // f) * spec.nbin


def parquet_rows(path: str) -> int:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def check_products(dest: str, spec: ArchiveSpec, nobs: int) -> list[str]:
    errs = []
    for dspec in pipeline.SPECS:
        got = parquet_rows(os.path.join(dest, "cube", dspec.name))
        want = product_rows(spec, dspec, nobs)
        if got != want:
            errs.append(f"product {dspec.name}: {got} rows, want {want}")
    return errs


def check_fits(dest: str, obs_ids: set[str]) -> list[str]:
    """Round trip: every written FITS archive holds exactly the TOA
    product the parquet sink wrote for that observation."""
    errs = []
    for oid in sorted(obs_ids):
        path = os.path.join(dest, "fits", f"{oid}.fits")
        part = os.path.join(dest, "cube", pipeline.TOA_PRODUCT, f"obs_id={oid}")
        if not os.path.exists(path) or not os.path.isdir(part):
            errs.append(f"{oid}: FITS archive or parquet product missing")
            continue
        _, freqs, wts, data = read_archive(path)
        t = pq.read_table(part).to_pandas()
        nsub, npol, nchan, nbin = data.shape
        if len(t) != nsub * npol * nchan * nbin:
            errs.append(f"{oid}: FITS holds {data.size} cells, parquet {len(t)}")
            continue
        cube = np.zeros(data.shape)
        cube[t["subint"], t["pol"], t["chan"], t["bin"]] = t["value"].fillna(0.0)
        chan_w = np.zeros((nsub, nchan))
        chan_w[t["subint"], t["chan"]] = t["weight"]
        if not np.allclose(cube, data, rtol=1e-9, atol=1e-12):
            errs.append(f"{oid}: FITS data differ from the parquet product")
        if not np.allclose(chan_w, wts, rtol=1e-9, atol=1e-12):
            errs.append(f"{oid}: FITS weights differ from the parquet product")
    return errs


def check_ledger(rows: list[dict], reference: list[dict], arrived: set[str]) -> list[str]:
    """Live arrivals: every arrival ledgered exactly once, each document
    equal to the batch run's document for the same archive."""
    errs = []
    ids = [r.get("obs_id") for r in rows]
    dup = {i for i in ids if ids.count(i) > 1}
    if dup:
        errs.append(f"ledgered more than once: {sorted(dup)[:5]}")
    missing = arrived - set(ids)
    if missing:
        errs.append(f"never ledgered: {sorted(missing)[:5]}")
    ref = {r["obs_id"]: r for r in reference}
    for r in rows:
        want = ref.get(r.get("obs_id"))
        if want is None:
            errs.append(f"{r.get('obs_id')}: not in the batch run")
        elif not docs_equal(r, want):
            errs.append(f"{r['obs_id']}: ledger document differs from the batch run")
    return errs


def docs_equal(a: dict, b: dict, rel: float = 1e-9) -> bool:
    def flat(d):
        body = dict(d)
        body.update({f"doc.{k}": v for k, v in json.loads(body.pop("results_json")).items()})
        return body

    fa, fb = flat(a), flat(b)
    if fa.keys() != fb.keys():
        return False
    for k, va in fa.items():
        vb = fb[k]
        if isinstance(va, float) or isinstance(vb, float):
            if va is None or vb is None or not math.isclose(va, vb, rel_tol=rel, abs_tol=1e-12):
                return False
        elif va != vb:
            return False
    return True


def normalize(rows, cols) -> list[tuple]:
    """Order-insensitive row image with floats at 9 significant digits
    (the registry's oracle-comparison convention)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                vals.append("nan" if math.isnan(v) else f"{v:.9g}")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def check_query(name: str, spark_cols, spark_rows, duck_cols, duck_rows) -> list[str]:
    sc = [c.lower() for c in spark_cols]
    dc = [c.lower() for c in duck_cols]
    if sorted(sc) != sorted(dc):
        return [f"{name}: columns {sorted(sc)} != oracle {sorted(dc)}"]
    if len(spark_rows) != len(duck_rows):
        return [f"{name}: {len(spark_rows)} rows, oracle {len(duck_rows)}"]
    if normalize(spark_rows, sc) != normalize(duck_rows, dc):
        return [f"{name}: values differ from the oracle"]
    return []
