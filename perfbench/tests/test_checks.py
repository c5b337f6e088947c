"""Every output check passes a correct output and rejects a deliberately
corrupted one."""

import copy
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from meerpipe_spark.sinks_fits import build_archive_fits

from perfbench import checks, pipeline
from perfbench.archives import ArchiveSpec

SPEC = ArchiveSpec(nsub=8, nchan=32, nbin=128)
OBS = "J0000-0000_obs00000"


def _doc(oid=OBS, **body_over):
    body = {k: 1.0 for k in checks.RESULT_FIELDS}
    body.update(percent_rfi_zapped=SPEC.zapped_frac(), sn=50.0)
    body.update(body_over)
    return {"obs_id": oid, "results_json": json.dumps(body), "dm": SPEC.dm, "n": pipeline.TOA_CHANS}


def _toas(oid=OBS):
    return [
        {"obs_id": oid, "chan_group": g, "phase_shift": float(p)}
        for g, p in enumerate(checks.expected_toa_phase(SPEC))
    ]


def test_docs_pass_and_reject_each_corruption():
    assert checks.check_docs([_doc()], SPEC, {OBS}) == []
    missing = _doc()
    body = json.loads(missing["results_json"])
    del body["flux"]
    missing["results_json"] = json.dumps(body)
    bad = [
        [missing],
        [_doc(percent_rfi_zapped=0.0)],  # RFI channel not zapped
        [_doc(sn=3.0)],
        [dict(_doc(), dm=SPEC.dm + 2 * checks.DM_TOL)],
        [dict(_doc(), n=pipeline.TOA_CHANS - 1)],
        [],  # observation without a document
        [_doc(), _doc()],  # one observation, two documents
    ]
    for docs in bad:
        assert checks.check_docs(docs, SPEC, {OBS}), docs


def test_toas_pass_and_reject_each_corruption():
    assert checks.check_toas(_toas(), SPEC, {OBS}) == []
    shifted = _toas()
    shifted[3]["phase_shift"] += 2.0 / SPEC.nbin
    assert checks.check_toas(shifted, SPEC, {OBS})
    assert checks.check_toas(_toas()[1:], SPEC, {OBS})
    assert checks.check_toas(_toas() + [dict(_toas()[0], obs_id="other")], SPEC, {OBS})


def _write_rows(path, table):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def test_products_pass_and_reject_a_short_product(tmp_path):
    dest = str(tmp_path)
    for dspec in pipeline.SPECS:
        n = checks.product_rows(SPEC, dspec, 1)
        _write_rows(os.path.join(dest, "cube", dspec.name, f"obs_id={OBS}"), pa.table({"v": np.zeros(n)}))
    assert checks.check_products(dest, SPEC, 1) == []
    name = pipeline.SPECS[-1].name
    n = checks.product_rows(SPEC, pipeline.SPECS[-1], 1)
    _write_rows(os.path.join(dest, "cube", name, f"obs_id={OBS}"), pa.table({"v": np.zeros(n - 1)}))
    assert checks.check_products(dest, SPEC, 1)


def _fits_fixture(dest):
    nsub, npol, nchan, nbin = 2, 1, 8, 16
    rng = np.random.default_rng(0)
    data = rng.standard_normal((nsub, npol, nchan, nbin))
    freqs = np.linspace(900, 1600, nchan)
    wts = np.ones(nchan)
    wts[2] = 0.0
    os.makedirs(os.path.join(dest, "fits"))
    fits = os.path.join(dest, "fits", f"{OBS}.fits")
    with open(fits, "wb") as fh:
        fh.write(build_archive_fits(
            [(list(freqs), list(wts), list(data[s].ravel())) for s in range(nsub)], npol, nchan, nbin
        ))
    s, p, c, b = np.meshgrid(*(np.arange(n) for n in data.shape), indexing="ij")
    table = pa.table({
        "subint": s.ravel(), "pol": p.ravel(), "chan": c.ravel(), "bin": b.ravel(),
        "value": data.ravel(), "weight": wts[c.ravel()],
    })
    part = os.path.join(dest, "cube", pipeline.TOA_PRODUCT, f"obs_id={OBS}")
    return fits, part, table


def test_fits_round_trip_passes_and_rejects_corrupted_data(tmp_path):
    fits, part, table = _fits_fixture(str(tmp_path))
    _write_rows(part, table)
    assert checks.check_fits(str(tmp_path), {OBS}) == []

    values = table.column("value").to_numpy().copy()
    values[5] += 1.0
    _write_rows(part, table.set_column(table.schema.get_field_index("value"), "value", pa.array(values)))
    assert checks.check_fits(str(tmp_path), {OBS})

    weights = table.column("weight").to_numpy().copy()
    weights[:] = 1.0
    _write_rows(part, table.set_column(table.schema.get_field_index("weight"), "weight", pa.array(weights)))
    assert checks.check_fits(str(tmp_path), {OBS})

    os.remove(fits)
    assert checks.check_fits(str(tmp_path), {OBS})


def test_ledger_passes_and_rejects_each_corruption():
    ref = [_doc(), _doc("J0000-0000_obs00001")]
    ids = {d["obs_id"] for d in ref}
    assert checks.check_ledger(copy.deepcopy(ref), ref, ids) == []
    assert checks.check_ledger(copy.deepcopy(ref) + [ref[0]], ref, ids)  # twice
    assert checks.check_ledger(copy.deepcopy(ref[:1]), ref, ids)  # never ledgered
    changed = copy.deepcopy(ref)
    changed[1]["dm"] += 1e-6
    assert checks.check_ledger(changed, ref, ids)
    stranger = copy.deepcopy(ref) + [_doc("J0000-0000_obs00009")]
    assert checks.check_ledger(stranger, ref, ids)


@pytest.mark.parametrize(
    "cols, rows",
    [
        (["b", "a"], [(2.0, "x"), (1.0, "y")]),  # a value differs
        (["a", "b"], [("x", 1.0)]),  # a row is missing
        (["a", "c"], [("x", 1.0), ("y", 2.0)]),  # a column differs
    ],
)
def test_query_check_rejects_a_wrong_result(cols, rows):
    oracle_cols, oracle_rows = ["a", "b"], [("y", 2.0), ("x", 1.0)]
    assert checks.check_query("q", ["b", "a"], [(1.0, "x"), (2.0, "y")], oracle_cols, oracle_rows) == []
    assert checks.check_query("q", cols, rows, oracle_cols, oracle_rows)
