"""Source-layer tests: par files, psrflux dynspec, FITS header +
binary-table ingest (FITS fixture built by hand from the public spec)."""

from __future__ import annotations

import struct

import pytest

from meerpipe_spark.sources.fits import parse_bintable, read_fits_headers
from meerpipe_spark.sources.par import par_to_map, read_par_df
from meerpipe_spark.sources.psrflux import read_dynspec, zap_fraction

PAR_TEXT = """\
PSRJ           J1811-2405
RAJ            18:11:19.85315         1  0.00007
DECJ           -24:05:18.365          1  0.029
F0             375.8560483697685178   1  2.4e-12
F1             -1.3269D-15            1  1.1e-19
PB             6.2723015936            1  1.6e-9
E              0.0000017
NTOA           1234
TZRMJD         58000.1234
DM             60.6005
UNITS          TCB
"""


@pytest.fixture()
def par_file(tmp_path):
    p = tmp_path / "J1811-2405.par"
    p.write_text(PAR_TEXT)
    return str(p)


def test_read_par_types_and_ignore(spark, par_file):
    par = par_to_map(read_par_df(spark, par_file))
    assert par["PSRJ"] == "J1811-2405"
    assert par["PSRJ_TYPE"] == "s"
    assert par["F0"] == pytest.approx(375.8560483697685178)
    assert par["F0_TYPE"] == "f"
    assert par["F0_ERR"] == pytest.approx(2.4e-12)
    # D-exponent normalized, classified as exponent type
    assert par["F1"] == pytest.approx(-1.3269e-15)
    assert par["F1_TYPE"] == "e"
    # E renamed to ECC
    assert "E" not in par and par["ECC"] == pytest.approx(1.7e-6)
    # ignore list dropped
    assert "NTOA" not in par and "TZRMJD" not in par
    # string value keeps raw form
    assert par["RAJ"] == "18:11:19.85315"
    assert par["RAJ_ERR"] == pytest.approx(7e-5)
    assert par["DM_TYPE"] == "f" and par["DM"] == pytest.approx(60.6005)


DYNSPEC_TEXT = """\
# Dynamic spectrum from psrflux
# subint chan time freq flux flux_err
0 0 4.0 856.5 1.25 0.10
0 1 4.0 857.3 0.00 0.00
1 0 12.0 856.5 2.50 0.20
1 1 12.0 857.3 0.00 0.30
"""


def test_read_dynspec_and_zap(spark, tmp_path):
    p = tmp_path / "dynspec.txt"
    p.write_text(DYNSPEC_TEXT)
    df = read_dynspec(spark, str(p), obs_id="obs1")
    rows = df.orderBy("subint", "chan").collect()
    assert len(rows) == 4
    assert rows[0].obs_id == "obs1" and rows[0].freq_mhz == 856.5
    # only flux==0 AND flux_err==0 counts as zapped -> 1 of 4
    zf = zap_fraction(df).collect()[0].zap_fraction
    assert zf == pytest.approx(0.25)


def _card(key: str, value: str, comment: str = "") -> bytes:
    body = f"{key:<8}= {value}"
    if comment:
        body += f" / {comment}"
    return body.ljust(80).encode("ascii")


def _blank_pad(blocks: bytes) -> bytes:
    rem = len(blocks) % 2880
    return blocks + b" " * (2880 - rem) if rem else blocks


@pytest.fixture()
def fits_file(tmp_path):
    """Minimal FITS: primary HDU + one BINTABLE with 3 typed columns."""
    primary = (
        _card("SIMPLE", "T")
        + _card("BITPIX", "8")
        + _card("NAXIS", "0")
        + _card("TELESCOP", "'MeerKAT '", "telescope name")
        + _card("STT_IMJD", "58550", "start MJD")
        + b"END".ljust(80)
    )
    rows = [(1, 856.5, b"chan0001"), (2, 857.3, b"chan0002")]
    payload = b"".join(
        struct.pack(">h", a) + struct.pack(">d", b) + c for a, b, c in rows
    )
    table_hdr = (
        _card("XTENSION", "'BINTABLE'")
        + _card("BITPIX", "8")
        + _card("NAXIS", "2")
        + _card("NAXIS1", str(2 + 8 + 8))
        + _card("NAXIS2", "2")
        + _card("PCOUNT", "0")
        + _card("GCOUNT", "1")
        + _card("TFIELDS", "3")
        + _card("TTYPE1", "'IDX     '")
        + _card("TFORM1", "'I       '")
        + _card("TTYPE2", "'FREQ    '")
        + _card("TFORM2", "'D       '")
        + _card("TTYPE3", "'NAME    '")
        + _card("TFORM3", "'8A      '")
        + b"END".ljust(80)
    )
    data = (
        _blank_pad(primary)
        + _blank_pad(table_hdr)
        + _blank_pad(payload).replace(b" ", b"\x00")
    )
    p = tmp_path / "test.fits"
    p.write_bytes(data)
    return str(p)


def test_read_fits_headers(spark, fits_file):
    df = read_fits_headers(spark, fits_file)
    cards = {(r.hdu, r.key): r.value for r in df.collect()}
    assert cards[(0, "TELESCOP")] == "MeerKAT"
    assert cards[(0, "STT_IMJD")] == "58550"
    assert cards[(1, "XTENSION")] == "BINTABLE"
    assert cards[(1, "TTYPE2")] == "FREQ"
    comments = {r.key: r.comment for r in df.collect() if r.hdu == 0}
    assert comments["TELESCOP"] == "telescope name"


def test_parse_bintable(fits_file):
    with open(fits_file, "rb") as f:
        data = f.read()
    pdf = parse_bintable(data, 1)
    assert list(pdf.columns) == ["IDX", "FREQ", "NAME"]
    assert pdf["IDX"].tolist() == [1, 2]
    assert pdf["FREQ"].tolist() == pytest.approx([856.5, 857.3])
    assert pdf["NAME"].tolist() == ["chan0001", "chan0002"]


# ---------------------------------------------------------------------------
# S3: PSRFITS-like archive → cube ingest
# ---------------------------------------------------------------------------

import numpy as np

from meerpipe_spark.sources.fits import read_archive_cube


@pytest.fixture()
def archive_file(tmp_path):
    """Synthetic PSRFITS-like archive: 2 subints × 2 pol × 3 chan × 4 bin."""
    npol, nchan, nbin, nsub = 2, 3, 4, 2
    rng = np.random.default_rng(17)
    freqs = np.array([900.0, 950.0, 1000.0])
    wts = np.array([1.0, 0.0, 1.0])
    cube = rng.normal(size=(nsub, npol, nchan, nbin))

    primary = (
        _card("SIMPLE", "T") + _card("BITPIX", "8") + _card("NAXIS", "0")
        + b"END".ljust(80)
    )
    row_bytes = nchan * 8 + nchan * 8 + npol * nchan * nbin * 8
    table_hdr = (
        _card("XTENSION", "'BINTABLE'")
        + _card("BITPIX", "8")
        + _card("NAXIS", "2")
        + _card("NAXIS1", str(row_bytes))
        + _card("NAXIS2", str(nsub))
        + _card("PCOUNT", "0")
        + _card("GCOUNT", "1")
        + _card("TFIELDS", "3")
        + _card("NPOL", str(npol))
        + _card("NCHAN", str(nchan))
        + _card("NBIN", str(nbin))
        + _card("TTYPE1", "'DAT_FREQ'")
        + _card("TFORM1", f"'{nchan}D'")
        + _card("TTYPE2", "'DAT_WTS '")
        + _card("TFORM2", f"'{nchan}D'")
        + _card("TTYPE3", "'DATA    '")
        + _card("TFORM3", f"'{npol * nchan * nbin}D'")
        + b"END".ljust(80)
    )
    payload = b""
    for s in range(nsub):
        payload += struct.pack(f">{nchan}d", *freqs)
        payload += struct.pack(f">{nchan}d", *wts)
        payload += struct.pack(f">{npol * nchan * nbin}d", *cube[s].ravel())
    data = (
        _blank_pad(primary)
        + _blank_pad(table_hdr)
        + payload + b"\x00" * ((-len(payload)) % 2880)
    )
    p = tmp_path / "J0437-4715_2020-01-01.fits"
    p.write_bytes(data)
    return str(p), cube, freqs, wts


def test_read_archive_cube(spark, archive_file):
    path, cube, freqs, wts = archive_file
    df = read_archive_cube(spark, path)
    rows = df.collect()
    assert len(rows) == 2 * 2 * 3 * 4
    assert all(r.obs_id == "J0437-4715_2020-01-01" for r in rows)
    got = {(r.subint, r.pol, r.chan, r.bin): r for r in rows}
    for s in range(2):
        for p in range(2):
            for c in range(3):
                for b in range(4):
                    r = got[(s, p, c, b)]
                    assert r.value == pytest.approx(cube[s, p, c, b], rel=1e-12)
                    assert r.freq == freqs[c]
                    assert r.weight == wts[c]


def test_fits_datasource(spark, archive_file):
    """Spark 4 Python DataSource path: register + read.format()."""
    from meerpipe_spark.sources.fits_datasource import FitsArchiveDataSource

    path, cube, freqs, wts = archive_file
    spark.dataSource.register(FitsArchiveDataSource)
    df = spark.read.format("fits_archive").load(path)
    assert df.count() == 2 * 2 * 3 * 4
    got = {(r.subint, r.pol, r.chan, r.bin): r.value for r in df.collect()}
    assert got[(1, 1, 2, 3)] == pytest.approx(cube[1, 1, 2, 3], rel=1e-12)
    # pushdown-friendly: projection + filter still works through the source
    n = df.filter("chan = 1").select("value").count()
    assert n == 2 * 2 * 4


RM_CATALOGUE = """\
# psr rm
J0437-4715 -0.5
J1811-2405 27.4
J2241-5236 12.0
"""


def test_read_catalogue_and_qa(spark, tmp_path):
    from meerpipe_spark.sources.catalogues import catalogue_qa, read_catalogue

    p = tmp_path / "rm_catalogue.txt"
    p.write_text(RM_CATALOGUE)
    cat = read_catalogue(spark, str(p))
    got = {r.psr: r.rm for r in cat.collect()}
    assert got == {"J0437-4715": -0.5, "J1811-2405": 27.4, "J2241-5236": 12.0}
    qa = catalogue_qa(cat, raw_value_col="psr")
    assert qa == {"duplicates": [], "malformed": []}

    bad = tmp_path / "bad.txt"
    bad.write_text("J0437-4715 -0.5\nJ0437-4715 1.0\nJ1111+1111 07.5\n")
    cat2 = read_catalogue(spark, str(bad), numeric_cols=())
    qa2 = catalogue_qa(cat2, raw_value_col="rm")
    assert qa2["duplicates"] == ["J0437-4715"]
    assert qa2["malformed"] == ["J1111+1111"]


# ---------------------------------------------------------------------------
# S10: .npy reference scan
# ---------------------------------------------------------------------------

import os

from meerpipe_spark.sources.npy import (
    channel_frequency_reference,
    read_npy,
    read_npy_distributed,
    read_npy_header,
)

REF_NPY = "/root/reference/configuration_files/928ch_frequency_reference.npy"


def test_read_npy_header_and_roundtrip(spark, tmp_path):
    a = np.arange(12, dtype=np.float64)
    p = str(tmp_path / "a.npy")
    np.save(p, a)
    shape, dtype, fortran, off = read_npy_header(p)
    assert shape == (12,) and dtype == np.float64 and not fortran and off % 64 == 0
    rows = read_npy(spark, p).orderBy("idx").collect()
    assert [r.value for r in rows] == list(range(12))

    m = np.arange(6, dtype=np.int32).reshape(3, 2)
    p2 = str(tmp_path / "m.npy")
    np.save(p2, m)
    rows2 = read_npy(spark, p2).orderBy("idx").collect()
    assert [r.values for r in rows2] == [[0, 1], [2, 3], [4, 5]]


def test_read_npy_rejects_object_dtype(tmp_path):
    p = str(tmp_path / "o.npy")
    np.save(p, np.array([{"a": 1}], dtype=object), allow_pickle=True)
    with pytest.raises(Exception):
        read_npy_header(p)


def test_read_npy_distributed_matches_driver(spark, tmp_path):
    a = np.linspace(0.0, 1.0, 1000)
    p = str(tmp_path / "big.npy")
    np.save(p, a)
    df = read_npy_distributed(spark, p, rows_per_batch=128)
    assert df.rdd.getNumPartitions() == 8  # ceil(1000/128) contiguous chunks
    got = {r.idx: r.value for r in df.collect()}
    assert len(got) == 1000
    assert got[0] == 0.0 and got[999] == 1.0
    assert got[500] == pytest.approx(a[500])


@pytest.mark.skipif(not os.path.exists(REF_NPY), reason="reference data not present")
def test_channel_frequency_reference_real_file(spark):
    """S10 golden test: the real 928-channel frequency reference
    (dm_offset_pta.config:37) loads as float64[928] with LBAND
    frequencies in ascending order."""
    df = channel_frequency_reference(spark, REF_NPY)
    rows = df.orderBy("chan_idx").collect()
    assert len(rows) == 928
    assert rows[0].freq_mhz == pytest.approx(896.125)
    assert rows[-1].freq_mhz == pytest.approx(1671.0390625)
    freqs = [r.freq_mhz for r in rows]
    assert freqs == sorted(freqs)
    # distributed reader agrees bit-exactly on the real file
    dist = {r.idx: r.value for r in read_npy_distributed(spark, REF_NPY).collect()}
    assert all(dist[i] == freqs[i] for i in range(928))


# ---------------------------------------------------------------------------
# D5 / M6: tempo2 .tim TOA files
# ---------------------------------------------------------------------------

from meerpipe_spark.sources.tim import read_tim_df, write_tim


TIM_TEXT = """FORMAT 1
C this is a comment
# another comment
MODE 1
J0437-4715_2024.ar 1283.582031 60001.123456789012345 0.523 meerkat -snr 145.2 -nch 16
J0437-4715_2024.ar 1444.101562 60001.123456789012345 1.020 meerkat -snr 88.1 -nch 16
bad_line_with_too few
J1909-3744_2024.ar 962.0 59950.000000000000001 0.101 meerkat
"""


def test_read_tim_format1(spark, tmp_path):
    p = tmp_path / "obs.tim"
    p.write_text(TIM_TEXT)
    rows = read_tim_df(spark, str(p)).orderBy("freq_mhz").collect()
    assert len(rows) == 3
    r = rows[1]  # 1283 MHz row
    assert r.name == "J0437-4715_2024.ar"
    assert r.imjd == 60001
    assert r.fmjd == pytest.approx(0.123456789012345, abs=1e-16)
    assert r.err_us == pytest.approx(0.523)
    assert r.site == "meerkat"
    assert dict(r.flags) == {"snr": "145.2", "nch": "16"}
    # full 15-digit fractional MJD survives the imjd/fmjd split
    assert abs((r.imjd + r.fmjd) - 60001.123456789012345) < 1e-10
    assert rows[0].flags is None or dict(rows[0].flags) == {}


def test_tim_roundtrip(spark, tmp_path):
    p = tmp_path / "obs.tim"
    p.write_text(TIM_TEXT)
    df = read_tim_df(spark, str(p))
    out = tmp_path / "out_tim"
    write_tim(df, str(out))
    back = read_tim_df(spark, str(out))
    a = {(r.name, r.imjd, round(r.fmjd, 12), r.err_us) for r in df.collect()}
    b = {(r.name, r.imjd, round(r.fmjd, 12), r.err_us) for r in back.collect()}
    assert a == b


def test_write_tim_fmjd_rounding_carries_into_imjd(spark, tmp_path):
    """fmjd within 5e-16 of 1.0 rounds up under 15-digit formatting — the
    overflow must carry into imjd, not corrupt the MJD token."""
    df = spark.createDataFrame(
        [("a.ar", 1283.0, 60000, 0.9999999999999999, 60000.9999999999999999, 0.5, "meerkat", None, "x")],
        "name string, freq_mhz double, imjd long, fmjd double, mjd double, "
        "err_us double, site string, flags map<string,string>, src_file string",
    )
    out = tmp_path / "carry_tim"
    write_tim(df, str(out))
    back = read_tim_df(spark, str(out)).collect()
    assert len(back) == 1
    assert back[0].imjd == 60001
    assert back[0].fmjd == pytest.approx(0.0, abs=1e-15)


# ---------------------------------------------------------------------------
# S9: FITS raster ingest → tsky lookup end-to-end (VERDICT r3 #5)
# ---------------------------------------------------------------------------

@pytest.fixture()
def chipass_file(tmp_path):
    """Synthetic CHIPASS-like raster: primary image HDU, BITPIX=-32,
    8×6 pixels, affine WCS cards, one NaN-blanked pixel at (1,1).
    value(ipix2, ipix1) = 3500 + 10*ipix2 + ipix1 (mK)."""
    import math

    n1, n2 = 8, 6
    hdr = (
        _card("SIMPLE", "T")
        + _card("BITPIX", "-32")
        + _card("NAXIS", "2")
        + _card("NAXIS1", str(n1))
        + _card("NAXIS2", str(n2))
        + _card("CRPIX1", "0.0")
        + _card("CDELT1", "0.2", "deg/pixel")
        + _card("CRVAL1", "0.0")
        + _card("CRPIX2", "0.0")
        + _card("CDELT2", "0.2")
        + _card("CRVAL2", "-25.0")
        + b"END".ljust(80)
    )
    vals = []
    for i2 in range(n2):
        for i1 in range(n1):
            vals.append(math.nan if (i1, i2) == (1, 1) else 3500.0 + 10 * i2 + i1)
    payload = b"".join(struct.pack(">f", v) for v in vals)
    p = tmp_path / "chipass.fits"
    p.write_bytes(_blank_pad(hdr) + _blank_pad(payload))
    return str(p)


def test_read_fits_raster_values_and_nan(spark, chipass_file):
    from meerpipe_spark.sources.fits import read_fits_raster

    df = read_fits_raster(spark, chipass_file, value_col="tsky_mk")
    assert df.count() == 48
    got = {(r.ipix1, r.ipix2): r.tsky_mk for r in df.collect()}
    assert got[(0, 0)] == 3500.0
    assert got[(7, 5)] == 3557.0
    # NaN blank arrives as NULL (Arrow NaN-as-null in the pandas hop);
    # the tsky lookup treats NULL == NaN == blanked
    assert got[(1, 1)] is None


def test_chipass_ingest_to_tsky_lookup_end_to_end(spark, chipass_file):
    """The full S9 path: FITS raster file → pixel table + WCS cards →
    tsky_lband_jy lookup with NaN-blank and out-of-bounds falling back
    to 3400 mK (fluxcal_meerkat.py:160-215)."""
    from pyspark.sql import Row

    from meerpipe_spark.operators.skymap import Wcs, tsky_lband_jy
    from meerpipe_spark.sources.fits import read_fits_raster, read_wcs_header

    raster = read_fits_raster(spark, chipass_file, value_col="tsky_mk").drop("path")
    wcs = Wcs(**read_wcs_header(open(chipass_file, "rb").read()))
    assert wcs.naxis1 == 8 and wcs.cdelt2 == 0.2 and wcs.crval2 == -25.0

    obs = spark.createDataFrame(
        [
            Row(obs_id=1, rajd=0.6, decjd=-24.6),   # pixel (3, 2) -> 3523 mK
            Row(obs_id=2, rajd=0.2, decjd=-24.8),   # pixel (1, 1) -> NaN -> 3400
            Row(obs_id=3, rajd=50.0, decjd=-24.8),  # x out of bounds -> 3400
        ]
    )
    out = {r.obs_id: r.tsky_jy for r in tsky_lband_jy(obs, raster, wcs).collect()}
    jy = lambda mk: 1.7202 * (mk - 3372.0) * (19.0 / 1000.0)  # noqa: E731
    assert out[1] == pytest.approx(jy(3523.0))
    assert out[2] == pytest.approx(jy(3400.0))
    assert out[3] == pytest.approx(jy(3400.0))


def test_fits_datasource_obsid_filter_pushdown(spark, tmp_path, archive_file):
    """Spark 4.1 Python DataSource filter pushdown: an obs_id equality
    must prune PARTITIONS (one file opened, not the directory), and the
    pruned scan must return exactly the single-file rows."""
    import shutil

    from meerpipe_spark.sources.fits_datasource import (
        FitsArchivePruningReader,
        FitsArchiveDataSource,
    )
    from pyspark.sql.datasource import EqualTo, GreaterThan

    path, cube, freqs, wts = archive_file
    d = tmp_path / "arch"
    d.mkdir()
    shutil.copy(path, d / "obsA.fits")
    shutil.copy(path, d / "obsB.fits")
    shutil.copy(path, d / "obsC.fits")

    # unit level: pushFilters prunes partitions and keeps the remainder
    rd = FitsArchivePruningReader({"path": str(d / "*.fits")})
    rest = list(rd.pushFilters([EqualTo(("obs_id",), "obsB"), GreaterThan(("chan",), 0)]))
    assert len(rest) == 1 and isinstance(rest[0], GreaterThan)
    parts = rd.partitions()
    assert len(parts) == 1 and parts[0].path.endswith("obsB.fits")

    # end to end: the query result equals the one-file slice
    spark.dataSource.register(FitsArchiveDataSource)
    prev = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    def load():
        # one load per query: the Python DS relation re-uses its planned
        # partitions across actions (see the reader() caveat), so a
        # pushdown-enabled DataFrame must not be shared across
        # differently filtered queries
        return (
            spark.read.format("fits_archive")
            .option("pushdown", "true")
            .load(str(d / "*.fits"))
        )

    try:
        got = load().filter("obs_id = 'obsB' AND chan > 0").count()
        assert got == 2 * 2 * 2 * 4  # nsub*npol*(nchan-1)*nbin of ONE file
        assert load().count() == 3 * 2 * 2 * 3 * 4
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", prev)


def test_fits_datasource_streaming_tail(spark, tmp_path, archive_file):
    """The streaming lane of the Python DataSource: one observation
    file per arrival, offsets over the sorted listing, exactly-once
    replay via readBetweenOffsets. Files landing between micro-batches
    are picked up; rows equal the batch parse of the same files."""
    import shutil

    from meerpipe_spark.sources.fits_datasource import FitsArchiveDataSource

    path, cube, freqs, wts = archive_file
    d = tmp_path / "arrivals"
    d.mkdir()
    shutil.copy(path, d / "obs1.fits")
    spark.dataSource.register(FitsArchiveDataSource)
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "stream_ckpt")
    q = (
        spark.readStream.format("fits_archive")
        .load(str(d / "*.fits"))
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        shutil.copy(path, d / "obs2.fits")
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    per_file = 2 * 2 * 3 * 4
    assert got.count() == 2 * per_file
    assert {r.obs_id for r in got.select("obs_id").distinct().collect()} == {"obs1", "obs2"}


@pytest.mark.slow
def test_fits_stream_drives_incremental_pipeline(spark, tmp_path, archive_file):
    """SURVEY §2.11 composed end to end: observation archives ARRIVE
    through the custom streaming source, each micro-batch runs a
    per-obs pipeline stage (off-pulse RMS per obs — the fluxcal shape)
    via foreachBatch with a processed-obs ledger, and re-delivering the
    whole directory on a second stream produces NO duplicate results
    (the reference's -unprocessed contract, now source-to-sink)."""
    import shutil

    from pyspark.sql import functions as F
    from meerpipe_spark.sources.fits_datasource import FitsArchiveDataSource

    path, cube, freqs, wts = archive_file
    d = tmp_path / "obs_in"
    d.mkdir()
    shutil.copy(path, d / "obsX.fits")
    shutil.copy(path, d / "obsY.fits")
    spark.dataSource.register(FitsArchiveDataSource)
    results_dir = str(tmp_path / "res")
    ledger_dir = str(tmp_path / "led")

    def process(batch, batch_id):
        s = batch.sparkSession
        try:
            seen = s.read.parquet(ledger_dir)
            fresh = batch.join(seen, "obs_id", "left_anti")
        except Exception:
            fresh = batch
        out = (
            fresh.filter(F.col("weight") > 0)
            .groupBy("obs_id")
            .agg(F.stddev_samp("value").alias("off_rms"), F.count(F.lit(1)).alias("n"))
        )
        out.write.mode("append").parquet(results_dir)
        out.select("obs_id").write.mode("append").parquet(ledger_dir)

    def run_once(ckpt):
        q = (
            spark.readStream.format("fits_archive")
            .load(str(d / "*.fits"))
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once(str(tmp_path / "ck1"))
    res1 = spark.read.parquet(results_dir)
    assert res1.count() == 2
    assert {r.obs_id for r in res1.collect()} == {"obsX", "obsY"}
    # second, FRESH stream over the same directory (new checkpoint =
    # full redelivery): the ledger anti-join must suppress everything
    run_once(str(tmp_path / "ck2"))
    res2 = spark.read.parquet(results_dir)
    assert res2.count() == 2
    # and a new arrival still lands
    shutil.copy(path, d / "obsZ.fits")
    run_once(str(tmp_path / "ck3"))
    assert spark.read.parquet(results_dir).count() == 3


def test_results_ledger_batch_writer(spark, tmp_path):
    """Two-phase commit: rows land as ndjson files + one manifest line;
    nothing half-written ever surfaces outside _staging."""
    import json

    from meerpipe_spark.sinks_datasource import ResultsLedgerDataSource

    spark.dataSource.register(ResultsLedgerDataSource)
    out = str(tmp_path / "ledger")
    df = spark.range(100).selectExpr("id AS obs_id", "CAST(id * 1.5 AS DOUBLE) AS snr")
    df.repartition(4).write.format("results_ledger").option("path", out).mode("append").save()
    import glob as g

    files = g.glob(out + "/task-*.ndjson")
    rows = []
    for f in files:
        rows += [json.loads(line) for line in open(f)]
    assert len(rows) == 100
    assert {r["obs_id"] for r in rows} == set(range(100))
    manifest = [json.loads(line) for line in open(out + "/_manifest.ndjson")]
    assert len(manifest) == 1 and manifest[0]["batch_id"] is None
    assert sum(e["rows"] for e in manifest[0]["files"]) == 100
    assert not g.glob(out + "/_staging/*")  # staging fully drained


def test_results_ledger_stream_writer_exactly_once(spark, tmp_path):
    """Streaming sink with batchId-stamped manifest: a REPLAYED
    micro-batch (same batchId through a fresh query over the same
    source+checkpoint-less redelivery) publishes nothing twice."""
    import glob as g
    import json

    from meerpipe_spark.sinks_datasource import ResultsLedgerDataSource

    spark.dataSource.register(ResultsLedgerDataSource)
    src = str(tmp_path / "src")
    df = spark.range(50).selectExpr("id AS obs_id", "CAST(id AS DOUBLE) AS snr")
    df.write.parquet(src)
    out = str(tmp_path / "ledger_s")

    def run(ck):
        q = (
            spark.readStream.schema("obs_id BIGINT, snr DOUBLE")
            .parquet(src)
            .writeStream.format("results_ledger")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(str(tmp_path / "ck1"))
    rows = []
    for f in g.glob(out + "/task-*.ndjson"):
        rows += [json.loads(line) for line in open(f)]
    assert len(rows) == 50
    # fresh checkpoint = the engine re-delivers batch 0; the manifest
    # already records batch_id 0, so the replay must publish nothing
    run(str(tmp_path / "ck2"))
    rows2 = []
    for f in g.glob(out + "/task-*.ndjson"):
        rows2 += [json.loads(line) for line in open(f)]
    assert len(rows2) == 50
    manifest = [json.loads(line) for line in open(out + "/_manifest.ndjson")]
    assert [m["batch_id"] for m in manifest] == [0]


def test_fits_datasource_equals_mapinpandas(spark, archive_file):
    """VERDICT r7 item 2: the Arrow-batch DataSource read must be
    row-for-row identical to the binaryFile+mapInPandas ingest path
    (read_archive_cube) on the same golden archive."""
    from meerpipe_spark.sources.fits import read_archive_cube
    from meerpipe_spark.sources.fits_datasource import FitsArchiveDataSource

    path, cube, freqs, wts = archive_file
    spark.dataSource.register(FitsArchiveDataSource)
    ds = spark.read.format("fits_archive").load(path)
    mp = read_archive_cube(spark, path)
    key = ["obs_id", "subint", "pol", "chan", "bin"]
    a = sorted(map(tuple, ds.collect()))
    b = sorted(map(tuple, mp.select(ds.columns).collect()))
    assert a == b
    assert ds.schema == mp.schema


def test_fits_datasource_multifile_partitions(spark, tmp_path, archive_file):
    """One input partition per archive file: a 3-file glob plans 3
    partitions and each obs_id's rows come back complete."""
    import shutil

    from meerpipe_spark.sources.fits_datasource import (
        FitsArchiveReader,
        FitsArchiveDataSource,
    )

    path, cube, freqs, wts = archive_file
    d = tmp_path / "many"
    d.mkdir()
    for name in ("a.fits", "b.fits", "c.fits"):
        shutil.copy(path, d / name)
    rd = FitsArchiveReader({"path": str(d / "*.fits")})
    assert len(rd.partitions()) == 3
    spark.dataSource.register(FitsArchiveDataSource)
    df = spark.read.format("fits_archive").load(str(d / "*.fits"))
    per_file = 2 * 2 * 3 * 4
    got = {r.obs_id: r.n for r in df.groupBy("obs_id").count().withColumnRenamed("count", "n").collect()}
    assert got == {"a": per_file, "b": per_file, "c": per_file}


def test_fits_stream_out_of_order_arrival(spark, tmp_path, archive_file):
    """ADVICE r7 (medium): a file that arrives LATE but sorts BEFORE
    already-consumed names must still be picked up exactly once — the
    offset is the explicit set of consumed paths, not a sorted-listing
    index."""
    import shutil

    from meerpipe_spark.sources.fits_datasource import FitsArchiveDataSource

    path, cube, freqs, wts = archive_file
    d = tmp_path / "ooo"
    d.mkdir()
    # consume zz first ...
    shutil.copy(path, d / "zz.fits")
    spark.dataSource.register(FitsArchiveDataSource)
    out = str(tmp_path / "ooo_out")
    ckpt = str(tmp_path / "ooo_ckpt")

    def run_once():
        q = (
            spark.readStream.format("fits_archive")
            .load(str(d / "*.fits"))
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    got1 = spark.read.parquet(out)
    assert {r.obs_id for r in got1.select("obs_id").distinct().collect()} == {"zz"}
    # ... then aa lands, sorting before zz: the index-offset design
    # would skip it and re-read zz; the set-offset design reads exactly aa
    shutil.copy(path, d / "aa.fits")
    run_once()
    got2 = spark.read.parquet(out)
    per_file = 2 * 2 * 3 * 4
    assert got2.count() == 2 * per_file
    counts = {r.obs_id: r.n for r in got2.groupBy("obs_id").count().withColumnRenamed("count", "n").collect()}
    assert counts == {"zz": per_file, "aa": per_file}


def test_ledger_manifest_is_sole_commit_point(spark, tmp_path):
    """ADVICE r7: manifest-first commit. A crash between the manifest
    append and the file renames leaves manifested-but-staged files;
    a replayed micro-batch (same batchId, new task UUIDs) must ROLL
    FORWARD the interrupted renames and discard the redelivery — no
    duplicates, no drops. resolve_manifest() heals the same state for
    readers."""
    import json
    import os

    from meerpipe_spark.sinks_datasource import (
        LedgerStreamWriter,
        _Staged,
        resolve_manifest,
    )

    out = str(tmp_path / "ledger_wal")
    staging = os.path.join(out, "_staging")
    os.makedirs(staging)
    # simulate the crash window: task file staged, manifest line written,
    # rename never happened
    staged_name = "task-deadbeef.ndjson"
    with open(os.path.join(staging, staged_name), "w") as fh:
        fh.write(json.dumps({"obs_id": 1, "snr": 2.5}) + "\n")
    with open(os.path.join(out, "_manifest.ndjson"), "w") as fh:
        fh.write(json.dumps({"batch_id": 7, "files": [{"file": staged_name, "rows": 1}]}) + "\n")

    # the engine redelivers batch 7 with a NEW task uuid
    w = LedgerStreamWriter({"path": out})
    redelivered = os.path.join(staging, "task-cafebabe.ndjson")
    with open(redelivered, "w") as fh:
        fh.write(json.dumps({"obs_id": 1, "snr": 2.5}) + "\n")
    w.commit([_Staged(redelivered, 1)], 7)

    # rolled forward: the ORIGINAL file is published, the redelivery gone
    assert os.path.exists(os.path.join(out, staged_name))
    assert not os.path.exists(redelivered)
    files = resolve_manifest(out)
    assert files == [os.path.join(out, staged_name)]
    rows = [json.loads(line) for f in files for line in open(f)]
    assert rows == [{"obs_id": 1, "snr": 2.5}]


def test_ledger_manifest_tolerates_torn_line(tmp_path):
    """A crash mid-append can tear the final manifest line; parsing
    must treat it as uncommitted, not explode."""
    import json
    import os

    from meerpipe_spark.sinks_datasource import _batch_entry, resolve_manifest

    out = str(tmp_path / "ledger_torn")
    os.makedirs(out)
    with open(os.path.join(out, "_manifest.ndjson"), "w") as fh:
        fh.write(json.dumps({"batch_id": 1, "files": []}) + "\n")
        fh.write('{"batch_id": 2, "files": [{"fi')  # torn
    assert _batch_entry(out, 1) is not None
    assert _batch_entry(out, 2) is None
    assert resolve_manifest(out) == []


def test_ledger_time_travel_read(spark, tmp_path):
    """resolve_manifest(as_of_batch=N) / read_ledger: the append-only
    manifest makes every post-batch snapshot addressable — batch-level
    time travel over the streaming ledger."""
    import json
    import os

    from meerpipe_spark.sinks_datasource import (
        LedgerStreamWriter,
        _Staged,
        read_ledger,
        resolve_manifest,
    )

    out = str(tmp_path / "ledger_tt")
    staging = os.path.join(out, "_staging")
    os.makedirs(staging)
    w = LedgerStreamWriter({"path": out})
    for bid, obs in [(0, [1, 2]), (1, [3]), (2, [4, 5])]:
        p = os.path.join(staging, f"task-b{bid}.ndjson")
        with open(p, "w") as fh:
            for o in obs:
                fh.write(json.dumps({"obs_id": o, "batch": bid}) + "\n")
        w.commit([_Staged(p, len(obs))], bid)

    assert len(resolve_manifest(out)) == 3
    assert len(resolve_manifest(out, as_of_batch=0)) == 1
    assert read_ledger(spark, out, as_of_batch=0).count() == 2
    assert read_ledger(spark, out, as_of_batch=1).count() == 3
    assert read_ledger(spark, out).count() == 5
    assert {r.obs_id for r in read_ledger(spark, out, as_of_batch=1).collect()} == {1, 2, 3}
    # empty snapshot: batch -1 predates everything
    assert read_ledger(spark, out, as_of_batch=-1).count() == 0


def test_fits_stream_rate_limit(spark, tmp_path, archive_file):
    """max_files_per_trigger: a 3-file backlog drains as 3 bounded
    micro-batches (one file each), not one catch-up batch; nothing
    dropped or duplicated."""
    import shutil

    from meerpipe_spark.sources.fits_datasource import FitsArchiveDataSource

    path, cube, freqs, wts = archive_file
    d = tmp_path / "backlog"
    d.mkdir()
    for name in ("a.fits", "b.fits", "c.fits"):
        shutil.copy(path, d / name)
    spark.dataSource.register(FitsArchiveDataSource)
    batches = []

    def record(batch, batch_id):
        rows = batch.collect()
        batches.append((batch_id, len(rows), {r.obs_id for r in rows}))

    # NOTE: availableNow snapshots ONE latestOffset at start, so a
    # rate-limited source would stop after the first admitted slice;
    # rate limiting pairs with a processingTime trigger (documented on
    # the reader).
    q = (
        spark.readStream.format("fits_archive")
        .option("max_files_per_trigger", "1")
        .load(str(d / "*.fits"))
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "rl_ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    per_file = 2 * 2 * 3 * 4
    t0 = time.time()
    while time.time() - t0 < 30 and sum(n for _, n, _ in batches) < 3 * per_file:
        time.sleep(0.5)
    q.stop()
    nonempty = [b for b in batches if b[1] > 0]
    assert len(nonempty) == 3  # one file per micro-batch
    assert all(n == per_file and len(obs) == 1 for _, n, obs in nonempty)
    assert set().union(*(obs for _, _, obs in nonempty)) == {"a", "b", "c"}


def test_fits_stream_reader_restart_offsets_exactly_once(tmp_path, archive_file):
    """ADVICE r8 (medium): with max_files_per_trigger, restart safety
    cannot rely on commit() reaching the fresh reader before its first
    latestOffset() (observed engine behavior: latestOffset precedes
    even initialOffset). The reader's offset chain restarts below the
    committed files, partitions() folds every engine offset into the
    never-readmit set, and no committed file ever re-enters a later
    end offset — so emissions stay exactly-once while the cap stays
    active in every state."""
    import shutil

    from meerpipe_spark.sources.fits_datasource import FitsArchiveStreamReader

    path = archive_file[0]
    d = tmp_path / "mono"
    d.mkdir()
    for n in ("a.fits", "b.fits", "c.fits"):
        shutil.copy(path, d / n)
    opts = {"path": str(d / "*.fits"), "max_files_per_trigger": "1"}

    r1 = FitsArchiveStreamReader(opts)
    # engine order on a fresh stream: latestOffset FIRST, then initialOffset
    o1 = r1.latestOffset()
    start = r1.initialOffset()
    assert len(o1["seen"]) == 1  # capped from the very first batch
    emitted = [p.path for p in r1.partitions(start, o1)]
    o2 = r1.latestOffset()
    assert len(o2["seen"]) == 2
    emitted += [p.path for p in r1.partitions(o1, o2)]
    r1.commit(o2)  # a, b committed in the checkpoint

    # restart, committed case: the engine's first call on the fresh
    # reader is latestOffset() — the checkpoint is revealed only via
    # the subsequent partitions(committed_end, new_latest)
    r2 = FitsArchiveStreamReader(opts)
    o3 = r2.latestOffset()
    assert len(o3["seen"]) <= 1  # cap still active after restart
    emitted += [p.path for p in r2.partitions(o2, o3)]
    o4 = r2.latestOffset()
    assert set(o3["seen"]) <= set(o4["seen"])  # chain monotone from its head
    emitted += [p.path for p in r2.partitions(o3, o4)]
    # late arrivals keep draining capped, still no re-emission
    shutil.copy(path, d / "d.fits")
    shutil.copy(path, d / "e.fits")
    prev = o4
    for _ in range(4):
        nxt = r2.latestOffset()
        assert set(prev["seen"]) <= set(nxt["seen"])
        assert len(set(nxt["seen"]) - set(prev["seen"])) <= 1  # capped
        emitted += [p.path for p in r2.partitions(prev, nxt)]
        prev = nxt
    # every file exactly once across the restart — no dup, no drop
    assert sorted(emitted) == sorted(str(d / n) for n in
                                     ("a.fits", "b.fits", "c.fits", "d.fits", "e.fits"))


@pytest.mark.slow
def test_fits_stream_rate_limit_restart_no_duplicates(spark, tmp_path, archive_file):
    """ADVICE r8 (medium), end to end: stop/restart a rate-limited query
    against a backlog — every file exactly once across the restart."""
    import shutil
    import time

    from meerpipe_spark.sources.fits_datasource import FitsArchiveDataSource

    path = archive_file[0]
    d = tmp_path / "rl_restart"
    d.mkdir()
    for n in ("a.fits", "b.fits"):
        shutil.copy(path, d / n)
    spark.dataSource.register(FitsArchiveDataSource)
    out = str(tmp_path / "rlr_out")
    ckpt = str(tmp_path / "rlr_ckpt")
    per_file = 2 * 2 * 3 * 4

    def run_until(n_rows, timeout=60):
        q = (
            spark.readStream.format("fits_archive")
            .option("max_files_per_trigger", "1")
            .load(str(d / "*.fits"))
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(processingTime="1 second")
            .start()
        )
        t0 = time.time()
        try:
            while time.time() - t0 < timeout:
                try:
                    if spark.read.parquet(out).count() >= n_rows:
                        break
                except Exception:
                    pass
                time.sleep(0.5)
        finally:
            q.stop()

    run_until(2 * per_file)
    assert spark.read.parquet(out).count() == 2 * per_file
    shutil.copy(path, d / "c.fits")
    shutil.copy(path, d / "dd.fits")
    run_until(4 * per_file)
    got = spark.read.parquet(out)
    assert got.count() == 4 * per_file  # zero duplicates across restart
    counts = {
        r["obs_id"]: r["n"]
        for r in got.groupBy("obs_id").count().withColumnRenamed("count", "n").collect()
    }
    assert counts == {"a": per_file, "b": per_file, "c": per_file, "dd": per_file}
