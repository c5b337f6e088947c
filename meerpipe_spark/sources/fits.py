"""FITS source: header-card scan and binary-table scan over the public
FITS format (2880-byte blocks of 80-char cards; BINTABLE extensions
described by TTYPE*/TFORM* cards, big-endian payload).

Reference behavior: meerpipe/dlyfix_fits.py:75-131 (header scan S1),
:133-214 (binary-table scan S2) — reimplemented from the FITS standard,
not ported: ingest is ``spark.read.format("binaryFile")`` fanning out one
file per task + an Arrow-batched ``mapInPandas`` parser. At scale the
binaryFile source parallelizes per file (archives are ~MBs each, many
thousands per day), so the parse is embarrassingly parallel and lands
directly in long-form Parquet partitioned by obs_id.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, types as T

BLOCK = 2880
CARD = 80

# TFORM type code -> (struct format char, byte width); FITS is big-endian.
_TFORM_FMT = {
    "L": ("?", 1), "B": ("B", 1), "I": ("h", 2), "J": ("i", 4),
    "K": ("q", 8), "E": ("f", 4), "D": ("d", 8), "A": ("s", 1),
}

HEADER_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("hdu", T.IntegerType()),
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("comment", T.StringType()),
        T.StructField("card_order", T.IntegerType()),
    ]
)


def _parse_card(card: bytes) -> tuple[str, str | None, str | None]:
    text = card.decode("ascii", errors="replace")
    key = text[:8].strip()
    if not key or text[8:10] != "= ":
        # COMMENT / HISTORY / blank cards carry no value indicator
        return key, None, None
    body = text[10:]
    if body.lstrip().startswith("'"):
        # quoted string value; '' escapes a quote
        s = body.lstrip()[1:]
        out, i = [], 0
        while i < len(s):
            if s[i] == "'":
                if i + 1 < len(s) and s[i + 1] == "'":
                    out.append("'")
                    i += 2
                    continue
                break
            out.append(s[i])
            i += 1
        rest = s[i + 1:]
        comment = rest.split("/", 1)[1].strip() if "/" in rest else None
        return key, "".join(out).rstrip(), comment
    val, _, comment = body.partition("/")
    return key, val.strip(), comment.strip() or None


def _iter_headers(data: bytes):
    """Yield (hdu_index, cards, data_start, data_len) for each HDU."""
    pos, hdu = 0, 0
    while pos + BLOCK <= len(data):
        cards = []
        end_seen = False
        start = pos
        while pos + BLOCK <= len(data) and not end_seen:
            block = data[pos:pos + BLOCK]
            pos += BLOCK
            for ci in range(0, BLOCK, CARD):
                card = block[ci:ci + CARD]
                if card[:3] == b"END":
                    end_seen = True
                    break
                cards.append(card)
        if not end_seen:
            return
        hdr = dict(
            (k, v) for k, v, _ in (_parse_card(c) for c in cards) if v is not None
        )
        bitpix = abs(int(hdr.get("BITPIX", "8")))
        naxes = int(hdr.get("NAXIS", "0"))
        nelem = 1
        for ax in range(1, naxes + 1):
            nelem *= int(hdr.get(f"NAXIS{ax}", "0"))
        # FITS §4.4.1: data size = |BITPIX|/8 × GCOUNT × (PCOUNT + Πnaxis)
        # — PCOUNT rides INSIDE the GCOUNT factor (heap bytes per group),
        # not as a flat add-on
        gcount = int(hdr.get("GCOUNT", "1"))
        pcount = int(hdr.get("PCOUNT", "0"))
        data_len = (bitpix // 8) * gcount * (pcount + nelem) if naxes else 0
        padded = ((data_len + BLOCK - 1) // BLOCK) * BLOCK
        yield hdu, cards, pos, data_len
        pos += padded
        hdu += 1


def read_fits_headers(spark: SparkSession, path_glob: str) -> DataFrame:
    """S1: all header cards of all HDUs as (path, hdu, key, value,
    comment, card_order) rows."""
    binary = spark.read.format("binaryFile").load(path_glob)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                for hdu, cards, _, _ in _iter_headers(bytes(content)):
                    for order, card in enumerate(cards):
                        key, value, comment = _parse_card(card)
                        if key:
                            rows.append((path, hdu, key, value, comment, order))
            yield pd.DataFrame(
                rows, columns=["path", "hdu", "key", "value", "comment", "card_order"]
            )

    return binary.select("path", "content").mapInPandas(parse, HEADER_SCHEMA)


def parse_bintable(data: bytes, hdu_index: int) -> pd.DataFrame:
    """S2: decode a BINTABLE HDU into a pandas frame using its
    TTYPE/TFORM column specs (schema-on-read). Driver-side helper for
    small tables; wrap in mapInPandas for fleet-scale ingest."""
    for hdu, cards, data_start, data_len in _iter_headers(data):
        if hdu != hdu_index:
            continue
        hdr = dict((k, v) for k, v, _ in (_parse_card(c) for c in cards) if v is not None)
        if hdr.get("XTENSION", "").strip() != "BINTABLE":
            raise ValueError(f"HDU {hdu_index} is not a BINTABLE")
        nfields = int(hdr["TFIELDS"])
        naxis1 = int(hdr["NAXIS1"])
        nrows = int(hdr["NAXIS2"])
        names, fmts, widths, repeats = [], [], [], []
        for i in range(1, nfields + 1):
            names.append(hdr.get(f"TTYPE{i}", f"col{i}").strip())
            tform = hdr[f"TFORM{i}"].strip()
            rep = int(tform[:-1]) if tform[:-1].isdigit() else 1
            code = tform[-1]
            fmt, width = _TFORM_FMT[code]
            fmts.append((code, fmt))
            widths.append(width * rep)
            repeats.append(rep)
        payload = data[data_start:data_start + data_len]
        rows = []
        for r in range(nrows):
            off = r * naxis1
            vals = []
            for (code, fmt), w, rep in zip(fmts, widths, repeats):
                chunk = payload[off:off + w]
                off += w
                if code == "A":
                    vals.append(chunk.decode("ascii", errors="replace").rstrip())
                elif rep == 1:
                    vals.append(struct.unpack(">" + fmt, chunk)[0])
                else:
                    vals.append(list(struct.unpack(f">{rep}{fmt}", chunk)))
            rows.append(vals)
        return pd.DataFrame(rows, columns=names)
    raise ValueError(f"HDU {hdu_index} not found")


# ---------------------------------------------------------------------------
# S3: PSRFITS-like archive → long-form cube ingest
# ---------------------------------------------------------------------------

CUBE_SCHEMA = T.StructType(
    [
        T.StructField("obs_id", T.StringType()),
        T.StructField("subint", T.IntegerType()),
        T.StructField("pol", T.IntegerType()),
        T.StructField("chan", T.IntegerType()),
        T.StructField("bin", T.IntegerType()),
        T.StructField("freq", T.DoubleType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("weight", T.DoubleType()),
    ]
)


def _obs_id_of(path: str) -> str:
    """An archive's obs_id: its file stem."""
    return path.rsplit("/", 1)[-1].rsplit(".", 1)[0]


def archive_columns(data: bytes, hdu_index: int) -> dict[str, np.ndarray] | None:
    """Parse one archive's bytes into the cube's columns (every
    ``CUBE_SCHEMA`` column but obs_id) as numpy arrays; None when the
    HDU is missing or holds no subint.

    Vectorized end to end: the (npol, nchan, nbin) cube of each subint
    becomes index grids + ravels, concatenated per file. No per-cell
    Python loop anywhere.
    """
    hdr = None
    for hdu, cards, _, _ in _iter_headers(data):
        if hdu == hdu_index:
            hdr = dict(
                (k, v) for k, v, _c in (_parse_card(c) for c in cards) if v is not None
            )
            break
    if hdr is None:
        return None
    npol, nchan, nbin = int(hdr["NPOL"]), int(hdr["NCHAN"]), int(hdr["NBIN"])
    table = parse_bintable(data, hdu_index)

    pol_idx, chan_idx, bin_idx = np.indices((npol, nchan, nbin))
    pol_r = pol_idx.ravel().astype(np.int32)
    chan_r = chan_idx.ravel().astype(np.int32)
    bin_r = bin_idx.ravel().astype(np.int32)

    cols = {k: [] for k in ("subint", "pol", "chan", "bin", "freq", "value", "weight")}
    for subint, row in table.iterrows():
        freqs = np.asarray(row["DAT_FREQ"], dtype=np.float64)
        wts = np.asarray(row["DAT_WTS"], dtype=np.float64)
        vals = np.asarray(row["DATA"], dtype=np.float64).reshape(npol, nchan, nbin)
        cols["subint"].append(np.full(pol_r.shape, int(subint), dtype=np.int32))
        cols["pol"].append(pol_r)
        cols["chan"].append(chan_r)
        cols["bin"].append(bin_r)
        cols["freq"].append(freqs[chan_r])
        cols["value"].append(vals.ravel())
        cols["weight"].append(wts[chan_r])
    if not cols["subint"]:
        return None
    return {k: np.concatenate(v) for k, v in cols.items()}


def read_archive_cube(
    spark: SparkSession,
    path_glob: str,
    hdu_index: int = 1,
) -> DataFrame:
    """S3: ingest PSRFITS-like archives into the long-form cube (D1).

    Contract of the SUBINT-style BINTABLE (subset of the PSRFITS
    standard): per-row columns ``DAT_FREQ`` (nchan doubles), ``DAT_WTS``
    (nchan floats/doubles), ``DATA`` (npol·nchan·nbin values, pol-major),
    with ``NPOL``/``NCHAN``/``NBIN`` header cards. One BINTABLE row = one
    subint. The obs_id is the file stem.

    Runs as binaryFile + mapInPandas: one task per archive file, Arrow
    batches out — at fleet scale the per-file parse is embarrassingly
    parallel and the result lands directly in obs_id-partitioned parquet
    (sinks.write_cube). The parse is ``archive_columns``, shared with
    the ``fits_archive`` DataSource.
    """
    binary = spark.read.format("binaryFile").load(path_glob)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                cols = archive_columns(bytes(content), hdu_index)
                if cols is not None:
                    yield pd.DataFrame({"obs_id": _obs_id_of(path), **cols})

    return binary.select("path", "content").mapInPandas(parse, CUBE_SCHEMA)


# ---------------------------------------------------------------------------
# S9: FITS image (raster) HDU → long-form pixel table
# ---------------------------------------------------------------------------

RASTER_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("ipix1", T.LongType()),
        T.StructField("ipix2", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)

# BITPIX -> numpy big-endian dtype (FITS standard).
_BITPIX_DTYPE = {8: ">u1", 16: ">i2", 32: ">i4", 64: ">i8", -32: ">f4", -64: ">f8"}


def read_wcs_header(data: bytes, hdu_index: int = 0) -> dict[str, float]:
    """The affine WCS constants of an image HDU (NAXIS/CRPIX/CDELT/CRVAL
    pairs — exactly the cards fluxcal_meerkat.py:170-178 reads). Returns
    a dict suitable for ``skymap.Wcs(**wcs)``."""
    for hdu, cards, _, _ in _iter_headers(data):
        if hdu != hdu_index:
            continue
        hdr = dict((k, v) for k, v, _c in (_parse_card(c) for c in cards) if v is not None)
        return {
            "naxis1": int(hdr["NAXIS1"]),
            "crpix1": float(hdr.get("CRPIX1", "0")),
            "cdelt1": float(hdr.get("CDELT1", "1")),
            "crval1": float(hdr.get("CRVAL1", "0")),
            "naxis2": int(hdr["NAXIS2"]),
            "crpix2": float(hdr.get("CRPIX2", "0")),
            "cdelt2": float(hdr.get("CDELT2", "1")),
            "crval2": float(hdr.get("CRVAL2", "0")),
        }
    raise ValueError(f"HDU {hdu_index} not found")


def parse_image_hdu(data: bytes, hdu_index: int = 0):
    """Decode a 2-D image HDU into a float64 numpy array of shape
    (naxis2, naxis1) — ``data[ipix2, ipix1]`` indexing, matching the
    reference's ``hdul[0].data`` access (fluxcal_meerkat.py:165,210).
    BSCALE/BZERO applied; NaN blanks preserved (the 3400 mK fallback is
    the LOOKUP's job — skymap.tsky_lband_jy — so the stored table stays
    a faithful copy of the survey)."""
    for hdu, cards, data_start, data_len in _iter_headers(data):
        if hdu != hdu_index:
            continue
        hdr = dict((k, v) for k, v, _c in (_parse_card(c) for c in cards) if v is not None)
        bitpix = int(hdr["BITPIX"])
        n1 = int(hdr["NAXIS1"])
        n2 = int(hdr["NAXIS2"])
        raw = np.frombuffer(
            data[data_start:data_start + data_len], dtype=_BITPIX_DTYPE[bitpix]
        ).astype(np.float64)
        arr = raw.reshape(n2, n1)  # NAXIS1 is the fast axis (FITS row-major)
        bscale = float(hdr.get("BSCALE", "1"))
        bzero = float(hdr.get("BZERO", "0"))
        if bscale != 1.0 or bzero != 0.0:
            arr = arr * bscale + bzero
        return arr
    raise ValueError(f"HDU {hdu_index} not found")


def read_fits_raster(
    spark: SparkSession,
    path_glob: str,
    hdu_index: int = 0,
    value_col: str = "value",
) -> DataFrame:
    """S9 ingest: FITS image HDU(s) → long-form (path, ipix1, ipix2,
    value) pixel table — the one-time converter that builds the raster
    parquet ``skymap.tsky_lband_jy`` joins against
    (fluxcal_meerkat.py:160-215: CHIPASS continuum survey, 0.2°/pixel).

    binaryFile + mapInPandas: one task per file (a survey raster is a
    few MB; ingest of a raster *library* parallelizes per file). The
    emitted table is the broadcast side of every downstream lookup, so
    layout needs no partitioning discipline — write once, broadcast
    forever.

    NaN blanks surface as SQL NULL (Arrow treats NaN as the null
    sentinel in the pandas→Spark hop) — ``skymap.tsky_lband_jy`` treats
    NULL and NaN identically (default fallback), so the semantics of the
    reference's blanked pixels are preserved either way.
    """
    binary = spark.read.format("binaryFile").load(path_glob)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                arr = parse_image_hdu(bytes(content), hdu_index)
                n2, n1 = arr.shape
                i2, i1 = np.indices((n2, n1))
                yield pd.DataFrame(
                    {
                        "path": path,
                        "ipix1": i1.ravel().astype("int64"),
                        "ipix2": i2.ravel().astype("int64"),
                        "value": arr.ravel(),
                    }
                )

    out = binary.select("path", "content").mapInPandas(parse, RASTER_SCHEMA)
    return out.withColumnRenamed("value", value_col) if value_col != "value" else out
