"""Z-order layout tests: Morton key bit correctness and the actual
data-skipping property — per-file min/max spans on BOTH dimensions are
narrow under Z-order clustering, vs full-width on the unsorted dimension
under a linear sort."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import Row, functions as F

from meerpipe_spark.io import morton_key, write_zordered


def test_morton_key_bit_exact(spark):
    df = spark.createDataFrame([Row(a=3, b=1), Row(a=0, b=0), Row(a=255, b=0)])
    got = [
        r.z for r in df.select(morton_key(F.col("a"), F.col("b")).alias("z"))
        .orderBy("a").collect()
    ]
    # a bits land on even positions, b bits on odd:
    # (0,0) -> 0; (3,1) -> 0b101 | 0b010 = 7; (255,0) -> 0b0101010101010101
    assert got == [0, 7, 0b0101010101010101]


def _file_spans(spark, path, col):
    spans = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        row = spark.read.parquet(f).agg(
            F.min(col).alias("lo"), F.max(col).alias("hi")
        ).collect()[0]
        spans.append(row.hi - row.lo)
    return spans


@pytest.mark.slow
def test_zorder_narrows_both_dimensions(spark, tmp_path):
    import random

    rng = random.Random(11)
    rows = [Row(x=rng.randrange(256), y=rng.randrange(256)) for _ in range(20000)]
    df = spark.createDataFrame(rows)

    lin = str(tmp_path / "linear")
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(lin)
    )
    zo = str(tmp_path / "zorder")
    write_zordered(df, zo, morton_key(F.col("x"), F.col("y"), bits=8), num_files=16)

    lin_y = _file_spans(spark, lin, "y")
    z_x = _file_spans(spark, zo, "x")
    z_y = _file_spans(spark, zo, "y")

    # linear sort on x leaves y full-width in every file
    assert min(lin_y) > 200
    # z-order tiles: 16 files over a 16-bit key ~ 64x64 tiles; both
    # dimensions stay far below full width in a typical file
    assert sorted(z_x)[len(z_x) // 2] < 128
    assert sorted(z_y)[len(z_y) // 2] < 128
    # so a range predicate on y prunes most files by parquet min/max
    # stats under z-order and none under the linear layout


# --- Hilbert curve (round 5, wave 4) ----------------------------------------

def _hilbert_ref(x, y, bits):
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_bijective_and_unit_step_adjacent(spark):
    from pyspark.sql import Row
    from meerpipe_spark.io import hilbert_key_steps
    from pyspark.sql import functions as F

    cells = [Row(x=x, y=y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(cells)
    out = hilbert_key_steps(df, F.col("x"), F.col("y"), bits=3).collect()
    bykey = {r.hkey: (r.x, r.y) for r in out}
    assert sorted(bykey) == list(range(64))  # bijection onto 0..63
    # the Hilbert property Z-order lacks: consecutive keys are ALWAYS
    # Manhattan-distance-1 neighbors (no jumps anywhere on the curve)
    for d in range(63):
        (x1, y1), (x2, y2) = bykey[d], bykey[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, bykey[d], bykey[d + 1])


def test_hilbert_matches_reference_walk(spark):
    from pyspark.sql import Row
    from meerpipe_spark.io import hilbert_key_steps
    from pyspark.sql import functions as F

    pts = [Row(x=(i * 2654435761) % 65536, y=(i * 40503) % 65536) for i in range(500)]
    df = spark.createDataFrame(pts)
    out = hilbert_key_steps(df, F.col("x"), F.col("y"), bits=16).collect()
    for r in out:
        assert r.hkey == _hilbert_ref(r.x, r.y, 16)


def test_hilbert_tiles_tighter_than_morton(spark):
    # partition 4096 grid cells into 16 contiguous key ranges; the max
    # per-tile bounding-box area must be no worse than Z-order's
    from pyspark.sql import Row
    from pyspark.sql import functions as F
    from meerpipe_spark.io import hilbert_key_steps, morton_key

    cells = [Row(x=x, y=y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(cells)
    h = hilbert_key_steps(df, F.col("x"), F.col("y"), bits=6).collect()
    m = df.select("x", "y", morton_key(F.col("x"), F.col("y"), bits=6).alias("hkey")).collect()

    def max_tile_area(rows):
        rows = sorted(rows, key=lambda r: r.hkey)
        worst = 0
        for t in range(16):
            tile = rows[t * 256:(t + 1) * 256]
            xs = [r.x for r in tile]; ys = [r.y for r in tile]
            worst = max(worst, (max(xs) - min(xs) + 1) * (max(ys) - min(ys) + 1))
        return worst

    assert max_tile_area(h) <= max_tile_area(m)


# --- compaction (round 5, wave 4) -------------------------------------------

def test_compact_table_hits_target_file_count_and_preserves_rows(spark, tmp_path):
    from pyspark.sql import Row
    from meerpipe_spark.io import compact_table

    src = str(tmp_path / "small_files")
    out = str(tmp_path / "compacted")
    df = spark.createDataFrame([Row(k=i, v=f"value-{i}" * 20) for i in range(20000)])
    # simulate a micro-batch sink: 64 tiny files
    df.repartition(64).write.parquet(src)
    import glob
    assert len(glob.glob(f"{src}/*.parquet")) == 64
    n = compact_table(spark, src, out, target_file_mb=1)
    files = glob.glob(f"{out}/*.parquet")
    assert len(files) == n <= 8  # ~a couple MB of data -> a few 1MB files
    back = spark.read.parquet(out)
    assert back.count() == 20000
    assert back.exceptAll(df).count() == 0


def test_compact_table_resort_restores_clustering(spark, tmp_path):
    from pyspark.sql import Row, functions as F
    from meerpipe_spark.io import compact_table

    src = str(tmp_path / "scattered")
    out = str(tmp_path / "clustered")
    df = spark.createDataFrame([Row(k=(i * 7919) % 20000, v="x" * 50) for i in range(20000)])
    df.repartition(32).write.parquet(src)
    compact_table(spark, src, out, target_file_mb=1, sort_within_by=["k"])
    # per-file k-ranges must be disjoint-ish after range repartition:
    # total span of per-file (max-min) << file_count * full_range
    import glob
    spans = []
    for f in glob.glob(f"{out}/*.parquet"):
        stats = spark.read.parquet(f).agg(F.min("k"), F.max("k")).head()
        spans.append(stats[1] - stats[0])
    assert sum(spans) < 1.5 * 20000  # near-disjoint ranges, not 64x overlap
