"""Packed int64 micro-degree coordinate codec (pack_coords_col ->
assign_tzid_udf_packed's decode_xy), checked exhaustively on the 0.01-deg
grids the oracle queries assign, and the JVM-side decode
(snapped_coords_cols) checked bit-identical to the UDF's."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from timezone_boundary_builder_spark.operators.spatial_join import (
    decode_xy,
    pack_coords_col,
    snapped_coords_cols,
)


def _through_codec(df):
    """df(lon, lat) -> (raw lon, raw lat, UDF-decoded lon, lat,
    JVM-decoded lon, lat) as numpy arrays."""
    snap_lon, snap_lat = snapped_coords_cols()
    pdf = df.select(
        "lon",
        "lat",
        pack_coords_col(),
        snap_lon.alias("snap_lon"),
        snap_lat.alias("snap_lat"),
    ).toPandas()
    lon, lat = decode_xy(pdf["xy"].to_numpy(dtype=np.int64))
    return (
        pdf["lon"].to_numpy(),
        pdf["lat"].to_numpy(),
        lon,
        lat,
        pdf["snap_lon"].to_numpy(),
        pdf["snap_lat"].to_numpy(),
    )


def test_codec_round_trips_the_oracle_grid(spark):
    """Every lon of the oracle queries' _points grid (k/100 - 180, 36,000
    values) decodes back bit-exactly, as does every lat on the codec's own
    grid (k/100 - 90, 18,001 values). The _points lat grid (k/100 - 85,
    17,000 values) has another offset than the codec's 90: its values
    decode to within one ulp of 90.0 (1.4e-14 deg), not all bit-exactly,
    and the DuckDB oracle gate checks that the assignments still match."""
    k = F.col("id")
    grid = spark.range(36_000).select(
        (k / 100.0 - 180.0).alias("lon"), (k % 18_001 / 100.0 - 90.0).alias("lat")
    )
    raw_lon, raw_lat, lon, lat, jvm_lon, jvm_lat = _through_codec(grid)
    np.testing.assert_array_equal(raw_lon, np.arange(36_000) / 100.0 - 180.0)
    assert len(set(raw_lat)) == 18_001
    np.testing.assert_array_equal(lon, raw_lon)
    np.testing.assert_array_equal(lat, raw_lat)
    np.testing.assert_array_equal(jvm_lon, lon)
    np.testing.assert_array_equal(jvm_lat, lat)

    points_lat = spark.range(17_000).select(
        F.lit(0.0).alias("lon"), (k / 100.0 - 85.0).alias("lat")
    )
    _, raw_lat, _, lat, _, jvm_lat = _through_codec(points_lat)
    np.testing.assert_array_equal(raw_lat, np.arange(17_000) / 100.0 - 85.0)
    assert np.abs(lat - raw_lat).max() <= np.spacing(90.0)
    np.testing.assert_array_equal(jvm_lat, lat)


def test_jvm_decode_equals_udf_decode_off_grid(spark):
    """Off-grid doubles (both hemispheres, the range ends, an off-grid
    page next to a zone edge): the snap moves a point by at most half a
    micro-degree, and snapped_coords_cols reproduces the UDF's decode
    bit-for-bit, so the sharded stage 2 and the packed UDF see the same
    point."""
    rng = np.random.default_rng(5)
    lon = np.concatenate([rng.uniform(-180, 180, 5000), [-180.0, 180.0, 29.9999996]])
    lat = np.concatenate([rng.uniform(-90, 90, 5000), [-90.0, 90.0, 17.6234567]])
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    raw_lon, raw_lat, ulon, ulat, jlon, jlat = _through_codec(df)
    np.testing.assert_array_equal(jlon, ulon)
    np.testing.assert_array_equal(jlat, ulat)
    assert np.abs(ulon - raw_lon).max() <= 5e-7 + 1e-12
    assert np.abs(ulat - raw_lat).max() <= 5e-7 + 1e-12
    assert ulon[-1] == 30.0  # onto the Alpha|Bravo edge
