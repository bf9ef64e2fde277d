"""S4 GeoParquet sink, S5 loaders, S6 AOI sources."""

import datetime
import json

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gedixr_spark.geo import st_point
from gedixr_spark.operators.joins import MergeError
from gedixr_spark.sinks.geoparquet import output_name, write_geoparquet
from gedixr_spark.sources.shots import load_shots, read_shots
from gedixr_spark.sources.vector import aoi_from_geojson, aoi_from_wkt, prepare_vec


def test_output_name_encodes_product_filter_aoi():
    now = datetime.datetime(2024, 1, 2, 3, 4, 5)
    # reference naming {now}_{product}_{flt}[_{aoi}] (extract.py:197-214)
    assert output_name("L2B", True, now=now) == "20240102T030405_L2B_QF"
    assert output_name("L2A", False, aoi="area1", now=now) == "20240102T030405_L2A_NF_area1"


def test_write_geoparquet_stamps_geo_metadata(spark, tmp_path):
    df = spark.createDataFrame(
        [("s1", 1.0, 2.0)], ["shot", "longitude", "latitude"]
    ).withColumn("geometry", st_point(F.col("longitude"), F.col("latitude")))
    out = tmp_path / "gp"
    write_geoparquet(df, out)
    files = list(out.rglob("*.parquet"))
    assert files
    meta = pq.read_table(files[0]).schema.metadata
    geo = json.loads(meta[b"geo"])
    assert geo["primary_column"] == "geometry"
    assert geo["columns"]["geometry"]["encoding"] == "WKB"
    # geometry readable back as WKB binary
    back = spark.read.parquet(str(out))
    assert dict(back.dtypes)["geometry"] == "binary"
    # full round trip: read_shots decodes WKB back to struct<x,y>
    rt = read_shots(spark, str(out))
    assert dict(rt.dtypes)["geometry"].startswith("struct")
    g = rt.first()["geometry"]
    assert (g["x"], g["y"]) == (1.0, 2.0)


def test_write_geoparquet_partitioned_by_aoi(spark, tmp_path):
    df = spark.createDataFrame(
        [("s1", "a1"), ("s2", "a2")], ["shot", "aoi_name"]
    )
    out = tmp_path / "parts"
    write_geoparquet(df, out, partition_by="aoi_name")
    assert (out / "aoi_name=a1").exists() and (out / "aoi_name=a2").exists()


def test_read_shots_casts_acq_time(spark, tmp_path):
    p = str(tmp_path / "shots")
    spark.createDataFrame(
        [("s1", "2020-04-04 01:02:03")], ["shot", "acq_time"]
    ).write.parquet(p)
    df = read_shots(spark, p)
    assert dict(df.dtypes)["acq_time"] == "timestamp"  # xr.py:40


def test_load_shots_requires_input(spark):
    with pytest.raises(MergeError):
        load_shots(spark)  # xr.py:30-32


def test_load_shots_merges_both(spark, tmp_path):
    ts = datetime.datetime(2020, 4, 4)
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    spark.createDataFrame([("s1", ts, 100)], ["shot", "acq_time", "rh98"]).write.parquet(a)
    spark.createDataFrame([("s1", ts, 0.5)], ["shot", "acq_time", "tcc"]).write.parquet(b)
    out = load_shots(spark, l2a=a, l2b=b, on=("shot", "acq_time"))
    row = out.first()
    assert row["rh98"] == 100 and row["tcc"] == 0.5
    # the same merge over GeoParquet outputs: the footer stamp re-encodes
    # each file, and acq_time must still read back as Spark wrote it
    ga = str(tmp_path / "ga")
    gb = str(tmp_path / "gb")
    for p, name, val in ((ga, "rh98", 100), (gb, "tcc", 0.5)):
        df = spark.createDataFrame([("s1", ts, val)], ["shot", "acq_time", name])
        write_geoparquet(df.withColumn("geometry", st_point(F.lit(1.0), F.lit(2.0))), p)
    out = load_shots(spark, l2a=ga, l2b=gb, on=("shot", "acq_time"))
    row = out.first()
    assert row["rh98"] == 100 and row["tcc"] == 0.5 and row["acq_time"] == ts


def test_aoi_from_wkt_validates(spark):
    with pytest.raises(ValueError):
        aoi_from_wkt(spark, {"bad": "LINESTRING (0 0, 1 1)"})


def test_aoi_from_geojson_explodes_multifeature(spark, tmp_path):
    doc = {
        "type": "FeatureCollection",
        "features": [
            {"geometry": {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]}},
            {"geometry": {"type": "Polygon", "coordinates": [[[2, 2], [3, 2], [3, 3], [2, 3], [2, 2]]]}},
        ],
    }
    p = tmp_path / "multi.geojson"
    p.write_text(json.dumps(doc))
    df = aoi_from_geojson(spark, p)
    names = sorted(r["aoi_name"] for r in df.collect())
    assert names == ["multi_0", "multi_1"]  # ancillary.py:148-153 naming


def test_prepare_vec_union(spark, tmp_path):
    doc = {"geometry": {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]}}
    p = tmp_path / "single.geojson"
    p.write_text(json.dumps({"type": "FeatureCollection", "features": [doc]}))
    df = prepare_vec(spark, [{"w1": "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"}, p])
    assert df.count() == 2
