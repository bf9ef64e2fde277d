"""The reference pass opens each granule once.

- Driver-built tables (granule inventory, AOI tables, the AOI join's
  cell index and edge list) are ``LocalRelation`` plans: a collect runs
  no job and a broadcast starts no Python worker. A silent fallback to
  the list path (``LogicalRDD``) fails these tests.
- ``extract_data(save=True)`` returns its saved output read back, so a
  later merge or count opens no granule and bumps no error counter, and
  the frame matches the ``save=False`` plan column for column.
"""

import json

from gedixr_spark.api import extract_data
from gedixr_spark.functions.scalar import month_band
from gedixr_spark.operators.joins import merge_keyed, spatial_join_aoi
from gedixr_spark.operators.stats import error_accumulator
from gedixr_spark.session import local_frame
from gedixr_spark.sinks.geoparquet import write_geoparquet
from gedixr_spark.sources.geopackage import aoi_from_geopackage, write_polygon_gpkg
from gedixr_spark.sources.hdf5 import discover_granules
from gedixr_spark.sources.shots import load_shots, read_shots
from gedixr_spark.sources.vector import (
    aoi_from_geojson,
    aoi_from_kml,
    aoi_from_shapefile,
    aoi_from_wkt,
)
from gedixr_spark.testing import build_opener, make_granule
from tests.test_kml import KML_TWO
from tests.test_multiring_shapefile import _write_shp

RECT = [(0.0, 44.0), (4.0, 44.0), (4.0, 46.0), (0.0, 46.0), (0.0, 44.0)]
TRIANGLE = [(-10.0, 40.0), (0.0, 40.0), (-5.0, 55.0), (-10.0, 40.0)]


def _wkt(ring):
    return "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in ring) + "))"


# a numeric-looking name: the saved partition must read back as "0042"
AOIS = {
    "0042": "POLYGON ((-10 40, 0 40, 0 55, -10 55, -10 40))",
    "east": "POLYGON ((0 40, 10 40, 5 55, 0 40))",
}


def _leaves(df):
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def _granules(d, products=("L2A",), corrupt=False):
    """One granule per product, the same shots and date in both."""
    d.mkdir(exist_ok=True)
    names = {}
    for p in products:
        tag = "GEDI02_A" if p == "L2A" else "GEDI02_B"
        name = f"{tag}_2020095010203_O0001_V002.h5"
        names[name] = make_granule(40, ["BEAM0000", "BEAM0101"], seed=5, product=p)
        (d / name).write_bytes(b"")
    if corrupt:
        (d / "GEDI02_A_2020200000000_corrupt_V002.h5").write_bytes(b"")
    return build_opener(names)


def test_driver_built_tables_are_local_relations(spark, tmp_path):
    _granules(tmp_path / "in")
    inv = discover_granules(spark, tmp_path / "in", "L2A")
    # month pruning folds into the relation: sizing the read runs no job
    pruned = inv.filter(month_band("acq_time", 3, 5))
    assert pruned._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"

    geojson = tmp_path / "a.geojson"
    geojson.write_text(json.dumps({"type": "Polygon", "coordinates": [RECT]}))
    shp = tmp_path / "a.shp"
    _write_shp(shp, [[list(reversed(RECT))]])
    kml = tmp_path / "a.kml"
    kml.write_text(KML_TWO)
    gpkg = tmp_path / "a.gpkg"
    write_polygon_gpkg(gpkg, "aois", [{"name": "r", "rings": [RECT]}])
    builders = {
        "inventory": inv,
        "wkt": aoi_from_wkt(spark, {"r": _wkt(RECT)}),
        "geojson": aoi_from_geojson(spark, geojson),
        "shapefile": aoi_from_shapefile(spark, shp),
        "kml": aoi_from_kml(spark, kml),
        "geopackage": aoi_from_geopackage(spark, gpkg),
    }
    for name, df in builders.items():
        assert _leaves(df) == ["LocalRelation"], name

    # both broadcast sides of the join: the cell index and the edge list
    # (the triangle is not decided by its bbox)
    shots = local_frame(
        spark, [(1.0, 45.0), (-5.0, 45.0), (-9.9, 54.0)], "longitude double, latitude double"
    )
    joined = spatial_join_aoi(shots, aoi_from_wkt(spark, {"r": _wkt(RECT), "t": _wkt(TRIANGLE)}))
    assert _leaves(joined) == ["LocalRelation"] * 3
    assert sorted(r["aoi_name"] for r in joined.collect()) == ["r", "t"]


def test_local_frame_empty_stays_local(spark):
    df = local_frame(spark, [], "a int, b string")
    assert _leaves(df) == ["LocalRelation"]
    assert df.collect() == [] and df.dtypes == [("a", "int"), ("b", "string")]


def test_each_granule_opened_once(spark, tmp_path):
    base = _granules(tmp_path / "in", products=("L2A", "L2B"))
    opens = spark.sparkContext.accumulator(0)

    def opener(path):
        opens.add(1)
        return base(path)

    frames = {}
    for p in ("L2A", "L2B"):
        frames[p], _ = extract_data(
            spark, tmp_path / "in", gedi_product=p, subset_vector=AOIS,
            output_dir=tmp_path / "out" / p, granule_opener=opener,
        )
    merged = merge_keyed(frames["L2B"], frames["L2A"])
    assert merged.count() > 0
    assert opens.value == 2


def test_saved_and_lazy_frames_agree(spark, tmp_path):
    opener = _granules(tmp_path / "in")
    saved, path = extract_data(
        spark, tmp_path / "in", gedi_product="L2A", subset_vector=AOIS,
        output_dir=tmp_path / "out", granule_opener=opener,
    )
    lazy, none = extract_data(
        spark, tmp_path / "in", gedi_product="L2A", subset_vector=AOIS,
        save=False, granule_opener=opener,
    )
    assert path is not None and none is None
    assert saved.dtypes == lazy.dtypes
    rows = sorted(saved.collect())
    assert rows and rows == sorted(lazy.collect())
    assert {r["aoi_name"] for r in rows} == {"0042", "east"}


def test_corrupt_granule_counted_once(spark, tmp_path):
    opener = _granules(tmp_path / "in", corrupt=True)
    acc = error_accumulator(spark)
    df, _ = extract_data(
        spark, tmp_path / "in", gedi_product="L2A", apply_quality_filter=False,
        output_dir=tmp_path / "out", granule_opener=opener, error_acc=acc,
    )
    assert acc.value == 1
    assert df.count() == 80
    assert acc.value == 1  # the count read the saved files


def test_numeric_looking_partition_names_stay_strings(spark, tmp_path):
    for name in ("a", "b"):
        df = spark.createDataFrame(
            [("s1", 1.0, "0042"), ("s2", 2.0, "7")], "shot string, rh98 double, aoi_name string"
        )
        write_geoparquet(df, tmp_path / name, partition_by="aoi_name")
    back = read_shots(spark, str(tmp_path / "a"))
    assert dict(back.dtypes)["aoi_name"] == "string"
    assert sorted(r["aoi_name"] for r in back.collect()) == ["0042", "7"]
    merged = load_shots(spark, l2a=str(tmp_path / "a"), l2b=str(tmp_path / "b"), on=("shot",))
    assert sorted(r["aoi_name_l2a"] for r in merged.collect()) == ["0042", "7"]
