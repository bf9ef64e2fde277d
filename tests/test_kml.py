"""Stdlib KML AOI reader (sources/vector.py::aoi_from_kml): namespaced
documents, holes, MultiGeometry, naming rules, prepare_vec dispatch."""

import pytest

from gedixr_spark.geo import parse_wkt_rings
from gedixr_spark.sources.vector import aoi_from_kml, prepare_vec

KML_TWO = """<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2">
  <Document>
    <Placemark>
      <name>alpha</name>
      <Polygon>
        <outerBoundaryIs><LinearRing><coordinates>
          0,44,0 4,44,0 4,46,0 0,46,0 0,44,0
        </coordinates></LinearRing></outerBoundaryIs>
        <innerBoundaryIs><LinearRing><coordinates>
          1,44.5 2,44.5 2,45.5 1,45.5 1,44.5
        </coordinates></LinearRing></innerBoundaryIs>
      </Polygon>
    </Placemark>
    <Placemark>
      <MultiGeometry>
        <Polygon>
          <outerBoundaryIs><LinearRing><coordinates>
            5,44 6,44 6,45 5,45 5,44
          </coordinates></LinearRing></outerBoundaryIs>
        </Polygon>
        <Polygon>
          <outerBoundaryIs><LinearRing><coordinates>
            7,44 8,44 8,45 7,45 7,44
          </coordinates></LinearRing></outerBoundaryIs>
        </Polygon>
      </MultiGeometry>
    </Placemark>
  </Document>
</kml>
"""


@pytest.fixture()
def kml_path(tmp_path):
    p = tmp_path / "areas.kml"
    p.write_text(KML_TWO)
    return p


def test_kml_names_holes_and_multigeometry(spark, kml_path):
    rows = {r["aoi_name"]: r["geometry_wkt"] for r in aoi_from_kml(spark, kml_path).collect()}
    # named placemark keeps its <name>; unnamed falls back to stem_i
    assert set(rows) == {"alpha", "areas_1"}
    alpha_rings = parse_wkt_rings(rows["alpha"])
    assert len(alpha_rings) == 2  # outer + hole
    multi_rings = parse_wkt_rings(rows["areas_1"])
    assert len(multi_rings) == 2  # two parts


def test_kml_unclosed_ring_closes_and_alt_dropped(spark, kml_path):
    # the hole ring above has no altitude and IS closed; the outer ring
    # carries altitudes — both parse to plain lon/lat rings
    rows = aoi_from_kml(spark, kml_path).collect()
    for r in rows:
        for ring in parse_wkt_rings(r["geometry_wkt"]):
            assert ring[0] == ring[-1]
            assert all(len(pt) == 2 for pt in ring)


def test_prepare_vec_dispatches_kml(spark, kml_path):
    df = prepare_vec(spark, str(kml_path))
    assert df.count() == 2 and set(df.columns) == {"aoi_name", "geometry_wkt"}


def test_kml_without_polygons_raises(spark, tmp_path):
    p = tmp_path / "pts.kml"
    p.write_text(
        '<kml xmlns="http://www.opengis.net/kml/2.2"><Placemark>'
        "<Point><coordinates>1,2</coordinates></Point>"
        "</Placemark></kml>"
    )
    with pytest.raises(ValueError, match="no polygon"):
        aoi_from_kml(spark, p)


def test_kml_aois_join_shots(spark, kml_path):
    """End-to-end: KML AOIs drive the spatial join (hole excluded)."""
    from gedixr_spark.operators.joins import spatial_join_aoi

    shots = spark.createDataFrame(
        [("in_alpha", 3.0, 45.8), ("in_hole", 1.5, 45.0), ("in_multi", 7.5, 44.5)],
        ["shot", "longitude", "latitude"],
    )
    got = {
        (r["shot"], r["aoi_name"])
        for r in spatial_join_aoi(shots, aoi_from_kml(spark, kml_path)).collect()
    }
    assert got == {("in_alpha", "alpha"), ("in_multi", "areas_1")}


def test_kml_point_placemark_does_not_shift_names(spark, tmp_path):
    """A point placemark next to one unnamed polygon must not break
    the single-feature stem rule or dent the index sequence."""
    p = tmp_path / "single.kml"
    p.write_text(
        '<kml xmlns="http://www.opengis.net/kml/2.2">'
        "<Placemark><Point><coordinates>1,2</coordinates></Point></Placemark>"
        "<Placemark><Polygon><outerBoundaryIs><LinearRing><coordinates>"
        "0,0 1,0 1,1 0,1 0,0"
        "</coordinates></LinearRing></outerBoundaryIs></Polygon></Placemark>"
        "</kml>"
    )
    rows = aoi_from_kml(spark, p).collect()
    assert [r["aoi_name"] for r in rows] == ["single"]


def test_kml_polygon_missing_linearring_raises_valueerror(spark, tmp_path):
    # ADVICE r4: malformed boundaries must raise descriptive ValueError,
    # not a bare IndexError from an unguarded [0]
    p = tmp_path / "bad_lr.kml"
    p.write_text(
        """<?xml version="1.0"?><kml><Placemark><Polygon>
        <outerBoundaryIs></outerBoundaryIs>
        </Polygon></Placemark></kml>"""
    )
    with pytest.raises(ValueError, match="outerBoundaryIs without <LinearRing>"):
        aoi_from_kml(spark, p)


def test_kml_ring_missing_coordinates_raises_valueerror(spark, tmp_path):
    p = tmp_path / "bad_coords.kml"
    p.write_text(
        """<?xml version="1.0"?><kml><Placemark><Polygon>
        <outerBoundaryIs><LinearRing></LinearRing></outerBoundaryIs>
        </Polygon></Placemark></kml>"""
    )
    with pytest.raises(ValueError, match="without <coordinates>"):
        aoi_from_kml(spark, p)


def test_kml_inner_missing_linearring_raises_valueerror(spark, tmp_path):
    p = tmp_path / "bad_inner.kml"
    p.write_text(
        """<?xml version="1.0"?><kml><Placemark><Polygon>
        <outerBoundaryIs><LinearRing><coordinates>
          0,0 1,0 1,1 0,1 0,0
        </coordinates></LinearRing></outerBoundaryIs>
        <innerBoundaryIs></innerBoundaryIs>
        </Polygon></Placemark></kml>"""
    )
    with pytest.raises(ValueError, match="innerBoundaryIs without <LinearRing>"):
        aoi_from_kml(spark, p)
