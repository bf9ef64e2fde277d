"""Property: the J2 spatial join returns plain-Python rectangle
containment on arbitrary rectangle sets and point clouds, whatever the
grid cell size — hypothesis searches for disagreement."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gedixr_spark.operators.joins import spatial_join_aoi
from gedixr_spark.sources.vector import aoi_from_wkt

coord = st.integers(-20, 20)

rect = st.tuples(coord, coord, st.integers(1, 8), st.integers(1, 8)).map(
    lambda t: (t[0], t[1], t[0] + t[2], t[1] + t[3])
)

point = st.tuples(
    st.decimals(min_value=-25, max_value=25, places=2).map(float),
    st.decimals(min_value=-25, max_value=25, places=2).map(float),
)


@given(
    rects=st.lists(rect, min_size=1, max_size=6),
    points=st.lists(point, min_size=1, max_size=25),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_join_matches_truth_at_any_cell_size(spark, rects, points):
    aoi = {
        f"r{i}": f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"
        for i, (x0, y0, x1, y1) in enumerate(rects)
    }
    shots = spark.createDataFrame(
        [(str(i), x, y) for i, (x, y) in enumerate(points)],
        ["shot", "longitude", "latitude"],
    )
    aois = aoi_from_wkt(spark, aoi)
    a = {(r["shot"], r["aoi_name"]) for r in spatial_join_aoi(shots, aois).collect()}
    b = {(r["shot"], r["aoi_name"])
         for r in spatial_join_aoi(shots, aois, cell_deg=3.0).collect()}
    # ground truth from plain python (inclusive rectangle containment)
    truth = {
        (str(i), f"r{j}")
        for i, (x, y) in enumerate(points)
        for j, (x0, y0, x1, y1) in enumerate(rects)
        if x0 <= x <= x1 and y0 <= y <= y1
    }
    assert a == b == truth
