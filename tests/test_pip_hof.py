"""The JVM higher-order even-odd ray-cast (`pip_edges_predicate`) is the
one point-in-polygon engine behind every spatial refinement path. These
tests pin (a) bit-identical agreement with the numpy reference
`testing.pip_reference` — including boundary points, horizontal edges,
holes, multi-part rings and many-edge polygons — and (b) the plan
property it buys: ZERO Python-evaluation nodes in the spatial join at
any AOI count.
"""

import math
import random

from pyspark.sql import functions as F

from gedixr_spark.geo import (
    EDGES_SQL_TYPE,
    parse_wkt_rings,
    pip_edges_predicate,
    rings_to_edge_tuples,
    st_intersects_polygon,
)
from gedixr_spark.operators.joins import spatial_join_aoi
from gedixr_spark.sources.vector import aoi_from_wkt
from gedixr_spark.contract import shots_l2a
from gedixr_spark.testing import intersects_reference, pip_reference


def _ngon_wkt(n: int) -> str:
    pts = [
        (
            5.0 + 4.0 * math.cos(2 * math.pi * k / n),
            5.0 + 4.0 * math.sin(2 * math.pi * k / n),
        )
        for k in range(n)
    ]
    pts.append(pts[0])
    return "POLYGON ((" + ", ".join(f"{x:.9f} {y:.9f}" for x, y in pts) + "))"


# triangle (non-rect), holed rectangle, multi-part, a pentagon with a
# horizontal top edge (div-by-zero corner of the ray intersection), and
# 32-/33-edge polygons (the many-edge literal case)
GEOMS = {
    "tri": "POLYGON ((0 0, 10 0, 0 8, 0 0))",
    "holed": (
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
        "(3 3, 7 3, 7 7, 3 3))"
    ),
    "multi": (
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), "
        "((6 6, 9 6, 9 9, 6 9, 6 6)))"
    ),
    "horiz": "POLYGON ((0 0, 8 0, 8 5, 4 5, 0 3, 0 0))",
    "ngon32": _ngon_wkt(32),
    "ngon33": _ngon_wkt(33),
}


def _probe_points(rings):
    """Grid + random + exact-boundary probe points for one geometry."""
    pts = [(x / 2.0, y / 2.0) for x in range(-3, 25) for y in range(-3, 25)]
    rng = random.Random(42)
    pts += [(rng.uniform(-2, 12), rng.uniform(-2, 12)) for _ in range(500)]
    # exact vertices and edge midpoints — the boundary tolerance path
    for ring in rings:
        for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
            pts.append((ax, ay))
            pts.append(((ax + bx) / 2.0, (ay + by) / 2.0))
    return pts


def test_pip_hof_bit_identical_to_pip_reference(spark):
    """The JVM expression agrees with the numpy reference on EVERY probe
    point of every geometry class (interior, exterior, vertices, edge
    midpoints, horizontal-edge ray corners) — both over an edge-array
    column (the join's form) and through st_intersects_polygon's edge
    literal (bbox AND the same expression)."""
    for name, wkt in GEOMS.items():
        rings = parse_wkt_rings(wkt)
        edges = rings_to_edge_tuples(rings)
        df = spark.createDataFrame(
            [(x, y, edges) for x, y in _probe_points(rings)],
            f"x double, y double, edges {EDGES_SQL_TYPE}",
        )
        got = df.select(
            "x",
            "y",
            pip_edges_predicate(F.col("x"), F.col("y"), F.col("edges")).alias("a"),
            st_intersects_polygon(F.col("x"), F.col("y"), wkt).alias("b"),
        ).collect()
        xs = [r["x"] for r in got]
        ys = [r["y"] for r in got]
        want_a = pip_reference(xs, ys, rings)
        want_b = intersects_reference(xs, ys, wkt)
        diff = [
            (r["x"], r["y"])
            for r, wa, wb in zip(got, want_a, want_b)
            if (r["a"], r["b"]) != (bool(wa), bool(wb))
        ]
        assert diff == [], f"{name}: JVM != reference at {diff[:5]}"
        assert any(want_b) and not all(want_b), name


def test_st_intersects_polygon_general_branch_has_no_python_node(spark):
    """The general-polygon branch of st_intersects_polygon compiles to
    the edge-literal HOF — no ArrowEvalPython/BatchEvalPython."""
    df = spark.createDataFrame(
        [(1.0, 1.0), (20.0, 20.0)], "longitude double, latitude double"
    )
    out = df.filter(
        st_intersects_polygon(
            F.col("longitude"), F.col("latitude"), GEOMS["tri"]
        )
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert [r["longitude"] for r in out.collect()] == [1.0]


def test_indexed_join_zero_python_nodes_with_nonrect_aois(spark):
    """The join's general-polygon refinement is JVM-side: zero
    Python-evaluation nodes, and it executes and returns rows (the row
    set is oracle-checked by the spatial_joins registry query)."""
    aois = aoi_from_wkt(
        spark,
        {
            "tri": "POLYGON ((-5 45, 5 45, -5 49, -5 45))",
            "rect": "POLYGON ((-10 40, 0 40, 0 50, -10 50, -10 40))",
        },
    )
    out = spatial_join_aoi(
        shots_l2a(spark, "/root/testdata/sf0.001"), aois
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert out.count() > 0


def test_edge_arrays_attach_per_aoi_not_per_cell(spark):
    """r16: the general-polygon edge list rides a per-AOI broadcast,
    not the cell index — the join result must be independent of how
    many grid cells an AOI's bbox covers. Same shots, same non-rect
    AOI, coarse vs fine cell_deg ⇒ identical row sets (fine grid =
    many covered cells; pre-r16 each carried its own edge copy)."""
    aois = aoi_from_wkt(
        spark,
        {
            "tri": "POLYGON ((-8 40, 6 40, -8 52, -8 40))",
            "rect": "POLYGON ((-10 40, 0 40, 0 50, -10 50, -10 40))",
        },
    )
    shots = shots_l2a(spark, "/root/testdata/sf0.001")
    key = ["shot_number", "aoi_name"]
    coarse = {
        tuple(r[k] for k in key)
        for r in spatial_join_aoi(shots, aois, cell_deg=8.0)
        .select(*key).collect()
    }
    fine = {
        tuple(r[k] for k in key)
        for r in spatial_join_aoi(shots, aois, cell_deg=0.7)
        .select(*key).collect()
    }
    assert coarse == fine and len(coarse) > 0
