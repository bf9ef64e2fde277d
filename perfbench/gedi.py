"""``gedi_reference``: the paper's pipeline over seed-generated granules.

Inputs: L2A and L2B granules with the GEDI group layout, written at set-up
as one ``.npz`` file per granule (named like real granules, so discovery
and month pruning see real file names) and opened inside the Spark task
by ``NpzOpener``. Nothing is captured in a closure but the opener and its
open counter, so no granule bytes are pickled into tasks.

A pass: ``api.extract_data`` for L2A and for L2B (month band, quality
filter, two AOIs, GeoParquet save), then ``joins.merge_keyed``,
``raster.grid_aggregate`` and ``raster.grid_to_array``. Every output is
checked against a numpy computation over the generated arrays. After the timed region, ``sources.shots.load_shots`` must give
back the merged shots from the two saved outputs, every column equal.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import math
from pathlib import Path

import numpy as np

from perfbench.common import Ops, dir_bytes, rm

BEAMS = (
    "BEAM0000", "BEAM0001", "BEAM0010", "BEAM0011",
    "BEAM0101", "BEAM0110", "BEAM1000", "BEAM1011",
)
N_GRANULES = 6           # per product, every other calendar month
SHOTS_PER_BEAM = 1000
MONTHS = (3, 10)         # filter_month band: 4 of the 6 granules
RES = (-0.1, 0.1)        # grid resolution (deg) for the raster step
RECT = (-8.0, 42.0, -2.0, 48.0)
STAR_CENTER, STAR_R, STAR_VERTICES = (4.0, 49.0), (2.0, 3.2), 40
# grid origin: the north-west corner of the AOI union, so the raster is
# anchored to the AOIs rather than to whichever shots survive
ORIGIN = (RECT[0], STAR_CENTER[1] + STAR_R[1])


def _star_ring():
    """General (non-convex) polygon with STAR_VERTICES edges, more than
    the engine's literal point-in-polygon bound."""
    cx, cy = STAR_CENTER
    ring = []
    for i in range(STAR_VERTICES):
        r = STAR_R[i % 2]
        a = 2 * math.pi * i / STAR_VERTICES
        ring.append((round(cx + r * math.cos(a), 6), round(cy + r * math.sin(a), 6)))
    return ring + [ring[0]]


def aoi_wkt() -> dict:
    x0, y0, x1, y1 = RECT
    rect = f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"
    star = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in _star_ring()) + "))"
    return {"rect": rect, "star": star}


def _month(k):
    return (2 * k) % 12 + 1


def _granule_name(product: str, k: int) -> tuple[str, dt.datetime]:
    t = dt.datetime(2020, _month(k), 10, 1, 2, 3)
    doy = t.timetuple().tm_yday
    tag = "GEDI02_A" if product == "L2A" else "GEDI02_B"
    return f"{tag}_{t.year}{doy:03d}{t:%H%M%S}_O{1000 + k:05d}_02_T00000_02_003_01_V002.h5", t


def generate(seed: int, directory: Path) -> dict:
    """Write the granules and return the numpy truth: one flat record
    array per product over all shots of all granules."""
    directory.mkdir(parents=True, exist_ok=True)
    truth: dict[str, dict[str, list]] = {"L2A": {}, "L2B": {}}
    for k in range(N_GRANULES):
        rng = np.random.default_rng([seed, k])
        files = {"L2A": {}, "L2B": {}}
        for b, beam in enumerate(BEAMS):
            n = SHOTS_PER_BEAM
            shot = (np.arange(n, dtype=np.uint64) + np.uint64((1000 + k) * 10**13 + b * 10**9))
            lat = rng.uniform(40.0, 55.0, n)
            lon = rng.uniform(-10.0, 10.0, n)
            elev = rng.uniform(0.0, 3000.0, n)
            dem = elev + rng.normal(0.0, 60.0, n)
            degrade = (rng.random(n) < 0.05).astype(np.int8)
            sens = rng.uniform(0.85, 1.0, n)
            modes = rng.integers(0, 6, n).astype(np.int32)
            qa = (rng.random(n) < 0.9).astype(np.int8)
            qb = (rng.random(n) < 0.9).astype(np.int8)
            rh = rng.uniform(0.0, 60.0, (n, 101)).astype(np.float32)
            cover, fhd = rng.uniform(0, 1, n), rng.uniform(0, 4, n)
            pai, rh100 = rng.uniform(0, 10, n), rng.uniform(0, 60, n)
            geo = {
                "lat_lowestmode": lat, "lon_lowestmode": lon,
                "elev_lowestmode": elev, "digital_elevation_model": dem,
                "degrade_flag": degrade,
            }
            common = {"shot_number": shot, "sensitivity": sens, "num_detectedmodes": modes}
            for key, v in {**common, **geo, "quality_flag": qa, "rh": rh}.items():
                files["L2A"][f"{beam}/{key}"] = v
            for key, v in common.items():
                files["L2B"][f"{beam}/{key}"] = v
            for key, v in geo.items():
                files["L2B"][f"{beam}/geolocation/{key}"] = v
            for key, v in {"l2b_quality_flag": qb, "cover": cover,
                           "fhd_normal": fhd, "pai": pai, "rh100": rh100}.items():
                files["L2B"][f"{beam}/{key}"] = v
            month = np.full(n, _month(k), dtype=np.int32)
            for p, q in (("L2A", qa), ("L2B", qb)):
                rec = truth[p]
                for key, v in {"shot": shot, "lat": lat, "lon": lon, "elev": elev,
                               "dem": dem, "degrade": degrade, "modes": modes,
                               "sens": sens, "q": q, "month": month,
                               "granule": np.full(n, k), "beam": np.full(n, b)}.items():
                    rec.setdefault(key, []).append(v)
            truth["L2A"].setdefault("rh98", []).append(
                np.rint(rh[:, 98] * 100).astype(np.int32)
            )
            for key, v in {"tcc": cover, "fhd": fhd, "pai": pai, "rh100": rh100}.items():
                truth["L2B"].setdefault(key, []).append(v)
        for p in ("L2A", "L2B"):
            name, _ = _granule_name(p, k)
            with open(directory / name, "wb") as fh:
                np.savez(fh, **files[p])
    return {p: {k: np.concatenate(v) for k, v in rec.items()} for p, rec in truth.items()}


class NpzOpener:
    """Granule opener run inside Spark tasks: loads one ``.npz`` granule
    into the h5py-like group tree the reader expects, and counts opens in
    a Spark accumulator."""

    def __init__(self, counter):
        self.counter = counter

    @contextlib.contextmanager
    def __call__(self, path):
        from gedixr_spark.testing import FakeGroup

        self.counter.add(1)
        with np.load(path) as z:
            root = FakeGroup()
            for key in z.files:
                *groups, leaf = key.split("/")
                node = root
                for g in groups:
                    node = node.setdefault(g, FakeGroup())
                node[leaf] = z[key]
        yield root


# ------------------------------------------------------------ the oracle


def _in_ring(x, y, ring) -> np.ndarray:
    inside = np.zeros(len(x), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        cross = (y1 > y) != (y2 > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
        inside ^= cross & (x < xi)
    return inside


def expected(truth: dict) -> dict:
    """Per product: the rows ``extract_data`` keeps, with their AOI, and
    the merged grid of average rh98 per cell."""
    x0, y0, x1, y1 = RECT
    star = _star_ring()
    kept = {}
    for p, t in truth.items():
        ok = (
            (t["month"] >= MONTHS[0]) & (t["month"] <= MONTHS[1])
            & (t["q"] == 1) & (t["degrade"] == 0) & (t["modes"] > 0)
            & (np.abs(t["elev"] - t["dem"]) < 100)
        )
        in_rect = (t["lon"] >= x0) & (t["lon"] <= x1) & (t["lat"] >= y0) & (t["lat"] <= y1)
        in_star = _in_ring(t["lon"], t["lat"], star)
        kept[p] = {"rect": ok & in_rect, "star": ok & in_star}
    a = truth["L2A"]
    both = {aoi: kept["L2A"][aoi] & kept["L2B"][aoi] for aoi in ("rect", "star")}
    sel = both["rect"] | both["star"]
    # a shot in both AOIs would appear twice; the AOIs are disjoint
    assert not (both["rect"] & both["star"]).any()
    lon, lat, rh98 = a["lon"][sel], a["lat"][sel], a["rh98"][sel]
    gx0, gy0 = ORIGIN
    row = np.floor((gy0 - lat) / abs(RES[0])).astype(np.int64)
    col = np.floor((lon - gx0) / RES[1]).astype(np.int64)
    grid = np.full((row.max() + 1, col.max() + 1), np.nan)
    flat = row * grid.shape[1] + col
    sums = np.bincount(flat, weights=rh98.astype(np.float64), minlength=grid.size)
    cnts = np.bincount(flat, minlength=grid.size)
    has = cnts > 0
    grid.reshape(-1)[has] = sums[has] / cnts[has]
    return {
        "counts": {p: {aoi: int(m.sum()) for aoi, m in kv.items()} for p, kv in kept.items()},
        "merged": int(sel.sum()),
        "grid": grid,
        "granules": sum(MONTHS[0] <= _month(k) <= MONTHS[1] for k in range(N_GRANULES)),
        "kept": kept,
    }


def saved_counts(path: str) -> dict:
    """Row count per ``aoi_name`` partition of a saved GeoParquet output,
    from the parquet footers (no Spark)."""
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for f in Path(path).rglob("*.parquet"):
        aoi = f.parent.name.split("=", 1)[1]
        out[aoi] = out.get(aoi, 0) + pq.ParquetFile(f).metadata.num_rows
    return out


def merged_frame(truth: dict, want: dict):
    """The L2B⋈L2A merge ``sources.shots.load_shots`` should give back:
    keys ``shot, acq_time, geometry``, colliding columns suffixed
    ``_l2b``/``_l2a`` (pandas-merge semantics)."""
    import pandas as pd

    a, b = truth["L2A"], truth["L2B"]
    parts = []
    for aoi in ("rect", "star"):
        m = want["kept"]["L2A"][aoi] & want["kept"]["L2B"][aoi]
        times = [_granule_name("L2A", int(k))[1] for k in a["granule"][m]]
        frame = {
            "shot": [f"{int(v):0>18}" for v in a["shot"][m]],
            "acq_time": pd.to_datetime(times),
            "x": a["lon"][m], "y": a["lat"][m],
            "rh98": a["rh98"][m],
            **{c: b[c][m] for c in ("tcc", "fhd", "pai", "rh100")},
        }
        for sfx in ("_l2b", "_l2a"):
            frame.update({
                "aoi_name" + sfx: [aoi] * int(m.sum()),
                "beam" + sfx: [BEAMS[i] for i in a["beam"][m]],
                "elev" + sfx: a["elev"][m],
                "elev_dem_tdx" + sfx: a["dem"][m],
                "sensitivity" + sfx: a["sens"][m],
                "num_detectedmodes" + sfx: a["modes"][m],
            })
        parts.append(pd.DataFrame(frame))
    return pd.concat(parts).sort_values("shot").reset_index(drop=True)


def roundtrip_equal(got, truth: dict, want: dict) -> bool:
    """Every column of the re-loaded merge equals the generated data."""
    exp = merged_frame(truth, want)
    if set(got.columns) != (set(exp.columns) - {"x", "y"}) | {"geometry"}:
        return False
    got = got.sort_values("shot").reset_index(drop=True)
    got = got.assign(
        x=[g["x"] for g in got["geometry"]], y=[g["y"] for g in got["geometry"]]
    ).drop(columns="geometry")
    if len(got) != len(exp):
        return False
    for c in exp.columns:
        g, e = got[c].to_numpy(), exp[c].to_numpy()
        if c == "acq_time":
            g, e = g.astype("datetime64[us]"), e.astype("datetime64[us]")
        elif e.dtype.kind in "fiu":
            g = g.astype(e.dtype)
        if not np.array_equal(g, e):
            return False
    return True


def grid_equal(got, want) -> bool:
    return got.shape == want.shape and bool(
        np.array_equal(np.isnan(got), np.isnan(want))
        and np.allclose(got[~np.isnan(got)], want[~np.isnan(want)], rtol=1e-12, atol=0)
    )


class GediReference:
    """The workload object the runner drives: ``generate`` once per
    set-up, ``bind`` once per session, ``run_pass`` per pass."""

    name = "gedi_reference"

    def __init__(self, seed: int, work: Path):
        self.seed, self.work = seed, work
        self.inputs = work / "granules"

    def generate(self) -> None:
        self.truth = generate(self.seed, self.inputs)
        self.want = expected(self.truth)

    def bind(self, spark) -> None:
        self.spark = spark
        self.opens = spark.sparkContext.accumulator(0)
        self.opener = NpzOpener(self.opens)

    def run_pass(self, tracer, ops: Ops, i: int) -> dict:
        """One pass: returns its wall time, the latencies of its saves and
        of the merge and grid, its storage amplification and its granule
        opens. Checks and the round-trip read run after the timer; outputs
        are then deleted."""
        from gedixr_spark.api import extract_data
        from gedixr_spark.operators.joins import merge_keyed
        from gedixr_spark.operators.raster import grid_aggregate, grid_to_array

        out = self.work / f"out-{i}"
        opens0 = self.opens.value
        paths, frames, commits = {}, {}, []
        with tracer.pass_timer() as timer:
            for p in ("L2A", "L2B"):
                with tracer.span("pass", f"extract_{p}") as s:
                    frames[p], paths[p] = extract_data(
                        self.spark, self.inputs, gedi_product=p,
                        filter_month=MONTHS, subset_vector=aoi_wkt(),
                        output_dir=out / p, granule_opener=self.opener,
                    )
                commits.append(s["s"])
            with tracer.span("pass", "merge_grid") as s:
                merged = merge_keyed(frames["L2B"], frames["L2A"])
                grid = grid_aggregate(
                    merged, ["rh98"], resolution=RES, origin=ORIGIN,
                    lon_col="geometry.x", lat_col="geometry.y",
                )
                arr = grid_to_array(grid, "avg_rh98")
            reads = [s["s"]]
        want = self.want
        for p in ("L2A", "L2B"):
            ops.check(f"extract_{p}", saved_counts(paths[p]) == want["counts"][p])
        ops.check("merge_grid", grid_equal(arr, want["grid"]))
        self.roundtrip(paths, ops)
        parquet = sum(dir_bytes(Path(paths[p]), ".parquet") for p in paths)
        amp = dir_bytes(out) / parquet
        rm(out)
        return {
            "wall_s": timer["s"],
            "commits": commits,
            "reads": reads,
            "storage_amp": amp,
            "opens": self.opens.value - opens0,
        }

    def roundtrip(self, paths: dict, ops: Ops) -> None:
        """``sources.shots.load_shots`` over both saved outputs must give
        back the merged shots, every column equal to the generated data."""
        from gedixr_spark.sources.shots import load_shots

        try:
            df = load_shots(self.spark, l2a=paths["L2A"], l2b=paths["L2B"])
            got = df.toPandas()
        except Exception as e:  # noqa: BLE001 - a failed read is a failed op
            ops.error("load_shots_roundtrip", e)
            return
        ops.check("load_shots_roundtrip", roundtrip_equal(got, self.truth, self.want))

    # ------------------------------------------------------------ tracing

    def traced_pass(self, tracer, ops: Ops) -> tuple[dict, dict]:
        """The traced pass, then the layer pass: each layer's public
        function called on its own, its output cached and counted inside
        its span so the span holds exactly that layer's work."""
        from gedixr_spark.constants import effective_schema
        from gedixr_spark.operators.filters import month_filter, quality_filter
        from gedixr_spark.operators.joins import merge_keyed, spatial_join_aoi_auto
        from gedixr_spark.operators.projections import with_geometry
        from gedixr_spark.operators.raster import grid_aggregate, grid_to_array
        from gedixr_spark.sinks.geoparquet import write_geoparquet
        from gedixr_spark.sources.hdf5 import discover_granules, read_granules
        from gedixr_spark.sources.vector import prepare_vec

        traced = self.run_pass(tracer, ops, "traced")
        spark, out = self.spark, self.work / "layers"
        rows: dict[str, float] = {"raw": 0, "kept": 0, "joined": 0}
        joined, cached = {}, []
        for p in ("L2A", "L2B"):
            with tracer.span("hdf5", f"hdf5.{p}"):
                inv = discover_granules(spark, self.inputs, p)
                raw = read_granules(
                    inv, p, effective_schema(p), filter_month=MONTHS,
                    granule_opener=self.opener,
                ).cache()
                rows["raw"] += raw.count()
            with tracer.span("filters", f"filters.{p}"):
                kept = quality_filter(month_filter(raw, *MONTHS)).cache()
                rows["kept"] += kept.count()
            with tracer.span("aoi_join", f"aoi_join.{p}"):
                joined[p] = with_geometry(
                    spatial_join_aoi_auto(kept, prepare_vec(spark, aoi_wkt()))
                ).cache()
                n = joined[p].count()
                rows["joined"] += n
            ops.check(f"aoi_join.{p}", n == sum(self.want["counts"][p].values()))
            with tracer.span("geoparquet", f"geoparquet.{p}"):
                write_geoparquet(joined[p], out / p, partition_by="aoi_name")
            ops.check(f"geoparquet.{p}", saved_counts(str(out / p)) == self.want["counts"][p])
            cached += [raw, kept, joined[p]]
        with tracer.span("merge"):
            merged = merge_keyed(joined["L2B"], joined["L2A"]).cache()
            rows["merged"] = merged.count()
        ops.check("merge", rows["merged"] == self.want["merged"])
        with tracer.span("raster"):
            grid = grid_aggregate(
                merged, ["rh98"], resolution=RES, origin=ORIGIN,
                lon_col="geometry.x", lat_col="geometry.y",
            )
            arr = grid_to_array(grid, "avg_rh98")
        ops.check("raster", grid_equal(arr, self.want["grid"]))
        rows["cells"] = int((~np.isnan(arr)).sum())
        rows["gp_bytes"] = dir_bytes(out, ".parquet")
        rows["gp_files"] = len(list(out.rglob("*.parquet")))
        for df in cached + [merged]:
            df.unpersist()
        rm(out)
        return traced, rows

    def layer_named(self, tracer, log: dict, traced: dict, rows: dict) -> dict:
        from perfbench.common import metric_ids, sql_metric

        def secs(layer):
            return sum(s["s"] for s in tracer.spans if s["layer"] == layer)

        def groups(layer):
            return {s["group"] for s in tracer.spans if s["layer"] == layer}

        # rows entering / leaving the point-in-polygon refinement: the
        # Filter over the polygon edge arrays, and the operator under it
        pip_in, pip_out = set(), set()
        for node in log["nodes"]:
            if node["name"] == "Filter" and "edges" in node["desc"]:
                pip_out.add(node["metrics"].get("number of output rows"))
                child = _first_with_rows(node["children"])
                if child is not None:
                    pip_in.add(child["metrics"]["number of output rows"])
        aoi = groups("aoi_join")
        pip_rows = sql_metric(log, aoi, pip_in - {None})
        matched = sql_metric(log, aoi, pip_out - {None})
        return {
            "hdf5.read_s": secs("hdf5"),
            "hdf5.opens_per_granule": traced["opens"] / (2 * self.want["granules"]),
            "hdf5.arrow_bytes": sql_metric(
                log, groups("hdf5"), metric_ids(log, "data returned from Python workers")
            ),
            "filters.s": secs("filters"),
            "filters.kept_ratio": rows["kept"] / rows["raw"],
            "aoi_join.s": secs("aoi_join"),
            "aoi_join.pip_rows": pip_rows,
            "aoi_join.match_ratio": matched / pip_rows if pip_rows else 0.0,
            "merge.s": secs("merge"),
            "raster.s": secs("raster"),
            "raster.cells": rows["cells"],
            "geoparquet.write_s": secs("geoparquet"),
            "geoparquet.bytes": rows["gp_bytes"],
            "geoparquet.files": rows["gp_files"],
        }


def _first_with_rows(children):
    for c in children:
        if "number of output rows" in c["metrics"]:
            return c
        hit = _first_with_rows(c["children"])
        if hit is not None:
            return hit
    return None
