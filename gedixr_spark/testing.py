"""Test support: deterministic fake GEDI granules for reader tests,
and a numpy point-in-polygon reference for the spatial predicates.

h5py isn't installed in this environment (SURVEY.md §7.3), so tests
exercise the S2 reader's real Spark plumbing (inventory → mapInPandas →
shot schema) against an in-memory granule with the same group/dataset
layout an h5py.File exposes: 8 beam groups, per-beam 1-D layer datasets,
and the 101-wide ``rh`` percentile matrix.

Lives inside the package (not under tests/) so cloudpickle can resolve
these classes by module reference on Spark workers.
"""

from __future__ import annotations

import contextlib
from pathlib import Path

import numpy as np


class FakeGroup(dict):
    """dict with h5py.Group's ``keys()`` and nested-path access
    contracts (``group['geolocation/lat_lowestmode']`` resolves through
    subgroups, exactly like h5py — the L2B layer paths need it)."""

    def keys(self):
        return set(super().keys())

    def __getitem__(self, key):
        if "/" in key:
            head, rest = key.split("/", 1)
            return super().__getitem__(head)[rest]
        return super().__getitem__(key)

    def __contains__(self, key):
        if "/" in key:
            head, rest = key.split("/", 1)
            return super().__contains__(head) and rest in super().__getitem__(head)
        return super().__contains__(key)


def make_granule(
    n_shots: int,
    beams: list[str],
    with_rh: bool = True,
    seed: int = 0,
    product: str = "L2A",
) -> FakeGroup:
    """Fake granule with the product's real group layout: L2A keeps
    geolocation layers at the beam level; L2B nests them under
    ``geolocation/`` and uses ``l2b_quality_flag`` (reference
    constants.py:20-37)."""
    g = FakeGroup()
    rng = np.random.default_rng(seed)
    for i, beam in enumerate(beams):
        ids = np.arange(n_shots, dtype=np.uint64) + 10_000_000 * (i + 1)
        elev = rng.uniform(0, 3000, n_shots)
        geo = dict(
            lat_lowestmode=rng.uniform(40, 55, n_shots),
            lon_lowestmode=rng.uniform(-10, 10, n_shots),
            elev_lowestmode=elev,
            # DEM tracks elevation with noise so the quality filter's
            # abs(Δelev) < 100 keeps most shots (FIXTURES.md §1 domain)
            digital_elevation_model=elev + rng.normal(0, 60, n_shots),
            degrade_flag=np.zeros(n_shots, dtype=np.int8),
        )
        grp = FakeGroup(
            shot_number=ids,
            sensitivity=rng.uniform(0.85, 1.0, n_shots),
            num_detectedmodes=rng.integers(1, 6, n_shots).astype(np.int32),
        )
        if product == "L2B":
            grp["geolocation"] = FakeGroup(**geo)
            grp["l2b_quality_flag"] = np.ones(n_shots, dtype=np.int8)
            grp["cover"] = rng.uniform(0, 1, n_shots)
            grp["fhd_normal"] = rng.uniform(0, 4, n_shots)
            grp["pai"] = rng.uniform(0, 10, n_shots)
            grp["rh100"] = rng.uniform(0, 60, n_shots)
        else:
            grp.update(geo)
            grp["quality_flag"] = np.ones(n_shots, dtype=np.int8)
            if with_rh:
                grp["rh"] = rng.uniform(0, 60, (n_shots, 101))
        g[beam] = grp
    return g


def build_opener(granules: dict):
    """Context-manager opener keyed by file name; raises on 'corrupt'
    paths to exercise per-granule fault isolation (extract.py:191-194)."""

    @contextlib.contextmanager
    def opener(path):
        # match on the file NAME only — test tmp dirs can contain the
        # word 'corrupt' in their path
        if "corrupt" in Path(path).name:
            raise OSError("truncated HDF5 file")
        yield granules[Path(path).name]

    return opener


def pip_reference(xs, ys, rings) -> np.ndarray:
    """Even-odd point-in-polygon over ALL ``rings`` (holes and
    multi-part geometries), with boundary points inside — the numpy
    truth `geo.pip_edges_predicate` is checked against, bit for bit:
    the same IEEE-double ops per edge, the same 1e-9 boundary
    tolerance. Returns one bool per (x, y)."""
    from gedixr_spark.geo import rings_to_edge_tuples

    e = np.asarray(rings_to_edge_tuples(rings), dtype=np.float64)
    x1, y1, x2, y2 = (e[None, :, i] for i in range(4))
    x = np.asarray(xs, dtype=np.float64)[:, None]
    y = np.asarray(ys, dtype=np.float64)[:, None]
    dx, dy = x2 - x1, y2 - y1
    with np.errstate(divide="ignore", invalid="ignore"):
        # count edges crossing the ray towards +x
        cond = (y1 <= y) != (y2 <= y)
        xint = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
        inside = (cond & (x < xint)).sum(axis=1) % 2 == 1
        # on an edge segment: zero cross product, projection in [0, 1]
        cross = (x - x1) * dy - (y - y1) * dx
        t = ((x - x1) * dx + (y - y1) * dy) / (dx * dx + dy * dy)
    on_edge = ((np.abs(cross) < 1e-9) & (t >= 0) & (t <= 1)).any(axis=1)
    return inside | on_edge


def intersects_reference(xs, ys, wkt: str) -> np.ndarray:
    """``point.intersects(polygon)`` truth for `geo.st_intersects_polygon`
    and the J2 join: the polygon's bbox AND `pip_reference`."""
    from gedixr_spark.geo import parse_wkt_rings, rings_bounds

    rings = parse_wkt_rings(wkt)
    xmin, ymin, xmax, ymax = rings_bounds(rings)
    x = np.asarray(xs, dtype=np.float64)
    y = np.asarray(ys, dtype=np.float64)
    bbox = (x >= xmin) & (x <= xmax) & (y >= ymin) & (y <= ymax)
    return bbox & pip_reference(x, y, rings)
