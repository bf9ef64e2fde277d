"""S7 — remote granule ingestion via NASA Harmony (SURVEY.md §2.1 S7).

A driver-side utility, not a dataflow operator (reference
download.py:19-171): network I/O, async job submission, resumable via a
job-id checkpoint file. The Harmony client itself is injectable — the
``harmony-py`` package (and the network) are absent in this
environment, so the default client raises; tests exercise submit /
resume / failure-report / checkpoint semantics through a fake.

At 100 TB the downloaded-granule inventory becomes a DataFrame and the
HDF5→Parquet bronze conversion fans out on executors
(sources/hdf5.py); this module only lands files.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

from gedixr_spark.constants import ALLOWED_PRODUCTS, PRODUCT_MAPPING

CHECKPOINT_NAME = ".gedixr_harmony_job"


@dataclass
class FakeHarmonyClient:
    """Test double with the minimal client contract: submit → job_id,
    status, result urls, download. Mirrors the call sequence the real
    client needs (reference download.py:104-147 semantics)."""

    granules: list[str] = field(default_factory=list)
    failed: list[str] = field(default_factory=list)
    submitted: list[dict] = field(default_factory=list)

    def submit(self, request: dict) -> str:
        self.submitted.append(request)
        return f"job-{len(self.submitted)}"

    def status(self, job_id: str) -> str:
        return "successful"

    def failure_report(self, job_id: str) -> list[str]:
        return list(self.failed)

    def download_all(self, job_id: str, directory: Path) -> list[Path]:
        out = []
        for name in self.granules:
            p = directory / name
            p.write_bytes(b"")
            out.append(p)
        return out


def _default_client():  # pragma: no cover - requires network + harmony-py
    try:
        import harmony  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "harmony-py is not available in this environment; pass client= "
            "(see FakeHarmonyClient for the required contract)"
        ) from e
    raise NotImplementedError("wire the real harmony.Client here")


def bbox_from_vector(path_or_wkt: str) -> tuple[float, float, float, float]:
    """Coarse bbox for the Harmony spatial subset (reference
    download.py:199-235: vector → total_bounds). Accepts WKT
    POLYGON/MULTIPOLYGON (holes allowed) or a GeoJSON file path
    (pure-json, Polygon/MultiPolygon, matching sources/vector.py)."""
    from gedixr_spark.geo import parse_wkt_rings, rings_bounds

    stripped = path_or_wkt.lstrip().upper()
    if stripped.startswith("POLYGON") or stripped.startswith("MULTIPOLYGON"):
        return rings_bounds(parse_wkt_rings(path_or_wkt))
    doc = json.loads(Path(path_or_wkt).read_text())
    feats = doc["features"] if doc.get("type") == "FeatureCollection" else [doc]
    xs, ys = [], []
    for feat in feats:
        geom = feat.get("geometry", feat)
        polys = (
            [geom["coordinates"]] if geom["type"] == "Polygon" else geom["coordinates"]
        )
        for rings in polys:
            for x, y in rings[0]:
                xs.append(x)
                ys.append(y)
    return min(xs), min(ys), max(xs), max(ys)


def download_data(
    directory: str | Path,
    gedi_product: str = "L2B",
    time_range: tuple[str, str] | None = None,
    subset_bbox: tuple[float, float, float, float] | None = None,
    subset_vector: str | None = None,
    job_id: str | None = None,
    client=None,
) -> tuple[list[Path], str]:
    """Submit (or resume) a Harmony subsetting job and download results.

    Reference semantics preserved (download.py:19-171):
    - product → collection short name (constants.py:2-5 mapping);
    - spatial subset from an explicit bbox or a vector file's bounds
      (one of them required when subsetting, cli.py:251-254);
    - the submitted job id is checkpointed to ``directory/
      .gedixr_harmony_job`` so an interrupted run resumes with
      ``job_id=`` (download.py:89-97,115) — idempotent re-run;
    - failed granules are reported but don't fail the run
      (download.py:238-267);
    - the checkpoint is deleted after a successful download
      (download.py:156-157).
    """
    if gedi_product not in ALLOWED_PRODUCTS:
        raise ValueError(f"gedi_product must be one of {ALLOWED_PRODUCTS}")
    directory = Path(directory)
    directory.mkdir(parents=True, exist_ok=True)
    client = client or _default_client()
    checkpoint = directory / CHECKPOINT_NAME

    if job_id is None and checkpoint.exists():
        job_id = checkpoint.read_text().strip()  # resume (download.py:89-97)

    if job_id is None:
        bbox = subset_bbox
        if bbox is None and subset_vector is not None:
            bbox = bbox_from_vector(subset_vector)
        request = {
            "collection": PRODUCT_MAPPING[gedi_product],
            "bbox": bbox,
            "time_range": time_range,
        }
        job_id = client.submit(request)
        checkpoint.write_text(job_id)  # download.py:115

    status = client.status(job_id)
    if status not in ("successful", "complete_with_errors"):
        raise RuntimeError(f"harmony job {job_id} in state {status!r}")

    failures = client.failure_report(job_id)
    paths = client.download_all(job_id, directory)
    checkpoint.unlink(missing_ok=True)  # download.py:156-157
    if failures:
        import warnings

        warnings.warn(f"{len(failures)} granules failed: {failures[:5]}", stacklevel=2)
    return paths, job_id
