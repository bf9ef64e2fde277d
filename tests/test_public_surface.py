"""Every public top-level ``def`` or ``class`` in the package has a
referrer outside ``tests/``: another package module, a tool, the
benchmark, or a root script. Words inside string literals count, so a
registry name, ``getattr`` or ``__all__`` use is a referrer. A function
only tests call is surface nothing uses; it either earns an entry in
``_KEEP`` with its reason or is deleted. Static check, no Spark."""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "gedixr_spark"

# Public definitions kept although only tests call them, keyed
# ``<module path under gedixr_spark/>::<name>``.
_KEEP = {
    "geo.py::st_transform": "X10 CRS transform (ancillary.py:147, extract.py:171)",
    "geo.py::st_transform_4326_to_utm_auto": "X10 CRS transform to the shot's UTM zone",
    "geo.py::st_x": "reads st_point back in test_geo",
    "geo.py::st_y": "reads st_point back in test_geo",
    "geo.py::wkb_point_xy": "decodes point_struct_to_wkb output in test_geo",
    "operators/raster.py::to_xarray": "A3 export, gdf_to_xr (xr.py:170-173)",
    "operators/raster.py::write_geotiff": "A3 export to GeoTIFF/COG (SURVEY A3); the one A3 export that runs without xarray",
    "operators/stats.py::observe_filter_stats": "A1 global filtered/total counts via df.observe",
    "pipeline.py::prepare_training_shards": "the training-shards north-star pipeline",
    "testing.py::make_granule": "synthetic HDF5 granule fixture",
    "testing.py::build_opener": "fake HDF5 opener fixture",
    "testing.py::intersects_reference": "numpy truth for the AOI join tests",
    "sources/geopackage.py::write_polygon_gpkg": "writes the AOI GeoPackages source tests read",
    "sources/geopackage.py::write_point_gpkg": "writes the point GeoPackages source tests read",
    "sources/jsonl.py::land_jsonl": "first step of test_ingest_lifecycle_composes",
    "sinks/versioned.py::live_delete_vectors": "observes deletion vectors in the DV and streaming-delete tests",
    "sinks/versioned.py::reset_metadata_cache": "cold-cache reads in the metadata-cache and checkpoint tests",
    "sinks/bucketed.py::plan_has_exchange": "observes the bucketed join's missing shuffle",
    "sinks/catalog.py::catalog_history": "observes the catalog publish race in test_catalog",
    "sinks/webdataset.py::read_webdataset": "reads back the webdataset sink",
    "operators/incremental.py::read_incremental_agg": "reads back the incremental aggregate state",
    "operators/layout.py::pruning_report": "measures compact_table's clustering in test_layout",
    "operators/sampling.py::leakage_audit": "checks leakage_safe_split leaves no cross-split pair",
    "operators/sampling.py::mixture_weights": "validated next to mixture_factors in test_sampling_clusters",
    "operators/sampling.py::epoch_order": "step of test_training_data_pipeline_v2_composes_r5_operators",
    "operators/classify.py::logreg_predict": "step of test_training_data_pipeline_v2_composes_r5_operators",
    "operators/classify.py::quality_feature_vector": "step of test_training_data_pipeline_v2_composes_r5_operators",
    "operators/text.py::train_bigram_lm": "step of test_training_data_pipeline_composes",
    "operators/text.py::perplexity_filter": "step of test_training_data_pipeline_composes",
    "operators/text.py::perplexity_cutoffs": "step of test_training_data_pipeline_composes",
    "operators/sketches.py::quantile_estimates": "reads quantile_sketches in the sketch accuracy tests",
    "operators/similarity.py::bq_encode": "materializes bq_pack codes in test_bq",
    "operators/zorder.py::append_clustered": "writes the z-clustered table test_zorder prunes",
    "streaming/events.py::read_event_stream": "the stream source the bronze sink tests read",
    "streaming/bronze.py::versioned_delete_query": "drives delete_stream_batch in test_streaming_bronze",
    # Test-only clusters whose deletion is the next surface cut (ROADMAP).
    "geo.py::nearest_shots": "next surface cut; tested in test_geo",
    "operators/diff.py::table_fingerprint": "next surface cut; tested in test_index_diff",
    "operators/embeddings.py::l2_normalize": "next surface cut; tested in test_embeddings_pca",
    "operators/embeddings.py::opq_rotation": "next surface cut; tested in test_embeddings_pca",
    "operators/events.py::rolling_anomaly_flags": "next surface cut; tested in test_gapfill",
    "operators/skew.py::key_histogram": "next surface cut; tested in test_geo_transform_skew",
    "operators/skew.py::salted_agg": "next surface cut; tested in test_geo_transform_skew",
    "operators/skew.py::salted_join": "next surface cut; tested in test_geo_transform_skew",
    "operators/text.py::phrase_search": "next surface cut; tested in test_index_diff",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _words(node: ast.AST) -> list[str]:
    """Identifiers, attribute names, imported names and the words of
    string literals under ``node``."""
    out = []
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.append(n.id)
        elif isinstance(n, ast.Attribute):
            out.append(n.attr)
        elif isinstance(n, ast.alias):
            out.extend(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.extend(_WORD.findall(n.value))
    return out


def _public_defs() -> dict[str, ast.AST]:
    out = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                out[f"{path.relative_to(PACKAGE).as_posix()}::{node.name}"] = node
    return out


def _unreferenced() -> set[str]:
    """Public definitions whose name occurs nowhere outside ``tests/``
    except inside their own definition."""
    defs = _public_defs()
    sources = list(PACKAGE.rglob("*.py"))
    sources += list((ROOT / "tools").glob("*.py"))
    sources += list((ROOT / "perfbench").glob("*.py"))
    sources += list(ROOT.glob("*.py"))
    counts: dict[str, int] = {}
    for path in sources:
        for w in _words(ast.parse(path.read_text())):
            counts[w] = counts.get(w, 0) + 1
    out = set()
    for key, node in defs.items():
        if counts.get(node.name, 0) <= _words(node).count(node.name):
            out.add(key)
    return out


def test_every_public_definition_has_a_referrer_or_a_reason():
    unreferenced = _unreferenced()
    missing = sorted(unreferenced - set(_KEEP))
    assert missing == [], (
        f"public definitions only tests use (delete them, or add them to "
        f"_KEEP with a reason): {missing}"
    )


def test_keep_table_is_exact():
    defs = _public_defs()
    stale = sorted(k for k in _KEEP if k not in defs)
    assert stale == [], f"_KEEP entries with no definition: {stale}"
    referenced = sorted(set(_KEEP) - _unreferenced())
    assert referenced == [], f"_KEEP entries that have a referrer: {referenced}"
    assert all(reason.strip() for reason in _KEEP.values())
