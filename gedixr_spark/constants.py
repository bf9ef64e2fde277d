"""Schema registry and product constants.

Mirrors the *semantics* (not the code) of the reference's
``gedixr/constants.py:1-38``: allowed products, filename glob patterns,
beam groups, and the declared per-product projection schema
``DEFAULT_BASE + DEFAULT_VARIABLES`` (reference ``extract.py:124``).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ByteType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

ALLOWED_PRODUCTS = ("L2A", "L2B")

# HDF5 collection short-names (reference constants.py:2-5).
PRODUCT_MAPPING = {"L2A": "GEDI02_A", "L2B": "GEDI02_B"}

# Granule filename globs (reference constants.py:7-8).
PATTERN = {"L2A": "*GEDI02_A_*.h5", "L2B": "*GEDI02_B_*.h5"}

# Regex that extracts the 13-digit day-of-year timestamp token from a
# granule filename (reference extract.py:234) — group 1 is the token.
FILENAME_DATE_REGEX = r"[AB]_(\d{13})"
# Spark datetime pattern for %Y%j%H%M%S (reference extract.py:236).
FILENAME_DATE_FORMAT = "yyyyDDDHHmmss"

# Beam groups (reference constants.py:10-11).
POWER_BEAMS = ("BEAM0101", "BEAM0110", "BEAM1000", "BEAM1011")
COVERAGE_BEAMS = ("BEAM0000", "BEAM0001", "BEAM0010", "BEAM0011")
ALL_BEAMS = COVERAGE_BEAMS + POWER_BEAMS

# Declared projection: ordered (output_column, hdf5_layer_path) tuples.
# Reference constants.py:20-38 (base) and 13-18 (default variables).
DEFAULT_BASE = {
    "L2A": [
        ("shot", "shot_number"),
        ("latitude", "lat_lowestmode"),
        ("longitude", "lon_lowestmode"),
        ("elev", "elev_lowestmode"),
        ("elev_dem_tdx", "digital_elevation_model"),
        ("degrade_flag", "degrade_flag"),
        ("quality_flag", "quality_flag"),
        ("sensitivity", "sensitivity"),
        ("num_detectedmodes", "num_detectedmodes"),
    ],
    "L2B": [
        ("shot", "shot_number"),
        ("latitude", "geolocation/lat_lowestmode"),
        ("longitude", "geolocation/lon_lowestmode"),
        ("elev", "geolocation/elev_lowestmode"),
        ("elev_dem_tdx", "geolocation/digital_elevation_model"),
        ("degrade_flag", "geolocation/degrade_flag"),
        ("quality_flag", "l2b_quality_flag"),
        ("sensitivity", "sensitivity"),
        ("num_detectedmodes", "num_detectedmodes"),
    ],
}

DEFAULT_VARIABLES = {
    "L2A": [("rh98", "rh98")],
    "L2B": [("tcc", "cover"), ("fhd", "fhd_normal"), ("pai", "pai"), ("rh100", "rh100")],
}


def effective_schema(product: str, variables: list[tuple[str, str]] | None = None):
    """``DEFAULT_BASE[product] + variables`` (reference extract.py:106-111,124)."""
    if product not in ALLOWED_PRODUCTS:
        raise ValueError(f"product must be one of {ALLOWED_PRODUCTS}, got {product!r}")
    return list(DEFAULT_BASE[product]) + list(
        variables if variables is not None else DEFAULT_VARIABLES[product]
    )


# Flat Spark schema of an extracted shot table (SURVEY.md §1.3 mapping).
# ``shot`` is kept as the zero-padded 18-char string the reference emits
# (extract.py:290); lat/lon stay until geometry construction drops them.
def shot_struct(product: str, variables: list[tuple[str, str]] | None = None) -> StructType:
    var_fields = {
        "rh98": IntegerType(),  # cm, reference extract.py:285
        "tcc": DoubleType(),
        "fhd": DoubleType(),
        "pai": DoubleType(),
        "rh100": DoubleType(),
    }
    fields = [
        StructField("shot", StringType(), False),
        StructField("beam", StringType(), True),
        StructField("latitude", DoubleType(), True),
        StructField("longitude", DoubleType(), True),
        StructField("elev", DoubleType(), True),
        StructField("elev_dem_tdx", DoubleType(), True),
        StructField("degrade_flag", ByteType(), True),
        StructField("quality_flag", ByteType(), True),
        StructField("sensitivity", DoubleType(), True),
        StructField("num_detectedmodes", IntegerType(), True),
        StructField("acq_time", TimestampType(), True),
    ]
    for name, _layer in effective_schema(product, variables):
        if name in {f.name for f in fields}:
            continue
        fields.append(StructField(name, var_fields.get(name, DoubleType()), True))
    return StructType(fields)


# Reference raster default: (-0.0003, 0.0003) degrees ≈ 30 m (xr.py:168-169).
DEFAULT_RASTER_RESOLUTION = (-0.0003, 0.0003)
