"""S1-S3 HDF5 source plumbing with a deterministic fake granule opener
(h5py is not installed here; the Spark-side schema/partitioning/fault
isolation is real — SURVEY.md §2.1 S2). The opener is a closure so
cloudpickle ships the fake granule data to the Python workers.
"""

import numpy as np
import pytest

from gedixr_spark.constants import DEFAULT_BASE, effective_schema
from gedixr_spark.operators.stats import error_accumulator
from gedixr_spark.sources.hdf5 import (
    ShotNumberError,
    _extract_one,
    discover_granules,
    read_granules,
)
from gedixr_spark.testing import build_opener, make_granule


@pytest.fixture(scope="module")
def granule_env(tmp_path_factory):
    d = tmp_path_factory.mktemp("granules")
    names = [
        "GEDI02_A_2020095010203_O0001_V002.h5",
        "GEDI02_A_2020200120000_O0002_V002.h5",
        "sub/GEDI02_A_2021010000000_O0003_V002.h5",
        "GEDI02_B_2020095010203_O0004_V002.h5",  # other product
        "GEDI02_A_2020300000000_corrupt_V002.h5",
    ]
    for n in names:
        p = d / n
        p.parent.mkdir(exist_ok=True)
        p.write_bytes(b"")
    opener = build_opener(
        {
            "GEDI02_A_2020095010203_O0001_V002.h5": make_granule(5, ["BEAM0000", "BEAM0101"], seed=1),
            "GEDI02_A_2020200120000_O0002_V002.h5": make_granule(3, ["BEAM0101"], seed=2),
            "GEDI02_A_2021010000000_O0003_V002.h5": make_granule(4, ["BEAM0000"], seed=3),
            "GEDI02_A_2020300000000_corrupt_V002.h5": make_granule(9, ["BEAM0000"], seed=4),
        }
    )
    return d, opener


def test_discover_granules_recursive_and_product_scoped(spark, granule_env):
    d, _ = granule_env
    inv = discover_granules(spark, d, "L2A")
    rows = inv.collect()
    assert len(rows) == 4  # L2B file excluded; sub/ included (rglob)
    assert all("GEDI02_A" in r["file_name"] for r in rows)
    ts = {r["file_name"]: r["acq_time"] for r in rows}
    assert ts["GEDI02_A_2020095010203_O0001_V002.h5"].month == 4  # day 95


def test_read_granules_full_pipeline(spark, granule_env):
    d, opener = granule_env
    inv = discover_granules(spark, d, "L2A")
    acc = error_accumulator(spark)
    layers = effective_schema("L2A")
    df = read_granules(inv, "L2A", layers, granule_opener=opener, error_acc=acc)
    rows = df.collect()
    # corrupt granule contributes 0 rows but doesn't fail the job
    assert len(rows) == 5 + 5 + 3 + 4
    assert acc.value == 1  # extract.py:191-194 semantics
    # shot is an 18-char zero-padded string (extract.py:290)
    assert all(len(r["shot"]) == 18 for r in rows)
    # rh98 extracted from the rh array as cm int (extract.py:281-286)
    assert all(isinstance(r["rh98"], int) and 0 <= r["rh98"] <= 6000 for r in rows)
    # acq_time stamped per granule from the filename (extract.py:299)
    assert all(r["acq_time"] is not None for r in rows)


def test_read_granules_beam_pruning(spark, granule_env):
    d, opener = granule_env
    inv = discover_granules(spark, d, "L2A")
    layers = DEFAULT_BASE["L2A"]
    df = read_granules(inv, "L2A", layers, beams="power", granule_opener=opener)
    beams = {r["beam"] for r in df.select("beam").distinct().collect()}
    assert beams == {"BEAM0101"}  # only power beams read


def test_read_granules_month_pruning_skips_files(spark, granule_env):
    d, opener = granule_env
    inv = discover_granules(spark, d, "L2A")
    layers = DEFAULT_BASE["L2A"]
    df = read_granules(inv, "L2A", layers, filter_month=(4, 4), granule_opener=opener)
    assert df.count() == 10  # only the day-095 (April) granule: 2 beams × 5 shots


def test_read_granules_empty_inventory(spark, tmp_path, granule_env):
    _, opener = granule_env
    inv = discover_granules(spark, tmp_path, "L2A")
    layers = DEFAULT_BASE["L2A"]
    df = read_granules(inv, "L2A", layers, granule_opener=opener)
    assert df.count() == 0 and "shot" in df.columns


def _shot_granule(tmp_path, shots):
    g = make_granule(len(shots), ["BEAM0000"], seed=5)
    g["BEAM0000"]["shot_number"] = np.array(shots, dtype=np.uint64)
    name = "GEDI02_A_2020095010203_O0001_V002.h5"
    (tmp_path / name).write_bytes(b"")
    return str(tmp_path / name), build_opener({name: g})


def test_shot_crosses_arrow_as_int64_and_pads_without_truncating(spark, tmp_path):
    """The reader ships shot as int64 and formats it in the JVM: short
    numbers pad to 18 digits, 19-digit numbers keep every digit."""
    _, opener = _shot_granule(tmp_path, [7, 10**18 + 5, 2**63 - 1])
    inv = discover_granules(spark, tmp_path, "L2A")
    df = read_granules(inv, "L2A", DEFAULT_BASE["L2A"], granule_opener=opener)
    assert dict(df.dtypes)["shot"] == "string"
    assert sorted(r["shot"] for r in df.collect()) == [
        "000000000000000007",
        "1000000000000000005",
        "9223372036854775807",
    ]


def test_shot_at_or_above_2_63_raises(spark, tmp_path):
    """A shot number that int64 cannot hold fails the read instead of
    wrapping to a negative number (or being absorbed as a corrupt
    granule)."""
    path, opener = _shot_granule(tmp_path, [1, 2**63, 3])
    with pytest.raises(ShotNumberError):
        _extract_one(opener, path, None, ["BEAM0000"], DEFAULT_BASE["L2A"], [])
    acc = error_accumulator(spark)
    inv = discover_granules(spark, tmp_path, "L2A")
    df = read_granules(inv, "L2A", DEFAULT_BASE["L2A"], granule_opener=opener, error_acc=acc)
    with pytest.raises(Exception, match="ShotNumberError"):
        df.collect()
    assert acc.value == 0
