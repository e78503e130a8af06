"""Production admin dim (VERDICT r1 item 4) + golden-CSV header parity
(item 5).

The engine ships the reference's real normalization / region-membership data
(admin_names.py:4-77, 81-408) as committed TSVs; these tests mirror the
reference's own test_admin_names.py:3-9 and then exercise the full zonal +
rollup pipeline over a fixture world of ~250 features carrying REAL Natural
Earth admin names — many-to-one normalization, dropped (None) features, and
list-valued region membership included."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from aezspark import admin
from aezspark.grid import GridSpec

REF_RESULTS = "/root/reference/results"


# ---------------------------------------------------------- dict semantics

def test_lookup():
    # mirrors /root/reference/test_admin_names.py:3-5
    assert admin.lookup("Cabo Verde") == "Cape Verde"
    assert admin.lookup("Scarborough Reef") is None
    # identity for unmapped names (admin_names.py:75-77)
    assert admin.lookup("France") == "France"


def test_region_mapping():
    # mirrors /root/reference/test_admin_names.py:7-9
    rm = admin.region_mapping()
    assert "OECD90" in rm["Belgium"]
    assert "EU" in rm["Belgium"]
    # list-valued membership beyond the EU case
    assert rm["American Samoa"] == ["Asia (Sans Japan)", "USA"]


def test_dim_sizes():
    assert len(admin.adminmap()) == 68          # admin_names.py:4-73
    rm = admin.region_mapping()
    # 326 keys in admin_names.py:81-408; None-mapped ones are omitted here
    assert len(rm) == 281
    assert sum(len(v) for v in rm.values()) == 320


def test_spark_dims(spark):
    a = admin.admin_dim(spark)
    assert a.count() == 68
    dropped = a.filter(F.col("canonical").isNull()).count()
    assert dropped == sum(1 for v in admin.adminmap().values() if v is None)
    m = admin.region_memberships_dim(spark)
    assert m.filter(F.col("country") == "Belgium").count() == 2


# ------------------------------------------- real-name zonal + rollup pipeline

def _real_name_world(spark):
    """~250 features with real admin names, one 2° cell each: every adminmap
    key (68: many-to-one + None cases) plus plain countries. Each feature's
    rectangle covers exactly one cell center, so expected per-country km² is
    exact arithmetic."""
    grid = GridSpec(grid_id=1, px_deg=2.0)  # 180 × 90
    admins = sorted(admin.adminmap().keys())
    plain = [c for c in sorted(admin.region_mapping().keys())
             if c not in admin.adminmap()][:182]
    admins = admins + plain
    feats = []
    for i, name in enumerate(admins):
        y = 5 + (i // 40) * 5
        x = 5 + (i % 40) * 4
        lat_c = float(grid.center_lat(y))
        lon_c = float(grid.center_lon(x))
        feats.append((i, name, y, x, lat_c, lon_c))
    return grid, feats


def test_zonal_rollup_with_real_admin_names(spark):
    from aezspark.geometry import BoundaryIndex, Polygon
    from aezspark.joins import build_assignment
    from aezspark.regions import REGIONS, rollup
    from aezspark.zonal import zonal_wk

    grid, feats = _real_name_world(spark)
    assert len(feats) == 250

    polys = []
    dropped = 0
    for fid, name, y, x, lat_c, lon_c in feats:
        country = admin.lookup(name)        # P4 normalization
        if country is None:
            dropped += 1
            continue
        half = grid.px_deg * 0.4
        lons = np.array([lon_c - half, lon_c + half, lon_c + half,
                         lon_c - half, lon_c - half])
        lats = np.array([lat_c - half, lat_c - half, lat_c + half,
                         lat_c + half, lat_c - half])
        polys.append(Polygon(fid, country, lons, lats))
    assert dropped == sum(1 for v in admin.adminmap().values() if v is None)

    index = BoundaryIndex(polys)
    asg = build_assignment(spark, grid, index).cache()

    # wk cells: class varies deterministically per feature position
    cells = spark.createDataFrame(
        [(int(grid.cell_id(y, x)), y, x, 1 + (y + x) % 7)
         for _, _, y, x, _, _ in feats],
        "cell_id LONG, y INT, x INT, wk_class INT")

    countries = sorted({p.country for p in polys})
    long_df = zonal_wk(asg, cells, grid, countries)

    # expected: many-to-one features SUM into their canonical country
    expected: dict[tuple, float] = {}
    for fid, name, y, x, _, _ in feats:
        country = admin.lookup(name)
        if country is None:
            continue
        cls = str(1 + (y + x) % 7)
        expected[(country, cls)] = (expected.get((country, cls), 0.0)
                                    + float(grid.km2_row(y)))
    got = {(r.country, r["class"]): r.km2
           for r in long_df.filter(F.col("km2") > 0).collect()}
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert got[k] == pytest.approx(v, rel=1e-9)
    # many-to-one really exercised: UK has many territories in adminmap
    uk_feats = [n for n, c in admin.adminmap().items() if c == "United Kingdom"]
    assert len(uk_feats) >= 10

    # J3/A4: list-valued region rollup over the REAL membership dim
    region_long = rollup(long_df, admin.region_memberships_dim(spark),
                         [str(i) for i in range(1, 8)])
    got_r = {(r.region, r["class"]): r.km2 for r in region_long.collect()}
    assert set(r for r, _ in got_r) == set(REGIONS)
    expected_r: dict[tuple, float] = {}
    rm = admin.region_mapping()
    for (country, cls), km2 in expected.items():
        for region in rm.get(country, []):
            if region in REGIONS:
                expected_r[(region, cls)] = expected_r.get((region, cls), 0.0) + km2
    for k, v in expected_r.items():
        assert got_r[k] == pytest.approx(v, rel=1e-9)
    # the many-to-many path is real: USA-region features exist via e.g.
    # 'American Samoa' → Asia (Sans Japan) AND USA
    assert got_r[("USA", "2")] >= 0.0


# ------------------------------------------------------- golden CSV headers

@pytest.mark.skipif(not os.path.isdir(REF_RESULTS),
                    reason="reference results not available")
@pytest.mark.parametrize("fname,classes", [
    ("AEZ-by-country.csv", "AEZ"),
    ("Land-Cover-by-country.csv", "LC"),
    ("Köppen-Geiger-present-by-country.csv", "KG"),
    ("FAO-Slope-by-country.csv", "FAO"),
    ("Workability-by-country.csv", "WK"),
])
def test_golden_csv_header_parity(tmp_path, spark, fname, classes):
    """The committed reference results/*.csv headers are real (not LFS stubs);
    our sink must reproduce name + order byte-for-byte (VERDICT item 5)."""
    from aezspark import decoders as D
    from aezspark.io import long_to_reference_csv
    from aezspark.zonal import AEZ_CLASSES

    class_lists = {
        "AEZ": AEZ_CLASSES,
        "LC": [str(c) for c in D.LCCS37],
        "KG": D.KG_CLASSES,
        "FAO": D.FAO_SLOPES,
        "WK": [str(i) for i in range(1, 8)],
    }
    cls = class_lists[classes]
    long_df = spark.createDataFrame(
        [("Testland", cls[0], 1.0)], "country STRING, class STRING, km2 DOUBLE")
    out = str(tmp_path / fname)
    long_to_reference_csv(long_df, cls, out)
    with open(out, encoding="utf-8") as f:
        got_header = f.readline()
    with open(os.path.join(REF_RESULTS, fname), encoding="utf-8") as f:
        ref_header = f.readline()
    assert got_header == ref_header
