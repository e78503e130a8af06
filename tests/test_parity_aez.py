"""Parity for the AEZ allocation pipeline, the 56-way degraded cross-class,
and the tile code assignment (process_imagery.py / degraded_analysis.py)."""

import pandas as pd

from tests.test_parity_zonal import _cmp


def test_aez_parity(world):
    got = world.aez()
    exp = world.expected("aez")
    _cmp(got, exp, ["country", "class"])


def test_aez_region_parity(world):
    from aezspark.zonal import AEZ_CLASSES

    aez = world.aez()
    got = world.region_rollup(aez, AEZ_CLASSES)
    exp = world.expected("region_aez")
    _cmp(got, exp, ["region", "class"])
    # every small dim (assignment chunks, seeding grids) is a JVM-only
    # LocalTableScan: no Python-list scan anywhere in the executed plans
    for df in (aez, world.zonal("wk"), got):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_degraded56_parity(world):
    got = world.degraded56()
    exp = world.expected("deg56")
    _cmp(got, exp, ["country", "class"])


def test_tiles_parity(world):
    got = (world.tiles()
           .select("cell_id", "aez_code", "slope_code", "lu_code", "soil_code")
           .toPandas().sort_values("cell_id").reset_index(drop=True))
    exp = (world.expected("tiles").toPandas()
           .sort_values("cell_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp[got.columns.tolist()], check_dtype=False)
