"""build_assignment at a real-world feature count: 20 000 features (the
admin-0/admin-1 ring scale) plan as one Arrow local relation and match the
independent winding-number oracle at cell centres."""

import numpy as np

from aezspark.fixtures.oracle import winding_contains
from aezspark.geometry import BoundaryIndex, Polygon
from aezspark.grid import GridSpec
from aezspark.joins import build_assignment


def test_build_assignment_20k_features_matches_oracle(spark):
    # test_admin_names' `_real_name_world` shape, scaled up: one feature per
    # slot, 3 cells apart, 500 repeating country names. Each is a diamond of
    # radius 1.5 cells: it holds its centre cell and the 4 edge neighbours,
    # not the diagonal cells of its bbox, so the PIP filter really rejects.
    grid = GridSpec(grid_id=1, px_deg=0.25)
    r = 1.5 * grid.px_deg
    d = np.arange(-2, 3)
    dy, dx = (a.ravel() for a in np.meshgrid(d, d, indexing="ij"))
    polys, exp = [], set()
    for i in range(20_000):
        y, x = 5 + (i // 160) * 3, 5 + (i % 160) * 3
        lat, lon = float(grid.center_lat(y)), float(grid.center_lon(x))
        p = Polygon(i, f"C{i % 500:03d}",
                    np.array([lon, lon + r, lon, lon - r, lon]),
                    np.array([lat + r, lat, lat - r, lat, lat + r]))
        polys.append(p)
        # oracle: every cell centre of the 5×5 window around (y, x)
        ys, xs = y + dy, x + dx
        inside = winding_contains(grid.center_lon(xs), grid.center_lat(ys),
                                  p.ring_lons, p.ring_lats)
        exp |= {(int(grid.cell_id(cy, cx)), i, p.country)
                for cy, cx in zip(ys[inside], xs[inside])}
    assert len(exp) == 5 * len(polys)

    asg = build_assignment(spark, grid, BoundaryIndex(polys))
    plan = asg._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan.strip().splitlines()[-1], plan
    assert "ExistingRDD" not in plan and "Exchange" not in plan, plan

    got = asg.select("cell_id", "feature_id", "country").toPandas()
    assert len(got) == len(exp)
    assert set(got.itertuples(index=False, name=None)) == exp
