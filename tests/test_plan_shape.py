"""Plan-shape contract: every headline plan of PLANS.md keeps its node counts
(pushed filters, broadcast / sort-merge joins, shuffle / broadcast exchanges,
python nodes, cartesians). A plan regression fails here instead of hiding in
a noisy wall time; a deliberate plan change re-runs
`python tools/plan_audit.py` and updates PLANS.md and PINNED together."""

import pytest

from tools import plan_audit

COLUMNS = ("pushed", "bhj", "smj", "exchanges", "bcast_exchanges", "python",
           "cartesian")

# the PLANS.md summary table, column for column
PINNED = {
    "zonal_wk": (1, 1, 1, 2, 1, 1, 0),
    "aez": (3, 4, 1, 4, 4, 1, 0),
    "tiles": (4, 4, 0, 0, 4, 0, 0),
    "flagship_fused": (0, 0, 0, 1, 0, 1, 0),
    "embedding_neardup": (4, 2, 1, 2, 2, 0, 0),
    "within_distance": (1, 0, 0, 0, 0, 1, 0),
    "knn_topk": (1, 0, 0, 0, 0, 1, 0),
    "doc_assignment": (5, 5, 0, 0, 5, 1, 0),
    "simhash": (0, 1, 0, 2, 1, 0, 0),
    "ivf_probe_pruned": (0, 0, 0, 0, 0, 0, 0),
    "fao_slope_assembly": (0, 0, 0, 1, 0, 0, 0),
    "neardup_cc_round": (0, 0, 2, 4, 0, 0, 0),
}


@pytest.fixture(scope="module")
def plan_counts(spark, world):
    plans = plan_audit.headline_plans(spark, world, plan_audit.SF_DIR)
    return {name: plan_audit.counts(plan_audit.fmt_plan(df))
            for name, df in plans.items()}


def test_headline_plans_are_all_pinned(plan_counts):
    assert list(plan_counts) == list(PINNED), (
        "headline plan set changed: re-run `python tools/plan_audit.py` and "
        "update PINNED")


@pytest.mark.parametrize("name", list(PINNED))
def test_plan_shape(plan_counts, name):
    want = dict(zip(COLUMNS, PINNED[name]))
    assert plan_counts[name] == want, (
        f"{name}: plan shape changed; if intended, re-run "
        f"`python tools/plan_audit.py` and update PLANS.md and PINNED in the "
        f"same commit")
