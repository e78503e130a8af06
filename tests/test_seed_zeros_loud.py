"""seed_zeros / rollup must FAIL LOUDLY on labels outside the expected grid
(ADVICE r1: the reference's accumulator raises KeyError on an unexpected
label; a silent left-join drop could shrink totals without failing parity)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from aezspark.regions import rollup
from aezspark.zonal import seed_zeros


def test_seed_zeros_passes_expected_and_zero_fills(spark):
    agg = spark.createDataFrame([("A", "1", 5.0)],
                                "country STRING, class STRING, km2 DOUBLE")
    countries = ["A", "B"]
    rows = {(r.country, r["class"]): r.km2
            for r in seed_zeros(agg, countries, ["1", "2"]).collect()}
    assert rows == {("A", "1"): 5.0, ("A", "2"): 0.0,
                    ("B", "1"): 0.0, ("B", "2"): 0.0}


def test_seed_zeros_raises_on_unexpected_class(spark):
    agg = spark.createDataFrame([("A", "99", 5.0)],
                                "country STRING, class STRING, km2 DOUBLE")
    countries = ["A"]
    with pytest.raises(Exception) as ei:
        seed_zeros(agg, countries, ["1", "2"]).collect()
    assert "seed_zeros" in str(ei.value)


def test_seed_zeros_raises_on_unexpected_country(spark):
    agg = spark.createDataFrame([("GHOST", "1", 5.0)],
                                "country STRING, class STRING, km2 DOUBLE")
    countries = ["A"]
    with pytest.raises(Exception) as ei:
        seed_zeros(agg, countries, ["1", "2"]).collect()
    assert "seed_zeros" in str(ei.value)


def test_rollup_raises_on_unknown_region(spark):
    long_df = spark.createDataFrame([("A", "1", 5.0)],
                                    "country STRING, class STRING, km2 DOUBLE")
    dim = spark.createDataFrame([("A", "Atlantis")], "country STRING, region STRING")
    with pytest.raises(Exception) as ei:
        rollup(long_df, dim, ["1"]).collect()
    assert "rollup" in str(ei.value)
