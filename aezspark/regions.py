"""Region rollup (J3/A4): list-valued country→region membership.

The reference adds each country's row to EVERY region in its mapping list
(`df_region.loc[region_list, :] += row`, extract_country_data.py:254-263) —
a many-to-many rollup. In Spark that is explode(regions) → join → grouped sum.
All 9 regions are pre-seeded with zeros in the fixed order
(extract_country_data.py:255-257).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .zonal import seed_grid

REGIONS = ["OECD90", "Eastern Europe", "Asia (Sans Japan)", "Middle East and Africa",
           "Latin America", "China", "India", "EU", "USA"]


def rollup(long_df: DataFrame, regions_dim: DataFrame,
           classes: list[str]) -> DataFrame:
    """(country, class, km2) → (region, class, km2).

    regions_dim: (country, region) exploded dim (sources.regions_dim).
    Countries with region=None simply don't join (reference skips them,
    extract_country_data.py:260-261). The dim is tiny → broadcast join.
    """
    agg = (long_df
           .join(F.broadcast(regions_dim), "country")
           .groupBy("region", "class")
           .agg(F.sum("km2").alias("km2")))
    # a membership row naming a region outside the fixed 9 must fail loudly
    # (the reference's df_region.loc[list] raises KeyError on an unknown
    # region), not silently vanish from the rollup
    return seed_grid(agg, "region", REGIONS, classes,
                     "rollup: region outside the fixed region list: ")
