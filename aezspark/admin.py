"""Production admin-name normalization + region-membership dim (P4 / J3).

The reference's dim is a pure-Python module (admin_names.py:4-73 `adminmap`,
:75-77 `lookup`, :81-408 `region_mapping`). The engine carries the same data
as committed TSVs (aezspark/data/, regenerated by tools/extract_admin_dim.py)
and exposes it both driver-side (dicts, for BoundaryIndex construction /
fixture generation) and Spark-side (the region-membership dim).

Semantics reproduced exactly:
  * lookup(admin) = adminmap.get(admin, admin) — identity when unmapped;
    None ⇒ the feature is DROPPED before the spatial join
    (extract_country_data.py:223-224);
  * many-to-one: several Natural Earth features normalize to one country
    (e.g. every UK overseas territory → 'United Kingdom') and their areas SUM
    in the zonal accumulator;
  * region membership is LIST-valued: a country may roll up into several
    regions (e.g. Belgium → OECD90 and EU; extract_country_data.py:260-262);
    countries mapped to None/absent are skipped by the rollup.
"""

from __future__ import annotations

import os
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .sources import local_dim

_DATA_DIR = os.path.join(os.path.dirname(__file__), "data")


def _read_tsv(name: str) -> list[tuple[str, str]]:
    rows = []
    with open(os.path.join(_DATA_DIR, name), encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            a, b = line.split("\t")
            rows.append((a, b))
    return rows


@lru_cache(maxsize=1)
def adminmap() -> dict[str, str | None]:
    """admin → canonical country (None ⇒ drop). admin_names.py:4-73."""
    return {a: (b if b else None) for a, b in _read_tsv("admin_names.tsv")}


def lookup(admin: str) -> str | None:
    """admin_names.lookup (admin_names.py:75-77): mapped name, identity when
    unmapped, None ⇒ feature dropped."""
    return adminmap().get(admin, admin)


@lru_cache(maxsize=1)
def region_mapping() -> dict[str, list[str]]:
    """country → list of regions (admin_names.py:81-408); countries with no
    membership are absent (≡ mapped to None — both skip the rollup)."""
    out: dict[str, list[str]] = {}
    for country, region in _read_tsv("region_mapping.tsv"):
        out.setdefault(country, []).append(region)
    return out


def region_memberships_dim(spark: SparkSession) -> DataFrame:
    """(country, region) exploded membership dim — the production input to
    regions.rollup. Tiny — always broadcast."""
    rows = [(c, r) for c, regions in region_mapping().items() for r in regions]
    return local_dim(spark, pd.DataFrame(rows, columns=["country", "region"]),
                     "country STRING, region STRING")
