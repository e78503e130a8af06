"""Table sources: fixture-world parquet scans + the boundaries dim.

The raster "fact tables" are long cell tables in parquet (SURVEY §1.1 S1):
Catalyst gives block-aligned scans, column pruning, and min/max row-group
skipping for free — the Spark equivalents of the reference's GetBlockSize
iteration (extract_country_data.py:236), band-selective reads (:128-129) and
sparse-block skipping (geoutil.py:28-32).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .geometry import BoundaryIndex, Polygon


def local_dim(spark: SparkSession, pdf: pd.DataFrame, schema: str) -> DataFrame:
    """The one way to build a small driver-side dim: `pdf` (columns named as
    in the DDL `schema`) shipped to the JVM as Arrow batches. The plan leaf
    is a LocalTableScan, evaluated in the JVM alone — no Python worker, and
    no per-row literal expressions for analysis and codegen to carry. Its
    partitioning is LocalTableScan's own: min(rows, default parallelism)
    contiguous row slices. Going through a pyarrow Table keeps the Arrow
    path whatever the session's Arrow conf, and for an empty `pdf` too."""
    return spark.createDataFrame(pa.Table.from_pandas(pdf, preserve_index=False),
                                 schema)


def read_cells(spark: SparkSession, fx_dir: str, name: str) -> DataFrame:
    """Cell-table scan through the snapshot-table layer (north rule: every
    pipeline input is a table — the documents corpus got this in round 5,
    the raster cell tables get it here): zero-copy manifest import with
    per-file cell_id min/max stats, so zonal/tile readers can file-skip via
    read(where=) and staleness (U12) covers every input. Plan shape and
    bytes read are unchanged on a straight scan (same physical files)."""
    from .tables import imported_read

    return imported_read(spark, os.path.join(fx_dir, f"{name}.parquet"),
                         stat_cols=("cell_id",))


def read_slope_fao(spark: SparkSession, fx_dir: str) -> DataFrame:
    """Multi-file lockstep scan (S6): the FAO slope dataset ships as 8
    single-band files (extract_country_data.py:147-158); union them into one
    table with a band column."""
    from pyspark.sql import functions as F

    dfs = []
    for b in range(1, 9):
        df = read_cells(spark, fx_dir, f"cells_slope_fao_b{b}")
        dfs.append(df.withColumn("band", F.lit(b)))
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def assemble_slope_fao(spark: SparkSession, fx_dir: str) -> DataFrame:
    """FAO slope band assembly (data/FAO/classify_slope.py:41-63): the 8
    single-band GloSlopesCl{1..8}_30as files assembled into ONE wide 8-band
    table — the engine form of the reference's band-by-band WriteArray loop
    into a 9-band sparse GeoTIFF. Per-band NoData (255) values pass through
    unchanged; a pixel that is NoData in EVERY band is dropped entirely (the
    sparse-output semantics: an all-NoData block is never written,
    SPARSE_OK=TRUE + SetNoDataValue). The reference script contains no
    classification math — the geomorpho90m variant with the floor-mean
    classification is decoders.classify_slope.

    Plan shape: tagged union scan (S6) → 8 conditional MAX aggregates on the
    pixel key — one shuffle, no 8-way self-join; at planet scale the 8 scans
    are band-aligned parquet reads and the aggregation is map-side partial
    per file split."""
    from pyspark.sql import functions as F

    long = read_slope_fao(spark, fx_dir)
    wide = (long.groupBy("cell_id", "y", "x")
            .agg(*[F.max(F.when(F.col("band") == b, F.col("pct")))
                   .cast("int").alias(f"cl{b}") for b in range(1, 9)]))
    any_data = None
    for b in range(1, 9):
        c = F.col(f"cl{b}") != 255
        any_data = c if any_data is None else (any_data | c)
    return wide.filter(any_data)


def read_boundaries(spark: SparkSession, fx_dir: str) -> DataFrame:
    """Boundary dim through the snapshot-table import (no stat cols — the
    dim is collected whole to build the broadcast index)."""
    from .tables import imported_read

    return imported_read(spark, os.path.join(fx_dir, "boundaries.parquet"))


def boundaries_to_polygons(boundaries_df: DataFrame) -> list[Polygon]:
    """Collect the (small, broadcastable-by-design) boundary dim to driver
    Polygon objects, applying admin-name normalization semantics: rows whose
    country is null are dropped (extract_country_data.py:223-224)."""
    rows = boundaries_df.select("feature_id", "country", "ring_lats", "ring_lons",
                                "hole_lats", "hole_lons").collect()
    polys = []
    for r in sorted(rows, key=lambda r: r.feature_id):
        if r.country is None:
            continue
        polys.append(Polygon(
            feature_id=int(r.feature_id),
            country=r.country,
            ring_lons=np.array(r.ring_lons, dtype=np.float64),
            ring_lats=np.array(r.ring_lats, dtype=np.float64),
            hole_lons=[np.array(h, dtype=np.float64) for h in (r.hole_lons or [])],
            hole_lats=[np.array(h, dtype=np.float64) for h in (r.hole_lats or [])],
        ))
    return polys


def boundary_index_from_path(fx_dir: str) -> BoundaryIndex:
    """Build the broadcast boundary index with a DRIVER-SIDE pyarrow read of
    the boundaries parquet — the dim is a handful of rows, and routing its
    collect through a Spark job cost two fixed-latency actions (~1 s of the
    flagship's timed first run: read+plan, then collect) for data the driver
    reads in milliseconds. Same rows, same normalization (null countries
    dropped, feature_id sort) as boundaries_to_polygons — pinned by
    tests/test_geometry_perf.py::test_pyarrow_index_equals_spark_index. The
    Spark-side boundaries TABLE (countries/regions dims, snapshot-table
    import) is unchanged; only the index build skips the executor round trip."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(fx_dir, "boundaries.parquet"),
                        columns=["feature_id", "country", "ring_lats",
                                 "ring_lons", "hole_lats", "hole_lons"])
    polys = []
    for r in sorted(tbl.to_pylist(), key=lambda r: r["feature_id"]):
        if r["country"] is None:
            continue
        polys.append(Polygon(
            feature_id=int(r["feature_id"]),
            country=r["country"],
            ring_lons=np.array(r["ring_lons"], dtype=np.float64),
            ring_lats=np.array(r["ring_lats"], dtype=np.float64),
            hole_lons=[np.array(h, dtype=np.float64)
                       for h in (r["hole_lons"] or [])],
            hole_lats=[np.array(h, dtype=np.float64)
                       for h in (r["hole_lats"] or [])],
        ))
    return BoundaryIndex(polys)


def countries_dim(spark: SparkSession, boundaries_df: DataFrame) -> DataFrame:
    """Distinct post-normalization countries (the pre-seeded all-zero rows of
    the reference accumulator, extract_country_data.py:227-228)."""
    from pyspark.sql import functions as F

    return (boundaries_df.filter(F.col("country").isNotNull())
            .select("country").distinct())


def regions_dim(spark: SparkSession, boundaries_df: DataFrame) -> DataFrame:
    """country → region exploded dim (list-valued membership,
    admin_names.py:81-408)."""
    from pyspark.sql import functions as F

    return (boundaries_df
            .filter(F.col("country").isNotNull() & F.col("regions").isNotNull())
            .select("country", "regions").distinct()
            .select("country", F.explode("regions").alias("region")))
