"""Zonal histograms + AEZ allocation algebra (A1-A7) as Spark aggregations.

The reference's accumulator (`df.loc[admin, col] += block_sum`, country-at-a-
time over mask blocks, extract_country_data.py:59-71 etc.) becomes one grouped
sum over the assignment⋈cells join — the big algorithmic win of the Spark
design (SURVEY §4): one pass over the data instead of O(countries × raster).
Skew handling is the map-side partial aggregate: each map task sends at most
one row per (country, class) to the shuffle, however hot the country.

All functions return LONG format (country, class, km2); pivoting to the
reference's wide CSV layout happens in io.py at the sink.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import decoders as D
from .grid import GridSpec, km2_col, cell_id_col
from .sources import local_dim

AEZ_CLASSES = [f"{t}|AEZ{n}" for t in D.TMR_ORDER for n in range(1, 30)]
DEG56_CLASSES = [f"{c}:{s}:{d}" for c in ['forest', 'cropland', 'grassland', 'bare',
                                          'urban', 'water', 'ice']
                 for d in ['degraded', 'nondegraded']
                 for s in ['good', 'marginal', 'poor', 'verypoor']]


def seed_grid(agg: DataFrame, key: str, keys: list[str], classes: list[str],
              err: str) -> DataFrame:
    """Pre-seed every (key, class) combination of the (key, class, km2)
    aggregate `agg` with 0.0. The keys × classes grid is one local_dim —
    a LocalTableScan, no crossJoin.

    A full outer join makes aggregated labels OUTSIDE the grid fail loudly
    (raise_error, message `err` + the offending key / class) instead of
    silently shrinking the totals."""
    grid_dim = local_dim(
        agg.sparkSession,
        pd.DataFrame({key: [k for k in keys for _ in classes],
                      "class": list(classes) * len(keys)}),
        f"{key} STRING, class STRING")
    joined = (grid_dim.withColumn("_expected", F.lit(True))
              .join(agg, [key, "class"], "full_outer"))
    km2 = (F.when(F.col("_expected").isNotNull(),
                  F.coalesce(F.col("km2"), F.lit(0.0)))
           .otherwise(F.raise_error(F.concat(
               F.lit(err), F.col(key), F.lit(" / "), F.col("class")))
               .cast("double")))
    return joined.select(key, "class", km2.alias("km2"))


def seed_zeros(agg: DataFrame, countries: list[str],
               classes: list[str]) -> DataFrame:
    """Pre-seed every (country, class) combination with 0.0 — the reference
    inserts an all-zero row per country on first sight and keeps every class
    column (extract_country_data.py:216,227-228), so zero cells must exist.

    A label outside the grid fails loudly: the reference would KeyError on
    an unexpected label (df.loc[admin, typ] raises), so a decoder
    regression must not pass parity by dropping rows."""
    return seed_grid(agg, "country", countries, classes,
                     "seed_zeros: aggregated label outside the expected "
                     "(country, class) grid: ")


def _finish(df: DataFrame, countries: list[str],
            classes: list[str]) -> DataFrame:
    agg = df.groupBy("country", "class").agg(F.sum("km2w").alias("km2"))
    return seed_zeros(agg, countries, classes)


def zonal_kg(asg: DataFrame, cells_kg: DataFrame, coarse: GridSpec,
             countries: list[str]) -> DataFrame:
    """Köppen-Geiger zonal histogram (KGlookup.km2,
    extract_country_data.py:59-71)."""
    df = (asg.join(cells_kg.select("cell_id", "kg_class"), "cell_id")
          .withColumn("class", D.kg_class_name(F.col("kg_class")))
          .filter(F.col("class").isNotNull())
          .withColumn("km2w", km2_col(coarse, F.col("y"))))
    return _finish(df, countries, D.KG_CLASSES)


def zonal_lc(asg_fine: DataFrame, cells_lc: DataFrame, fine: GridSpec,
             countries: list[str]) -> DataFrame:
    """Land-cover zonal histogram on the fine grid (ESA_LC_lookup runs on the
    333m masks, extract_country_data.py:98-109)."""
    df = (asg_fine.join(cells_lc.select("cell_id", "lccs"), "cell_id")
          .filter(D.lccs_valid(F.col("lccs")))
          .withColumn("class", F.col("lccs").cast("string"))
          .withColumn("km2w", km2_col(fine, F.col("y"))))
    return _finish(df, countries, [str(c) for c in D.LCCS37])


def zonal_slope(asg: DataFrame, cells_slope: DataFrame, coarse: GridSpec,
                countries: list[str]) -> DataFrame:
    """Geomorpho90m slope: 8 fraction bands, per-band NoData 127
    (GeomorphoLookup.km2, extract_country_data.py:127-133). The 8-band wide
    row is melted band→rows with a single explode."""
    bands = F.array(*[
        F.struct(F.lit(D.GAEZ_SLOPES[b - 1]).alias("class"),
                 F.col(f"c{b}").cast("double").alias("pct"))
        for b in range(1, 9)])
    df = (asg.join(cells_slope.select("cell_id", *[f"c{b}" for b in range(1, 9)]),
                   "cell_id")
          .select("country", "y", F.explode(bands).alias("b"))
          .select("country", "y", F.col("b.class").alias("class"),
                  F.col("b.pct").alias("pct"))
          .filter(F.col("pct") != 127)
          .withColumn("km2w", km2_col(coarse, F.col("y")) * F.col("pct") / F.lit(100.0)))
    return _finish(df, countries, D.GAEZ_SLOPES)


def zonal_slope_fao(asg: DataFrame, slope_fao: DataFrame, coarse: GridSpec,
                    countries: list[str]) -> DataFrame:
    """FAO slope variant: 8 separate files unioned with a band column,
    NoData 255 (FaoSlopeLookup.km2, extract_country_data.py:152-158)."""
    fao_arr = F.array(*[F.lit(s) for s in D.FAO_SLOPES])
    df = (asg.join(slope_fao.select("cell_id", "band", "pct"), "cell_id")
          .filter(F.col("pct") != 255)
          .withColumn("class", F.element_at(fao_arr, F.col("band")))
          .withColumn("km2w", km2_col(coarse, F.col("y"))
                      * F.col("pct").cast("double") / F.lit(100.0)))
    return _finish(df, countries, D.FAO_SLOPES)


def zonal_wk(asg: DataFrame, cells_wk: DataFrame, coarse: GridSpec,
             countries: list[str]) -> DataFrame:
    """Workability zonal histogram: classes 1..7 kept as-is, 0/255 skipped
    (WorkabilityLookup.km2, extract_country_data.py:173-183)."""
    df = (asg.join(cells_wk.select("cell_id", "wk_class"), "cell_id")
          .filter(F.col("wk_class").isin(list(range(1, 8))))
          .withColumn("class", F.col("wk_class").cast("string"))
          .withColumn("km2w", km2_col(coarse, F.col("y"))))
    return _finish(df, countries, [str(i) for i in range(1, 8)])


def zonal_dg(asg: DataFrame, cells_lpd: DataFrame, coarse: GridSpec,
             countries: list[str]) -> DataFrame:
    """Binary degraded-land histogram (DegradedLandLookup.km2,
    extract_country_data.py:193-202). The universe is the whole mask, so this
    LEFT-joins from the assignment: absent LPD rows read as raster fill 0 →
    nondegraded."""
    df = (asg.join(cells_lpd.select("cell_id", "lpd"), "cell_id", "left")
          .withColumn("class", D.degradation(F.col("lpd")))
          .withColumn("km2w", km2_col(coarse, F.col("y"))))
    return _finish(df, countries, ["degraded", "nondegraded"])


# ---------------------------------------------------------------- AEZ (A7)

def _lc_coarse_counts(cells_lc: DataFrame, coarse: GridSpec, class_idx,
                      lanes: int) -> DataFrame:
    """Per-coarse-cell histogram of a fine-raster class index, packed into
    4-bit lanes of ONE long (`lu_packed`): lane i counts the coarse cell's
    fine pixels whose class index is i. A ×3 refinement has exactly 9
    children, so every lane ≤ 9 < 16 — no overflow; pixels whose class is
    NULL (or absent from the fine table) are simply uncounted, recoverable
    as 9 − Σ lanes.

    This replaces the explode-×9 → fine-cell join formulation the per-pixel
    reference loop suggests (process_imagery.py:255-267): the fine raster is
    reduced by a map-side-combinable aggregation BEFORE any join, so its
    shuffle carries one 8-byte long per coarse cell instead of 9 wide
    attribute rows, and the class algebra downstream runs on 1/9 the rows.
    At the 100 TB shape the fine land-cover raster is the largest input and
    can never broadcast — this keeps its shuffle O(coarse cells), not
    O(fine pixels)."""
    assert 4 * lanes <= 64
    from .grid import XY_MASK, Y_SHIFT
    fy = F.shiftright(F.col("cell_id"), Y_SHIFT).bitwiseAND(F.lit(XY_MASK))
    fx = F.col("cell_id").bitwiseAND(F.lit(XY_MASK))
    key = cell_id_col(coarse.grid_id,
                      F.floor(fy / F.lit(3)).cast("long"),
                      F.floor(fx / F.lit(3)).cast("long"))
    # NOTE: deliberately a CaseWhen, not element_at(array, class_idx+1):
    # under whole-stage codegen, element_at with a nullable COMPUTED index
    # participates in subexpression elimination and reads the index's
    # primitive slot without its null flag (observed on Spark 4.1: a NULL
    # class contributed to a wrong lane / INVALID_INDEX_OF_ZERO under ANSI).
    # A when-chain is null-safe by construction: NULL matches no branch → 0.
    contrib = F.lit(0).cast("long")
    for i in range(lanes):
        contrib = (F.when(class_idx == i, F.lit(1 << (4 * i)).cast("long"))
                   .otherwise(contrib))
    return (cells_lc.select(key.alias("cell_id"), contrib.alias("_c"))
            .groupBy("cell_id").agg(F.sum("_c").alias("lu_packed")))


def _lane(packed, i: int):
    """Count in 4-bit lane i of a packed histogram, as a double weight."""
    return F.shiftright(packed, 4 * i).bitwiseAND(F.lit(15)).cast("double")


def _aez_weight_exprs(packed, soili, slope: dict):
    """The 29 AEZ weight expressions (yield_AEZs, process_imagery.py:137-198)
    over a packed per-coarse-cell land-use histogram: good+prime merged on
    moderate/steep AEZs; AEZ29 = bare∪ice∪urban plus barren-soil pixels not
    already counted as bare (the in-place barren[bare]=0 — non-bare here
    includes pixels with no land-cover class, hence 9 − n_bare).

    Each per-pixel indicator ind(lu==u & soilcond)·slope factorizes as
    n_u · ind(soilcond) · slope because soil and slope are coarse-cell
    attributes — the count replaces 9 identical per-pixel terms, so the
    projection is shift/mask arithmetic inside codegen on 1/9 the rows."""
    def ind(cond):
        return F.when(cond, F.lit(1.0)).otherwise(F.lit(0.0))

    ws = []
    for use_i in (0, 3, 2, 1):  # forest, grassland, irrigated, rainfed
        n_u = _lane(packed, use_i)
        ws.append(n_u * ind(soili == 1) * slope['minimal'])
        ws.append(n_u * ind(soili == 2) * slope['minimal'])
        ws.append(n_u * ind(soili.isin(1, 2)) * slope['moderate'])
        ws.append(n_u * ind(soili.isin(1, 2)) * slope['steep'])
        ws.append(n_u * ind(soili == 3) * slope['minimal'])
        ws.append(n_u * ind(soili == 3) * slope['moderate'])
        ws.append(n_u * ind(soili == 3) * slope['steep'])
    # bare, ice, urban are lu_idx 4, 7, 5
    n_bare = _lane(packed, 4) + _lane(packed, 7) + _lane(packed, 5)
    ws.append(n_bare + ind(soili == 4) * (F.lit(9.0) - n_bare))
    # order: reference yields forest(1-7), grassland(8-14), irrigated(15-21),
    # rainfed(22-28), AEZ29 — exactly the loop order above.
    return ws


def aez_long(asg: DataFrame, cells_kg: DataFrame, cells_slope: DataFrame,
             cells_wk: DataFrame, cells_lc: DataFrame, coarse: GridSpec,
             fine: GridSpec, countries: list[str]) -> DataFrame:
    """AEZ allocation per country (produce_CSV, process_imagery.py:201-281):
    multi-raster align join → class algebra → one grouped aggregation.

    Plan: join all coarse attrs on coarse cell_id; reduce the ×3-finer land
    cover to a packed per-coarse-cell land-use histogram (the reference's
    np.repeat ×3 explode, inverted into a partial aggregation — see
    `_lc_coarse_counts`); join the two coarse-keyed tables; compute the 29
    weight expressions over the counts; aggregate grouped by (country, tmr)
    — 29 sums per group, no row explosion anywhere — then melt the tiny
    result to long format. km2 stays the /9 per-fine-pixel share so count ×
    km2 reproduces the per-pixel sum exactly.
    """
    # dims pre-decoded before the join (see tiles.tile_codes): tmri / soili /
    # the three slope fractions are per-dim-row functions, so they are
    # evaluated once over ~35k dim rows instead of being inlined (the slope
    # sums up to 8×) into the 29 weight aggregates over the full assignment.
    # Identical values: same expressions over the same rows; a cell with no
    # slope row used to read fractions 0/0/0 through the _z coalesce —
    # reproduced by the post-join coalesces.
    frac = D.slope_fractions({b: F.col(f"c{b}") for b in range(1, 9)})
    slope_dim = cells_slope.select(
        "cell_id", frac['minimal'].alias("_sl_min"),
        frac['moderate'].alias("_sl_mod"), frac['steep'].alias("_sl_stp"))
    attrs = (asg
             .join(cells_kg.select("cell_id",
                                   D.tmr_idx(F.col("kg_class")).alias("tmri")),
                   "cell_id", "left")
             .join(slope_dim, "cell_id", "left")
             .join(cells_wk.select("cell_id",
                                   D.soil_idx(F.col("wk_class")).alias("soili")),
                   "cell_id", "left")
             .filter(F.col("tmri").isNotNull())  # invalid regime contributes 0
             .withColumn("km2", km2_col(coarse, F.col("y")) / F.lit(9.0)))

    lcc = _lc_coarse_counts(cells_lc, coarse, D.lu_idx(F.col("lccs")), 8)
    joined = attrs.join(lcc, "cell_id", "left")

    packed = F.coalesce(F.col("lu_packed"), F.lit(0).cast("long"))
    soili = F.col("soili")
    slope = {'minimal': F.coalesce("_sl_min", F.lit(0.0)),
             'moderate': F.coalesce("_sl_mod", F.lit(0.0)),
             'steep': F.coalesce("_sl_stp", F.lit(0.0))}
    ws = _aez_weight_exprs(packed, soili, slope)

    # weights computed in a PROJECTION, aggregation sums plain columns:
    # identical per-row expressions and the same per-group addition tree
    # (bit-identical result), but the generated aggregate shrinks from 29
    # complex update expressions to 29 column sums — measured cold (first
    # run, compile included) 6.6–7.0 s → 3.9–4.0 s for the full aez query
    weighted = joined.select(
        "country", "tmri",
        *[(w * F.col("km2")).alias(f"w{n}") for n, w in enumerate(ws, 1)])
    agg = (weighted.groupBy("country", "tmri")
           .agg(*[F.sum(f"w{n}").alias(f"a{n}") for n in range(1, 30)]))

    tmr_name = F.element_at(F.array(*[F.lit(t) for t in D.TMR_ORDER]),
                            F.col("tmri").cast("int"))
    stack_expr = "stack(29, " + ", ".join(
        f"'{n}', a{n}" for n in range(1, 30)) + ") as (aez_n, km2)"
    melted = (agg.select("country", tmr_name.alias("tmr"), F.expr(stack_expr))
              .withColumn("class", F.concat(F.col("tmr"), F.lit("|AEZ"),
                                            F.col("aez_n")))
              .groupBy("country", "class").agg(F.sum("km2").alias("km2")))
    return seed_zeros(melted, countries, AEZ_CLASSES)


def degraded56_long(asg: DataFrame, cells_lc: DataFrame, cells_lpd: DataFrame,
                    cells_wk: DataFrame, coarse: GridSpec, fine: GridSpec,
                    countries: list[str]) -> DataFrame:
    """56-way cover × degradation × workability cross-class
    (degraded_analysis.py:35-166). Single narrow groupBy over the coarse
    universe — the reference's triple loop is just a composite group key,
    and the ×3-finer cover raster arrives as a packed per-coarse-cell
    histogram (`_lc_coarse_counts`: 7 cover classes × ≤9 pixels in 4-bit
    lanes), so no explode and no fine-pixel join; each present cover class
    contributes one row weighted count × km2/9."""
    attrs = (asg
             .join(cells_lpd.select("cell_id", "lpd"), "cell_id", "left")
             .join(cells_wk.select("cell_id", "wk_class"), "cell_id", "left")
             .withColumn("km2", km2_col(coarse, F.col("y")) / F.lit(9.0)))
    lcc = _lc_coarse_counts(cells_lc, coarse, D.cover56_idx(F.col("lccs")),
                            len(D.COVER56_ORDER))
    joined = attrs.join(lcc, "cell_id", "left")
    packed = F.coalesce(F.col("lu_packed"), F.lit(0).cast("long"))
    lanes = F.array(*[_lane(packed, i) for i in range(len(D.COVER56_ORDER))])
    cover = F.element_at(F.array(*[F.lit(c) for c in D.COVER56_ORDER]),
                         F.col("ci") + 1)
    df = (joined
          .withColumn("soil", D.workability4(F.col("wk_class")))
          .withColumn("deg", D.degradation(F.col("lpd")))
          .filter(F.col("soil").isNotNull())
          .select("country", "km2", "soil", "deg",
                  F.posexplode(lanes).alias("ci", "n"))
          .filter(F.col("n") > 0)  # absent/NULL-cover pixels contribute 0
          .withColumn("class", F.concat_ws(":", cover, F.col("soil"),
                                           F.col("deg")))
          .withColumn("km2w", F.col("km2") * F.col("n")))
    return _finish(df, countries, DEG56_CLASSES)
