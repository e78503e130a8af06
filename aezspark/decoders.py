"""Dataset classification projections P1-P11 as Catalyst Column expressions.

Each reference decoder class (extract_country_data.py:33-205) and classifier
function (process_imagery.py:82-134, degraded_analysis.py:115-145) becomes a
pure Column expression — JVM-side, inside whole-stage codegen, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Beck legend value i+1 ↔ class name (KGlookup.kg_colors order,
# extract_country_data.py:39-51; P1)
KG_CLASSES = ['Af', 'Am', 'Aw', 'BWh', 'BWk', 'BSh', 'BSk', 'Csa', 'Csb', 'Csc',
              'Cwa', 'Cwb', 'Cwc', 'Cfa', 'Cfb', 'Cfc', 'Dsa', 'Dsb', 'Dsc', 'Dsd',
              'Dwa', 'Dwb', 'Dwc', 'Dwd', 'Dfa', 'Dfb', 'Dfc', 'Dfd', 'ET', 'EF']

LCCS37 = [10, 11, 12, 20, 30, 40, 50, 60, 61, 62, 70, 71, 72, 80, 81, 82, 90, 100,
          110, 120, 121, 122, 130, 140, 150, 151, 152, 153, 160, 170, 180, 190,
          200, 201, 202, 210, 220]

GAEZ_SLOPES = ["0-0.5%", "0.5-2%", "2-5%", "5-10%", "10-15%", "15-30%", "30-45%", ">45%"]
FAO_SLOPES = ["0-0.5%", "0.5-2%", "2-5%", "5-8%", "8-15%", "15-30%", "30-45%", ">45%"]

TMR_ORDER = ['tropical-humid', 'arid', 'tropical-semiarid', 'temperate-humid',
             'temperate-semiarid', 'boreal-humid', 'boreal-semiarid', 'arctic']
TMR_BASE = {t: 30 * i for i, t in enumerate(TMR_ORDER)}  # process_imagery.py:33-41

FOREST_LC = [12, 50, 60, 61, 62, 70, 71, 72, 80, 81, 82, 90, 100, 160, 170]
GRASS_LC = [11, 40, 110, 120, 121, 122, 130, 150, 151, 152, 153, 180]
BARE_LC = [140, 200, 201, 202]

LU_NAMES = ['forest', 'cropland_rainfed', 'cropland_irrigated', 'grassland',
            'bare', 'urban', 'water', 'ice']


def kg_class_name(kg: Column) -> Column:
    """P1: Beck code (1..30) → KG class name; 0/invalid → NULL (the blank
    white/black colors skipped at extract_country_data.py:67-69)."""
    arr = F.array(*[F.lit(c) for c in KG_CLASSES])
    return F.when((kg >= 1) & (kg <= 30), F.element_at(arr, kg.cast("int")))


def lccs_valid(lccs: Column) -> Column:
    """P2/P3: valid LCCS codes only (0/255 skipped,
    extract_country_data.py:107)."""
    return lccs.isin(LCCS37)


def tmr(kg: Column) -> Column:
    """P5: thermal-moisture regime (populate_tmr, process_imagery.py:82-96);
    NULL = invalid (kg 0 or > 30)."""
    return (F.when(kg.isin(1, 2, 3), 'tropical-humid')
            .when(kg.isin(4, 5), 'arid')
            .when(kg.isin(6, 7), 'tropical-semiarid')
            .when(kg.isin(8, 9, 10), 'temperate-semiarid')
            .when(kg.isin(11, 12, 13, 14, 15, 16), 'temperate-humid')
            .when(kg.isin(17, 18, 19, 20, 21, 22, 23, 24), 'boreal-semiarid')
            .when(kg.isin(25, 26, 27, 28), 'boreal-humid')
            .when(kg.isin(29, 30), 'arctic'))


def land_use(lccs: Column) -> Column:
    """P6 (AEZ variant, process_imagery.py:107-124); NULL = none."""
    return (F.when(lccs.isin(FOREST_LC), 'forest')
            .when(lccs.isin(10, 30), 'cropland_rainfed')
            .when(lccs == 20, 'cropland_irrigated')
            .when(lccs.isin(GRASS_LC), 'grassland')
            .when(lccs.isin(BARE_LC), 'bare')
            .when(lccs == 190, 'urban')
            .when(lccs == 210, 'water')
            .when(lccs == 220, 'ice'))


COVER56_ORDER = ['forest', 'cropland', 'grassland', 'bare', 'urban', 'water',
                 'ice']


def cover56_idx(lccs: Column) -> Column:
    """P6 cover class as a 0-based index into COVER56_ORDER (the packed-
    histogram form of cover56; degraded_analysis.py:115-131): cropland
    merged, LCCS 100 in grassland (not forest)."""
    return (F.when(lccs.isin([c for c in FOREST_LC if c != 100]), 0)
            .when(lccs.isin(10, 30, 20), 1)
            .when(lccs.isin(GRASS_LC + [100]), 2)
            .when(lccs.isin(BARE_LC), 3)
            .when(lccs == 190, 4)
            .when(lccs == 210, 5)
            .when(lccs == 220, 6))


def cover56(lccs: Column) -> Column:
    """P6 degraded-analysis variant (degraded_analysis.py:115-131): cropland
    merged, LCCS 100 in grassland (not forest). Must classify identically to
    cover56_idx (the packed-histogram form) — keep the two when-chains in
    lockstep. Not element_at(array, idx+1): a nullable computed index inside
    element_at misevaluates under codegen subexpression elimination."""
    return (F.when(lccs.isin([c for c in FOREST_LC if c != 100]), 'forest')
            .when(lccs.isin(10, 30, 20), 'cropland')
            .when(lccs.isin(GRASS_LC + [100]), 'grassland')
            .when(lccs.isin(BARE_LC), 'bare')
            .when(lccs == 190, 'urban')
            .when(lccs == 210, 'water')
            .when(lccs == 220, 'ice'))


def workability4(wk: Column) -> Column:
    """P10 degraded-analysis variant (degraded_analysis.py:139-145) — a
    DIFFERENT mapping than P7, reproduced as-is."""
    return (F.when(wk == 1, 'good')
            .when(wk == 2, 'marginal')
            .when(wk == 3, 'poor')
            .when(wk == 4, 'verypoor'))


def degradation(lpd: Column) -> Column:
    """P9 (degraded_analysis.py:133-137): 0/NULL → nondegraded, else degraded.
    NULL folds to nondegraded because absent cells read as raster fill 0."""
    return F.when(lpd.isNull() | (lpd == 0), 'nondegraded').otherwise('degraded')


# ---- int-code variants for hot paths (avoid per-row string compares in the
# 29-flag AEZ algebra; same semantics as the string decoders above) ----

def tmr_idx(kg: Column) -> Column:
    """1-based index into TMR_ORDER; NULL = invalid."""
    return (F.when(kg.isin(1, 2, 3), 1)           # tropical-humid
            .when(kg.isin(4, 5), 2)               # arid
            .when(kg.isin(6, 7), 3)               # tropical-semiarid
            .when(kg.isin(11, 12, 13, 14, 15, 16), 4)   # temperate-humid
            .when(kg.isin(8, 9, 10), 5)           # temperate-semiarid
            .when(kg.isin(25, 26, 27, 28), 6)     # boreal-humid
            .when(kg.isin(17, 18, 19, 20, 21, 22, 23, 24), 7)  # boreal-semiarid
            .when(kg.isin(29, 30), 8))            # arctic


def lu_idx(lccs: Column) -> Column:
    """0-based index into LU_NAMES; NULL = none."""
    return (F.when(lccs.isin(FOREST_LC), 0)
            .when(lccs.isin(10, 30), 1)
            .when(lccs == 20, 2)
            .when(lccs.isin(GRASS_LC), 3)
            .when(lccs.isin(BARE_LC), 4)
            .when(lccs == 190, 5)
            .when(lccs == 210, 6)
            .when(lccs == 220, 7))


def soil_idx(wk: Column) -> Column:
    """1=prime 2=good 3=marginal 4=barren 5=water; NULL = none."""
    return (F.when(wk == 1, 1).when(wk == 2, 2)
            .when(wk.isin(3, 4, 6), 3).when(wk == 5, 4).when(wk == 7, 5))


def _z(col: Column) -> Column:
    return F.coalesce(col.cast("double"), F.lit(0.0))


def slope_fractions(c: dict[int, Column]) -> dict[str, Column]:
    """P11 (populate_slope, process_imagery.py:99-104): per-pixel fractional
    slope classes; absent bands read as 0 (raster fill)."""
    return {
        'minimal': (_z(c[1]) + _z(c[2]) + _z(c[3]) + _z(c[4])) / 100.0,
        'moderate': (_z(c[5]) + _z(c[6])) / 100.0,
        'steep': (_z(c[7]) + _z(c[8])) / 100.0,
    }


def slope_plurality(frac: dict[str, Column]) -> dict[str, Column]:
    """W1 (process_imagery.py:445-452): dominant slope class booleans with the
    reference's exact >= / > tie asymmetry (flags may overlap; the tile write
    order resolves ties as STP > MOD > MIN)."""
    return {
        'steep': (frac['steep'] >= frac['moderate']) & (frac['steep'] >= frac['minimal']),
        'moderate': (frac['moderate'] > frac['steep']) & (frac['moderate'] >= frac['minimal']),
        'minimal': (frac['minimal'] > frac['steep']) & (frac['minimal'] >= frac['moderate']),
    }


# raw-DEM slope band edges (data/geomorpho90m/classify_slope.py:71-84):
# band i counts raw pixels with lo <= slope < hi (last band inclusive at 90)
SLOPE_BAND_EDGES = [0.0, 0.5, 2.0, 5.0, 8.0, 15.0, 30.0, 45.0, 90.0]


def classify_slope(raw: "DataFrame", factor: int = 10) -> "DataFrame":
    """Upstream slope preprocessing (data/geomorpho90m/classify_slope.py:66-96):
    continuous raw-DEM slope pixels → per-coarse-pixel 8-band counts + a 9th
    mean band. Each output pixel aggregates a factor×factor raw block
    (y//factor, x//factor): c1..c8 = count of raw pixels in each band
    ([0,0.5) ... [45,90], last band inclusive), mean_class = floor(mean of
    valid values in [0,90]) or 127 where the block has no valid pixel
    (classify_slope.py:85-88). Pure conditional-sum aggregation — one scan,
    one grouped agg, map-side partials absorb the factor² fan-in."""
    from pyspark.sql import functions as F

    s = F.col("slope")
    aggs = []
    for i in range(8):
        lo, hi = SLOPE_BAND_EDGES[i], SLOPE_BAND_EDGES[i + 1]
        cond = (s >= lo) & ((s <= hi) if i == 7 else (s < hi))
        aggs.append(F.sum(cond.cast("int")).alias(f"c{i + 1}"))
    valid_mean = F.avg(F.when((s >= 0.0) & (s <= 90.0), s))
    aggs.append(F.coalesce(F.floor(valid_mean).cast("int"), F.lit(127))
                .alias("mean_class"))
    return (raw.groupBy(
                F.floor(F.col("y") / factor).cast("int").alias("y"),
                F.floor(F.col("x") / factor).cast("int").alias("x"))
            .agg(*aggs))
