"""aezspark — a from-scratch PySpark-native spatial-join + tiling engine.

Reproduces the query/data-processing semantics of ProjectDrawdown/spatial-aez
(reference at /root/reference, a single-node GDAL+numpy batch pipeline) with an
idiomatic Spark design: DataFrame/SQL plans optimized by Catalyst, Arrow-batched
pandas UDFs for the geometry kernels (no per-row Python), broadcast
point-in-polygon joins, and partitioned parquet tables standing in for rasters.

Module map (see SURVEY.md §7):
  grid        raster grid specs, cell_id codec, km² column math (geoutil.py:10-25)
  cellindex   H3/S2-style quadtree cell index (pure numpy + Column exprs)
  geometry    polygon rings, bbox grid, vectorized PIP, distances (numpy)
  joins       broadcast PIP join, assignment build, kNN nearest-zone, tile lookup
  decoders    dataset classifications P1-P11 (extract_country_data.py decoders)
  zonal       zonal histograms / AEZ algebra / pivots (A1-A7)
  tiles       plurality + last-writer-wins tile assignment (W1/W2)
  regions     admin normalization + list-valued region rollup (J3)
  documents   interleaved text+media doc corpus: span explode/enrich (input_hint)
  corpus      training-data ops: dedup, similarity search, text quality, multimodal
  checkpoint  per-partition resume over a snapshot table, lineage + metrics
  io          CSV/parquet sinks with reference formatting
"""

__version__ = "0.1.0"
