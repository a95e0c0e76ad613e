"""osm_read_enhanced_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch, Spark-first engine with the decode semantics of the
reference OSM PBF parser ``metabench/osm-read-enhanced`` (see SURVEY.md):

- ``sources.pbf``   — spec-correct OSM PBF block scan/decode/write
  (vectorized numpy kernels run inside Arrow-batched ``mapInPandas``).
- ``functions``     — geospatial kernels (haversine, slippy tiles, S2,
  hex binning), image codecs, text analytics, vector math.
- ``operators``     — distributed spatial join (broadcast PIP with a grid
  index), adaptive kNN, tile assignment, dedup (exact / MinHash-LSH /
  SimHash / embedding cosine), ANN (IVF, int8-quantized brute force).
- ``plans``         — the named query catalog driving ``__spark_entry__``.
- ``streaming``     — Structured Streaming over the events table.

Everything is DataFrame-first: declarative plans for Catalyst, built-in
``pyspark.sql.functions`` in hot paths, Pandas/Arrow UDFs only where the
semantics genuinely require imperative per-batch logic (PBF wire decode,
ray-cast PIP refine, image codecs).
"""

__version__ = "0.1.0"
