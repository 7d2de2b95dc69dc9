"""geospatial_object_matching_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the 3dSAGER geospatial entity-resolution
pipeline (reference: BarGenossar/Geospatial-Object-Matching) as an idiomatic
Spark DataFrame engine:

- input: Common-Crawl-style ``pages(url, warc_ts, html, text, lang)`` table
  (parquet / Iceberg when the runtime jar is present);
- vectorized pandas/Arrow UDF extraction of serialized geospatial objects
  from page text (byte-identical ``text`` per ``url`` is the per-row
  invariant);
- 25 geometric property columns computed by numpy kernels inside a single
  ``mapInPandas`` pass (reference: object_properties.py);
- BKAFI-style blocking as an exact kNN similarity join in a learned
  low-dimensional feature space (reference: blocking.py), executed either as
  a broadcast kNN join (small index side) or a range-sliced kNN join
  (equi-depth dim-0 slices + halo, one boundary pass; scale path);
- ratio-kernel pair features and percentile-threshold match decisions
  (reference: process_pairs.py, bkafi_with_threshold.py);
- web-mercator tiling, point-in-polygon, rasterized tile coverage
  (north_rule operators);
- training-data pipeline operators over documents/embeddings tables
  (dedup exact/MinHash-LSH/SimHash, ANN cosine top-k, language id,
  quality scoring, token counts, fingerprinting).

Everything is DataFrame-first: Catalyst handles pushdown/pruning/broadcast;
Python appears only inside Arrow-batched kernels.
"""

__version__ = "0.1.0"
