"""imc — a from-scratch PySpark-native spatial-join + tiling engine.

Reimplements the capabilities of the reference (eyalw711/IndoorMapConstruction,
a TRACLUS-style indoor-map-construction pipeline; see SURVEY.md §0 for
provenance — the reference mount is empty, the spec is pinned by
BASELINE.json and Lee/Han/Whang SIGMOD 2007) as DataFrame operators over
Common-Crawl-style web-page tables.

Layout (SURVEY.md §7.8):
  kernels.py   pure-numpy kernels: geometry, component labels, segment
               DBSCAN (no Spark imports)
  cells.py     Morton/quadtree cell index (H3/S2-style, from scratch)
  config.py    pipeline parameters (TRACLUS ε / MinLns / γ / weights)
  partitioning.py the stage-partitioning policy (Python-stage count,
               scan fan-out, hot keys, salted joins, sharded top-k)
  extract.py   pages → points (extract_text, parse_points pandas UDFs)
  segments.py  points → segments (window lead) + MDL partitioning
  joins.py     ε self-join / kNN join (cell prefilter + exact refine),
               PIP tile assignment (venue-keyed join to ring edges)
  dbscan.py    segment DBSCAN: venue groups (graph.py) + one venue-bucketed
               numpy pass
  graph.py     connected components (DBSCAN venue groups, near-dup
               clusters): numpy on the driver, contraction rounds above
               LOCAL_EDGES edges
  sweep.py     representative-trajectory sweep per cluster
  corridors.py corridor polygons: miter-offset buffer of rep polylines
  quality.py   TRACLUS QMeasure clustering-quality metric ([T] §6.2)
  raster.py    rasterize segments / raster→vector polygon extraction
  manifest.py  iceberg-lite snapshot/resume manifests over parquet
  pipeline.py  end-to-end run (EP1) + incremental snapshot-diff mode
  textops.py   web-corpus ops: dedup (exact/minhash/simhash), langid,
               quality, token counts, fingerprints
  similarity.py embedding ANN (brute-force cosine top-k + LSH buckets)
  multimodal.py binary (image/audio) column plumbing, decode stubbed
"""

__version__ = "0.1.0"
