"""mysteryann_spark — a PySpark-native batch vector-analytics engine.

A from-scratch re-expression of the capabilities of matchyc/mysteryann
(RoarGraph, VLDB'24: cross-modal ANN graph indexing) on Apache Spark:

- relational floor (scan/filter/join/agg/window/set-ops) via DataFrame/Catalyst,
- vector kernels (L2 / inner-product / cosine) via SQL expressions + Arrow/numpy,
- exact kNN join (blocked GEMM), medoid entry-point selection,
- bipartite + projected (RoarGraph-style) graph construction,
- batch best-first beam search with recall/QPS evaluation,
- LLM-data-pipeline extensions: dedup (exact/MinHash-LSH/SimHash/Jaccard/
  embedding), similarity search, text analysis, multimodal column plumbing,
  event windowing / sessionization.

Design stance (SURVEY.md §7): DataFrame-first, Catalyst does the planning;
pandas UDFs (Arrow) only for numeric kernels Spark can't express; Parquet for
all persisted artifacts; deterministic (seeded, (dist,id)-tiebroken) results.
"""

from mysteryann_spark.session import get_spark, skip_unchanged_zip_rereads
from mysteryann_spark.params import IndexParams

__all__ = ["get_spark", "IndexParams"]
__version__ = "0.1.0"

skip_unchanged_zip_rereads()
