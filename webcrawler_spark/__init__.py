"""webcrawler_spark — PySpark-native near-duplicate detection & clustering engine.

A brand-new engine with the data-processing capabilities of the reference
crawler (daniel-maxwell/WebCrawler), re-expressed Spark-first:

- ``extract``   : byte-identical visible-text extraction (reference
                  extractor.go semantics) as Arrow ``mapInPandas`` stages.
- ``operators`` : content-level dedup (exact / MinHash-LSH / SimHash /
                  anchor containment + exact-substring verify), distributed
                  union-find, similarity search, text analysis.
- ``sources``   : web_pages table adapters (Iceberg when available,
                  parquet fallback) + deterministic synthetic corpus.
- ``plans``     : end-to-end pipeline (stage graph, checkpoints, metrics).
- ``functions`` : pure column-level helpers (url/domain normalization,
                  Go-whitespace text ops).
"""

__version__ = "0.1.0"
