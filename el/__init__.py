"""el — PySpark-native entity-resolution engine.

A brand-new, built-from-scratch record-linkage pipeline with the
capabilities of the reference ``bobflagg/entity-linking`` (spec:
BASELINE.json north_star / SURVEY.md), re-expressed Spark-first:
DataFrame/SQL plans optimized by Catalyst, vectorized Arrow/pandas
UDFs for the Python kernels (no per-row Python anywhere), explicit
skew/partitioning control, and checkpointed stages with per-partition
lineage for resumability.

Layout:
    el.conf        SparkSession factory (AQE, Arrow, UTC, shuffle sizing)
    el.worker_daemon  Python worker daemon (no per-task zip re-reads)
    el.schemas     fixed StructTypes for every table (SURVEY §1.1)
    el.fixtures    deterministic web_pages / labeled_pairs generators
    el.extract     V1 text extraction + V2 mention extraction (Arrow)
    el.blocking    multi-key blocking (name tokens, MinHash/LSH, LDA),
                   per-block caps, salted skew-aware pair generation
    el.scoring     fused pair scoring (Jaro-Winkler, Levenshtein,
                   TF-IDF/topic cosine -> logistic)
    el.clustering  large-star/small-star connected components
    el.pipeline    ingest gate, extraction and blocking stage operators
    el.runner      the stage list and its one executor (localCheckpoint
                   or catalog commit per stage; resume)
    el.catalog     table-format layer (parquet+manifest, snapshots)
    el.evaluate    pairwise precision/recall/F1 gate
    el.dedup       corpus dedup ops (exact, MinHash-LSH, SimHash, ...)
    el.similarity  embedding ANN (brute-force + LSH-bucketed top-k)
    el.textstats   lang-ID, quality scores, token counts, fingerprints
    el.multimodal  binary-column (image/audio) plumbing, stubbed decode
"""

__version__ = "0.1.0"
