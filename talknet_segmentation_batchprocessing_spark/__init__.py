"""PySpark-native analytics engine with the query and data-processing
capabilities of ``vrobbin3247/Talknet-segmentation-batchProcessing``.

The reference is a per-video batch ETL/ML pipeline (active-speaker
detection + speaking-segment extraction). This engine re-expresses every
stage as DataFrame operators:

- all sequencing / joining / windowing / segmentation / metric logic is
  relational (Catalyst-optimizable, DuckDB-checkable) — ``operators/``;
- media decode and NN inference live in thin Arrow-batched pandas-UDF
  shells — ``pipeline/``;
- large-scale training-data operators (dedup, similarity search,
  multimodal columns, text analysis) — ``extensions/``;
- streaming ANN index ingest and drift monitoring (OPERATIONS.md) —
  ``streaming/``.

Design rules (see SURVEY.md §7): DataFrame-first, no RDDs; explicit
StructType schemas (``schemas.py``); ``video_id`` is the canonical
partitioning key; parquet replaces pickle for every intermediate.
"""

__version__ = "0.1.0"
