"""paddleocr_spark — a from-scratch PySpark-native document-extraction engine.

Re-creates the query/data-processing capabilities of the reference
(arry-lee/PaddleOCR, a.k.a. ToddleOCR) on Spark:

- ``kernels``   : pure-NumPy post-processing kernels (DB box extraction,
                  CTC decode, table-structure decode, table match, layout
                  NMS, reading-order sort). No Spark, no cv2 — importable
                  inside executors, unit-tested against golden fixtures.
- ``corpus``    : deterministic synthesizer for the interleaved
                  (doc_id, spans[]) corpus and the media fixture store.
- ``functions`` : Arrow-batched Python stages around the kernels.
- ``operators`` : DataFrame-level operators — the extraction pipeline,
                  dedup (exact/minhash/simhash), similarity search, text
                  analysis, metric aggregations, checkpoint/resume.
- ``sources``   : table loaders for the driver-generated parquet corpus.

Design: DataFrame/SQL end-to-end; Python only inside ``mapInArrow``
stages (never per-row); small dims broadcast; skew handled by salted
repartitioning; resume via a per-partition checkpoint table.
"""

__version__ = "0.1.0"
