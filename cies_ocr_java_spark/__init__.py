"""cies_ocr_java_spark — a from-scratch PySpark-native document-to-text
extraction engine with the semantics of nanocontext/cies-ocr-java.

The reference (read-only at /root/reference) is a serverless Java pipeline:
ingest document -> decide whether the embedded PDF text layer is sufficient
(DocumentExtractManager.java:410-429) -> otherwise OCR (Textract) -> assemble
extracted text per document (DocumentExtractManager.java:540-599).

This package re-expresses those semantics as one idiomatic Spark batch DAG
over tables of interleaved text+media documents
(doc_id, spans:array<struct<kind,text,media_ref,offset>>), with every heavy
inner loop in vectorized pandas/Arrow UDFs (no per-row Python), explicit
salted repartitioning for giant-document skew, Iceberg-style snapshot
checkpoints with per-partition lineage, and exact per-run metrics observed
on the committing write.
"""

__version__ = "0.1.0"
