"""Per-document span assembly — the reference's ordered concatenation A1
(DocumentExtractManager.java:540-599: consume blocks in order, join) plus the
all-or-nothing document status contract (a FAILED doc writes no result,
moveExtractedTextToDestination DocumentExtractManager.java:324-363).

Assembly is deterministic under ANY partitioning: we never rely on
collect_list arrival order. Spans are collected as struct(offset, ...) and
``array_sort`` (sorts struct arrays by field order, offset first) imposes the
canonical order AFTER collection; dense output ``order`` is re-indexed with
``transform(..., (s, i) -> i)``. Everything is JVM-side — the groupBy is the
single shuffle of the assembly stage, and giant documents cost one wide row
each (bounded by max doc size, the same envelope the reference guarantees
per-Lambda).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from cies_ocr_java_spark.session import per_jvm


def assemble_documents(spans: DataFrame) -> DataFrame:
    """Input: one row per surviving extracted span
    (doc_id, offset, out_kind, out_text, media_ref, failed, error, used_ocr).
    Output: (doc_id, spans, text, failed, error, used_ocr, partition_id) —
    one row/doc; ONE shuffle (all doc-level flags fold into the same agg).
    """
    aggs, out = _assembly_exprs()
    return spans.groupBy("doc_id").agg(*aggs).select(*out)


@per_jvm
def _assembly_exprs() -> tuple[tuple[Column, ...], tuple[Column, ...]]:
    """(aggregates, output projection), built once per JVM
    (session.per_jvm): every struct, lambda and alias below is a py4j
    round trip."""
    aggs = (
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("offset"),
                    F.col("out_kind").alias("kind"),
                    F.col("out_text").alias("text"),
                    F.col("media_ref"),
                )
            )
        ).alias("ordered"),
        F.max(F.coalesce(F.col("failed"), F.lit(False))).alias("failed"),
        F.max("error").alias("error"),
        F.max("used_ocr").alias("used_ocr"),
    )
    # drop spans that extracted to nothing (boilerplate-only HTML, empty text),
    # then re-index densely: order = position after the drop (§2.5 semantics).
    surviving = F.filter(
        F.col("ordered"),
        lambda s: (s["kind"] == "media") | (F.length(s["text"]) > 0),
    )
    out_spans = F.transform(
        surviving,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            F.when(s["kind"] == "media", F.lit(None).cast("string"))
            .otherwise(s["text"])
            .alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("order"),
        ),
    )
    flat_text = F.array_join(
        F.transform(
            F.filter(out_spans, lambda s: s["kind"] == "text"),
            lambda s: s["text"],
        ),
        " ",
    )
    # partition lineage is captured post-shuffle: the id of the reduce-side
    # partition that assembled this document (doc_state.partition_id).
    out = (
        F.col("doc_id"),
        out_spans.alias("spans"),
        flat_text.alias("text"),
        F.col("failed"),
        F.col("error"),
        F.col("used_ocr"),
        F.spark_partition_id().alias("partition_id"),
    )
    return aggs, out
