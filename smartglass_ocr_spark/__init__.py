"""smartglass_ocr_spark — a brand-new PySpark-native document
extraction engine with the query/data-processing capabilities of
zachran-recodex/smartglass-ocr-api, re-expressed Spark-first.

The reference processes one image/PDF per HTTP request through OCR +
rule-based post-processing (``/root/reference/lib/smartglass_ocr.py``).
This engine runs the same *text-level* semantics batched over an
Iceberg/parquet table of interleaved text+media documents::

    documents(doc_id string,
              spans array<struct<kind,text,media_ref,offset>>)

as DataFrame stages: explode spans -> reassemble per doc_id (one
shuffle) -> one Arrow crossing that runs the golden spec per document
(classify, per-block-class cleanup, offset order, per-doc metadata),
guaranteeing span-sequence equality (kind, text, media_ref, order)
against golden outputs.

Layout:
- ``rules/``    pure-Python rule modules — the executable spec shared
                by the golden generator and the pandas UDFs.
- ``pipeline``  the Spark pipeline: one fused doc pipeline plus its
                skew-routed mega-doc variant.
- ``corpus``    deterministic synthetic spans-corpus generators.
- ``golden``    pure-Python golden generator (reference semantics).
- ``ops/``      training-data-scale operators: dedup (exact/minhash/
                simhash/jaccard), similarity search, text stats.
- ``checkpoint`` per-partition lineage/metrics + idempotent resume.
- ``zipcache``  per-worker guard on the zip-directory re-read that
                every Python task's set-up triggers; installed here, on
                the package's first import inside a Spark task.
"""

from smartglass_ocr_spark import zipcache

__version__ = "0.1.0"

zipcache.install_in_worker()
