"""The benchmark workloads, each built only from the program's
public entry points.

A workload generates its seeded input files, then offers:

- ``rep``: one timed repetition, from the entry call to the sink's
  completion;
- ``warm_up``: the first set-up repetition; it writes its output to
  parquet for the check;
- ``check``: the golden check on that written output, outside the
  timed region, returning the number of failed docs;
- ``chain``: the cumulative plans of the traced run, as
  ``(layer_metric, action)`` pairs; each action runs one plan to its
  sink, and the differences of their walls are the layers' costs;
- ``golden_docs`` / ``profile_docs``: seeded samples of input
  documents for the golden comparison and the rule profile.
"""

from __future__ import annotations

import itertools
import os
import random
import shutil
import time

from pyspark.sql import functions as F

from extractbench import inputs
from smartglass_ocr_spark.checkpoint import run_extraction_job
from smartglass_ocr_spark.corpus import span_rows_from_flat
from smartglass_ocr_spark.golden import process_document
from smartglass_ocr_spark.pipeline import (
    explode_spans, fused_doc_stage, reassemble_raw, run_pipeline_fused,
    run_pipeline_skew_routed,
)

SAMPLE_DOCS = 48


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def identity_stage(assembled):
    """The fused doc stage's Arrow crossing with no rules: the same
    ``mapInPandas`` over whole documents, returning each doc's spans
    unchanged under the fused stage's real output schema."""
    schema = fused_doc_stage(assembled).schema
    columns = schema.fieldNames()

    def run(batches):
        for pdf in batches:
            out = pdf[["doc_id", "spans"]].copy()
            for name in columns[2:]:
                out[name] = None
            yield out[columns]

    return assembled.mapInPandas(run, schema)


def canonical(value):
    """Comparable form of an output row: maps and structs as dicts
    without NULL members (a struct read back from parquet carries its
    absent fields as None), lists in order."""
    if isinstance(value, dict):
        return {k: canonical(v) for k, v in value.items() if v is not None}
    if isinstance(value, (list, tuple)):
        return [canonical(v) for v in value]
    return value


def compare_sample(out_df, docs: list[dict]) -> int:
    """Mismatching docs among ``docs`` in ``out_df`` (a missing doc
    counts as a mismatch)."""
    ids = [d["doc_id"] for d in docs]
    got = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in out_df.filter(F.col("doc_id").isin(ids)).collect()
    }
    failed = 0
    for d in docs:
        want = process_document(d)
        row = got.get(d["doc_id"])
        # the job's output adds its own bookkeeping columns
        if row is None or canonical({k: row.get(k) for k in want}) != canonical(want):
            failed += 1
    return failed


def check_output(spark, out_path: str, n_docs: int, sample: list[dict]) -> int:
    out = spark.read.parquet(out_path)
    return abs(out.count() - n_docs) + compare_sample(out, sample)


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, cores: int, scale: float = 1.0):
        self.work = work
        self.seed = seed
        self.cores = cores
        self.scale = scale
        self.input_path = os.path.join(work, "input")
        self.n_docs = 0

    def _n(self, n: int) -> int:
        return max(4, int(n * self.scale))

    def cleanup_rep(self) -> None:
        """Remove what one repetition left on disk (outside timing)."""

    def output_counts(self) -> dict[str, int]:
        return {}


class TextFlat(Workload):
    """Flat documents -> ``span_rows_from_flat`` -> ``run_pipeline_fused``
    -> noop: one hash exchange, one Arrow crossing, rules dominate."""

    name = "text_flat"
    DOCS = 5000

    def generate(self) -> None:
        rows = inputs.flat_documents(self.seed, self._n(self.DOCS))
        self.n_docs = len(rows)
        self.flat_ids = [r["doc_id"] for r in rows]
        inputs.write_parquet(rows, inputs.FLAT_SCHEMA, self.input_path, 2 * self.cores)

    def prepare(self, spark) -> None:
        self.flat = spark.read.parquet(self.input_path)

    def span_rows(self):
        return span_rows_from_flat(self.flat, spans_per_doc=12, partitions=2 * self.cores)

    def pipeline(self):
        return run_pipeline_fused(self.span_rows())

    def rep(self, spark, i: int) -> None:
        noop(self.pipeline())

    def golden_docs(self, spark, n: int = SAMPLE_DOCS) -> list[dict]:
        picked = random.Random(self.seed).sample(self.flat_ids, min(n, self.n_docs))
        rows = span_rows_from_flat(
            self.flat.filter(F.col("doc_id").isin(picked)), spans_per_doc=12
        ).collect()
        docs: dict[str, list[dict]] = {}
        for r in rows:
            docs.setdefault(r["doc_id"], []).append(
                {"kind": r["kind"], "text": r["text"], "media_ref": r["media_ref"],
                 "offset": r["offset"]}
            )
        return [{"doc_id": k, "spans": v} for k, v in sorted(docs.items())]

    def profile_docs(self, spark, n: int) -> list[dict]:
        return self.golden_docs(spark, n)

    def checked_path(self) -> str:
        return os.path.join(self.work, "checked")

    def warm_up(self, spark) -> None:
        self.pipeline().write.parquet(self.checked_path())

    def check(self, spark) -> int:
        return check_output(spark, self.checked_path(), self.n_docs, self.golden_docs(spark))

    def chain(self):
        return [
            ("corpus.derive_s", lambda: noop(self.span_rows())),
            ("pipeline.reassemble_s", lambda: noop(reassemble_raw(self.span_rows()))),
            ("pipeline.arrow_s",
             lambda: noop(identity_stage(reassemble_raw(self.span_rows())))),
            ("golden.rules_s", lambda: noop(self.pipeline())),
        ]


class MediaJob(Workload):
    """Doc-shaped, mostly-media rows through ``run_extraction_job``:
    Arrow crossing plus the real write path, no reassembly shuffle.
    Two mega docs ride along; the traced run routes the same input
    through ``run_pipeline_skew_routed`` to time the skew router."""

    name = "media_job"
    DOCS = 5000
    MEGA_SPANS = 4500
    ROUTE_SPANS = 4096

    def generate(self) -> None:
        self.docs = inputs.media_documents(self.seed, self._n(self.DOCS), megas=2,
                                           mega_spans=self._n(self.MEGA_SPANS))
        self.n_docs = len(self.docs)
        inputs.write_parquet(self.docs, inputs.DOCS_SCHEMA, self.input_path, 2 * self.cores)
        self.mega_ids = sorted(
            d["doc_id"] for d in self.docs if len(d["spans"]) > self._n(self.ROUTE_SPANS)
        )
        self.job_dirs: list[str] = []
        self.trace_tags = itertools.count()
        self.route_walls: list[float] = []

    def prepare(self, spark) -> None:
        self.documents = spark.read.parquet(self.input_path)

    def job(self, tag: str) -> str:
        base = os.path.join(self.work, f"job-{tag}")
        run_extraction_job(
            self.documents.sparkSession, self.documents,
            output_path=os.path.join(base, "out"),
            checkpoint_path=os.path.join(base, "checkpoint"),
            metrics_path=os.path.join(base, "metrics"),
            run_id=f"bench-{tag}", n_partitions=16,
        )
        return base

    def rep(self, spark, i: int) -> None:
        self.job_dirs.append(self.job(str(i)))

    def warm_up(self, spark) -> None:
        self.rep(spark, -1)

    def cleanup_rep(self) -> None:
        # keep the newest job's output for the check
        while len(self.job_dirs) > 1:
            shutil.rmtree(self.job_dirs.pop(0), ignore_errors=True)

    def golden_docs(self, spark) -> list[dict]:
        """Seeded sample that always holds a mega doc."""
        by_id = {d["doc_id"]: d for d in self.docs}
        picked = random.Random(self.seed).sample(sorted(by_id), min(SAMPLE_DOCS, self.n_docs))
        return [by_id[i] for i in self.mega_ids[:1] + picked]

    def profile_docs(self, spark, n: int) -> list[dict]:
        small = [d for d in self.docs if d["doc_id"] not in self.mega_ids]
        return random.Random(self.seed + 1).sample(small, min(n, len(small)))

    def check(self, spark) -> int:
        out = os.path.join(self.job_dirs[-1], "out")
        return check_output(spark, out, self.n_docs, self.golden_docs(spark))

    def output_counts(self) -> dict[str, int]:
        out = os.path.join(self.job_dirs[-1], "out")
        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
                 if f.endswith(".parquet")]
        return {
            "checkpoint.output_bytes": sum(os.path.getsize(f) for f in files),
            "checkpoint.output_files": len(files),
            "checkpoint.partitions_written": sum(
                1 for d in os.listdir(out) if d.startswith("partition_id=")),
        }

    def chain(self):
        return [
            ("pipeline.arrow_s", lambda: noop(identity_stage(self.documents))),
            ("golden.rules_s", lambda: noop(fused_doc_stage(self.documents))),
            ("checkpoint.sink_s",
             lambda: self.job_dirs.append(self.job(f"t{next(self.trace_tags)}"))),
        ]

    # -- the skew router, timed on the same input in the traced run --

    def spans(self, documents=None):
        return explode_spans(self.documents if documents is None else documents)

    def routed(self, documents=None):
        return run_pipeline_skew_routed(
            self.spans(documents),
            mega_doc_spans=self._n(self.ROUTE_SPANS), partitions=2 * self.cores,
        )

    def timed_route(self) -> None:
        """The routed pipeline to noop, timing the eager
        ``run_pipeline_skew_routed`` call itself on the way."""
        t0 = time.perf_counter()
        df = self.routed()
        self.route_walls.append(time.perf_counter() - t0)
        noop(df)

    def unrouted(self, documents=None):
        return run_pipeline_fused(self.spans(documents), partitions=2 * self.cores)

    def is_mega(self):
        return F.col("doc_id").isin(self.mega_ids)

    def branches(self):
        """The routed pipeline against the unrouted one on the same
        input, and the router's two branches each timed alone: the
        fused path over the small docs and the routed path over the
        mega docs."""
        return [
            ("skew.unrouted_s", lambda: noop(self.unrouted())),
            ("skew.routed_s", self.timed_route),
            ("skew.small_branch_s",
             lambda: noop(self.unrouted(self.documents.filter(~self.is_mega())))),
            ("skew.mega_branch_s",
             lambda: noop(self.routed(self.documents.filter(self.is_mega())))),
        ]


WORKLOADS = {w.name: w for w in (TextFlat, MediaJob)}
