"""Seeded input generators for the benchmark workloads.

Every generator is pure Python over ``random.Random(seed)`` and writes
its rows with pyarrow into ``n_files`` parquet files, so the same seed
gives byte-identical files and the program sees only those rows.
``digest`` hashes the files; the benchmark's tests pin that the same
seed repeats it and another seed changes it.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# the sf0.1 ``documents`` vocabulary: keyword soup of 10..100 words
_FLAT_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()
_MEDIA_KINDS = ("image", "video", "audio")
MEDIA_MAX_SPANS = 48
_TEXT_WORDS = (
    "the quick brown fox jumps over a lazy dog while many people watch "
    "this result is important because we must consider the main point"
).split()

_SPAN_TYPE = pa.struct(
    [("kind", pa.string()), ("text", pa.string()),
     ("media_ref", pa.string()), ("offset", pa.int32())]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN_TYPE))])
FLAT_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def flat_documents(seed: int, n_docs: int) -> list[dict]:
    """The flat ``documents(doc_id bigint, text string)`` shape that
    ``span_rows_from_flat`` derives spans from. The seed draws the
    texts and salts the doc_ids, which drive span kinds, offsets and
    chunking."""
    rng = random.Random(seed)
    ids = rng.sample(range(10**11), n_docs)
    return [
        {"doc_id": i, "text": " ".join(rng.choices(_FLAT_WORDS, k=rng.randint(10, 100)))}
        for i in ids
    ]


def _media_ref(rng: random.Random) -> str:
    return "m-" + "%012x" % rng.getrandbits(48)


def media_documents(seed: int, n_docs: int, megas: int = 0,
                    mega_spans: int = 0) -> list[dict]:
    """Doc-shaped rows of 1..MEDIA_MAX_SPANS spans, then ``megas`` docs of
    ``mega_spans`` spans; 7 of every 8 spans are media (NULL text, a
    media_ref) and the rest short paragraphs."""
    rng = random.Random(seed)
    sizes = [rng.randint(1, MEDIA_MAX_SPANS) for _ in range(n_docs)] + [mega_spans] * megas
    docs = []
    for d, size in enumerate(sizes):
        spans, offset = [], 0
        for _ in range(size):
            if rng.randrange(8):
                spans.append({"kind": rng.choice(_MEDIA_KINDS), "text": None,
                              "media_ref": _media_ref(rng), "offset": offset})
            else:
                words = rng.choices(_TEXT_WORDS, k=rng.randint(4, 16))
                spans.append({"kind": "para", "text": " ".join(words).capitalize() + ".",
                              "media_ref": None, "offset": offset})
            offset += rng.randint(1, 5)
        rng.shuffle(spans)
        kind = "mega" if d >= n_docs else "doc"
        docs.append({"doc_id": f"{kind}-{seed:06d}-{d:08d}", "spans": spans})
    return docs


def write_parquet(rows: list[dict], schema: pa.Schema, path: str, n_files: int) -> None:
    """Rows dealt round-robin over ``n_files`` files so the scan yields
    that many splits."""
    os.makedirs(path, exist_ok=True)
    for f in range(n_files):
        table = pa.Table.from_pylist(rows[f::n_files], schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


def digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(name.encode())
            h.update(fh.read())
    return h.hexdigest()
