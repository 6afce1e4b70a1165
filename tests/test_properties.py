"""Property-based fuzzing of the rule surface (hypothesis).

These are Spark-free: the rules modules are the executable spec the
UDFs run, so total-function guarantees here are crash-freedom
guarantees for every executor batch at 10^12-doc scale (an uncaught
exception in a pandas UDF fails the task, retries, then the job).
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from smartglass_ocr_spark.golden import process_document, process_span
from smartglass_ocr_spark.rules.classify import classify_block
from smartglass_ocr_spark.rules.confidence import status_for, weighted_confidence
from smartglass_ocr_spark.rules.extract import extract_structured
from smartglass_ocr_spark.rules.langdetect import detect_language
from smartglass_ocr_spark.rules.markdown import render_markdown
from smartglass_ocr_spark.rules.structure import detect_structure
from smartglass_ocr_spark.rules.summarize import extract_key_insights, generate_summary

TEXT_KINDS = (
    "para", "heading", "list", "html", "pdf_line", "table", "form",
    "receipt", "id_card", "scientific",
)
KNOWN_CLASSES = {
    "content", "heading", "list", "pdf_line", "table", "form", "receipt",
    "id_card", "scientific", "boilerplate", "media",
}

any_text = st.text(max_size=400)
kinds = st.sampled_from(TEXT_KINDS + ("image", "video", "audio"))


@settings(max_examples=300, deadline=None)
@given(kind=kinds, text=st.one_of(st.none(), any_text))
def test_process_span_total_and_deterministic(kind, text):
    a = process_span(kind, text)
    b = process_span(kind, text)
    assert a == b
    block_class, clean = a
    assert block_class in KNOWN_CLASSES
    if kind in ("image", "video", "audio"):
        assert (block_class, clean) == ("media", text)  # byte passthrough
    else:
        assert clean is not None


@settings(max_examples=200, deadline=None)
@given(text=any_text)
def test_doc_rules_total(text):
    assert detect_language(text) in ("en", "id", "latin", "non-latin", "unknown")
    assert isinstance(detect_structure(text), str)
    conf = weighted_confidence(text)
    assert 0.0 <= conf <= 100.0
    assert status_for(conf, text) in ("success", "partial_success", "poor_quality")
    assert isinstance(generate_summary(text), str)
    assert isinstance(extract_key_insights(text), list)
    for cls in ("content", "id_card", "receipt", "form", "table"):
        info, typed = extract_structured(cls, text)
        assert all(isinstance(k, str) and isinstance(v, str) for k, v in info.items())
        assert typed is None or set(typed) == {"receipt", "table"}


@settings(max_examples=100, deadline=None)
@given(
    spans=st.lists(
        st.tuples(kinds, st.one_of(st.none(), st.text(max_size=120)), st.integers(0, 10**6)),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[2],
    )
)
def test_process_document_invariants(spans):
    doc = {
        "doc_id": "d",
        "spans": [
            {
                "kind": k,
                "text": None if k in ("image", "video", "audio") else (t or ""),
                "media_ref": "m-x" if k in ("image", "video", "audio") else None,
                "offset": off,
            }
            for k, t, off in spans
        ],
    }
    out = process_document(doc)
    # span-count conservation + offset monotonicity + media identity
    assert len(out["spans"]) == len(doc["spans"])
    offs = [s["offset"] for s in out["spans"]]
    assert offs == sorted(offs)
    in_media = {s["offset"]: s for s in doc["spans"] if s["media_ref"]}
    for s in out["spans"]:
        if s["media_ref"]:
            assert s == in_media[s["offset"]]
    # markdown renders for any output row
    md = render_markdown(out)
    assert md.startswith("# d") and md.endswith("\n")
    # permutation invariance of the input span order
    doc2 = {"doc_id": "d", "spans": list(reversed(doc["spans"]))}
    assert process_document(doc2) == out


# ---- F8 format total-function properties ---------------------------

_FMT_TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)


@given(text=_FMT_TEXT, structure=st.sampled_from(
    ["plain_text", "paragraphs", "headers_and_content", "bullet_points",
     "table", "form", "multi_column", "scientific", "mixed", "bogus"]))
@settings(max_examples=150, deadline=None)
def test_format_text_total_and_charset(text, structure):
    """format_text never raises on arbitrary unicode, and its output
    contains only the reference's allowed character classes
    (ref :1208 strip) with no leading/trailing whitespace."""
    import re

    from smartglass_ocr_spark.rules.format import format_text

    out = format_text(text, structure)
    assert out == out.strip()
    assert re.search(r"[^\w\s.!?,;:()\"'•\-\n]", out) is None


@given(text=_FMT_TEXT)
@settings(max_examples=100, deadline=None)
def test_clean_response_text_properties(text):
    """No newlines/tabs/backslashes survive. (NOT double-space-free
    or idempotent: the reference removes backslashes AFTER the
    whitespace collapse, so ' \\ ' legitimately becomes '  ' —
    ref lib/utils.py:419-425 order, kept.)"""
    from smartglass_ocr_spark.rules.format import clean_response_text

    out = clean_response_text(text)
    assert "\n" not in out and "\t" not in out and "\\" not in out
    assert out == out.strip()


def test_clean_response_backslash_double_space_quirk():
    from smartglass_ocr_spark.rules.format import clean_response_text

    assert clean_response_text("a \\ b") == "a  b"  # ref pass order


@given(text=st.text(alphabet="ab C1_ \n|:.,-", max_size=80))
@settings(max_examples=400, deadline=None)
def test_linear_structure_counts_equal_regex(text):
    """The linear table/form counters must agree exactly with the
    reference's backtracking regexes on arbitrary input."""
    from smartglass_ocr_spark.rules.structure import (
        _FORM_FIELD_RX,
        _TABLE_ROW_RX,
        _table_and_form_counts,
    )

    want = (len(_TABLE_ROW_RX.findall(text)), len(_FORM_FIELD_RX.findall(text)))
    assert _table_and_form_counts(text) == want
