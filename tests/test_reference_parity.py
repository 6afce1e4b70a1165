"""Executable parity against the ACTUAL reference implementation.

These tests import the pure-text functions of
``/root/reference/lib/text_processing.py`` (with the OCR-engine deps
stubbed out — the text functions never touch them; NLTK is absent in
both environments so both run the regex paths) and assert our rules
produce byte-identical output over the full synthetic corpus plus
adversarial inputs. This is the strongest available evidence for the
north rule's "matching the reference's extracted text per document":
not a re-reading of the reference source, but its execution.

Skipped wholesale when the reference checkout is not present (this
repo is standalone; the reference is a build-time fixture only).
"""

from __future__ import annotations

import os
import sys
import types

import pytest

REF = "/root/reference"

pytestmark = [
    pytest.mark.skipif(
        not os.path.exists(f"{REF}/lib/text_processing.py"),
        reason="reference checkout not present",
    ),
    # the reference module spawns an easyocr init thread at import
    # time that dies against our stub — harmless here
    pytest.mark.filterwarnings(
        "ignore::pytest.PytestUnhandledThreadExceptionWarning"
    ),
]


@pytest.fixture(scope="module")
def ref_tp():
    for name in (
        "cv2", "pytesseract", "PIL", "PIL.Image", "easyocr", "paddleocr",
        "nltk", "pdf2image",
    ):
        sys.modules.setdefault(name, types.ModuleType(name))
    if REF not in sys.path:
        sys.path.insert(0, REF)
    from lib.text_processing import NLTK_AVAILABLE, TextProcessor

    assert not NLTK_AVAILABLE  # both sides must take the regex paths
    return TextProcessor()


@pytest.fixture(scope="module")
def corpus_texts():
    from smartglass_ocr_spark.corpus import generate_docs
    from smartglass_ocr_spark.golden import golden_outputs

    docs = generate_docs(300, seed=23)
    texts = []
    for out in golden_outputs(docs):
        texts.append(
            "\n\n".join(s["text"] for s in out["spans"] if s["text"])
        )
    # adversarial extras exercising every formatter branch
    texts += [
        "",
        "tiny",
        "INTRO\nbody one.\nbody two.\nNEXT PART\nmore.",
        "* first\ncontinuation\n- second\n1. third",
        "Name|Qty\nfoo | 2\nbar|3",
        "Name      Qty   Price\nitem1     2     3.50\nitem2     1     9.99",
        "Label: value\nCity   Springfield\nplain",
        "short col\n" * 14,
        "intro\nE = mc^2\nafter\nmore",
        "a\n\n\n\nb\n- x\nHEAD LINE\nregular sentence that is long enough to pass.",
    ]
    return texts


def test_detect_structure_matches_reference(ref_tp, corpus_texts):
    from smartglass_ocr_spark.rules.structure import detect_structure

    for t in corpus_texts:
        assert detect_structure(t) == ref_tp.detect_document_structure(t).value, t[:80]


def test_format_text_matches_reference(ref_tp, corpus_texts):
    from smartglass_ocr_spark.rules.format import format_text

    for t in corpus_texts:
        # empty layout_info -> reference detects structure from text,
        # same as our dispatcher (ref :1183-1185)
        assert format_text(t) == ref_tp.format_text(t, {}), t[:80]


def test_clean_response_text_matches_reference(ref_tp, corpus_texts):
    from lib.utils import clean_response_text as ref_clean

    from smartglass_ocr_spark.rules.format import clean_response_text

    for t in corpus_texts + ["a \\ b", "x\t\ty", "\r\nz\r\n"]:
        assert clean_response_text(t) == ref_clean(t), t[:80]


class _ImageType:
    def __init__(self, value: str):
        self.value = value


def test_cleanup_matches_reference_per_class(ref_tp):
    """F1 general pipeline + per-class F3-F7 fixes byte-equal to the
    executed ``post_process_text`` for every span of the corpus.

    The 'document' comparison runs against the general pipeline only:
    our 'content' class additionally applies the F2 word-correction
    dictionary (ref :601-709 ``_apply_general_text_corrections``),
    which the reference DEFINES but never calls; SURVEY §2 maps it
    into the cleanup stage deliberately."""
    from smartglass_ocr_spark.corpus import generate_docs
    from smartglass_ocr_spark.rules.cleanup import clean_for_class, general_cleanup

    checked = 0
    for d in generate_docs(150, seed=31):
        for s in d["spans"]:
            t = s["text"]
            if not t:
                continue
            checked += 1
            assert general_cleanup(t).strip() == ref_tp.post_process_text(
                t, _ImageType("document")
            ), t[:80]
            for klass in ("receipt", "id_card", "form", "table"):
                assert clean_for_class(klass, t) == ref_tp.post_process_text(
                    t, _ImageType(klass)
                ), (klass, t[:80])
    assert checked > 1500


def test_detect_language_matches_reference(ref_tp, corpus_texts):
    from smartglass_ocr_spark.rules.langdetect import detect_language

    for t in corpus_texts:
        assert detect_language(t) == ref_tp.detect_language(t), t[:80]


def test_summary_and_insights_match_reference(ref_tp, corpus_texts):
    from smartglass_ocr_spark.rules.summarize import (
        extract_key_insights,
        generate_summary,
    )

    for t in corpus_texts:
        assert generate_summary(t) == ref_tp.generate_summary(t), t[:80]
        assert extract_key_insights(t) == ref_tp.extract_key_insights(t), t[:80]


def _flatten_ref_extraction(kind: str, ref: dict | None) -> dict:
    """FIXTURES.md §3 flattening of the reference's nested extraction
    output: receipt items -> item_N_{name,quantity,price} +
    items_count; table -> headers '|'-joined, n_rows, row_N =
    values '|'-joined in header order; scalars stringified."""
    out: dict[str, str] = {}
    ref = ref or {}
    if kind == "table":
        headers = ref.get("headers") or []
        rows = ref.get("rows") or []
        if headers:
            out["headers"] = "|".join(headers)
            out["n_rows"] = str(len(rows))
            for i, row in enumerate(rows):
                out[f"row_{i}"] = "|".join(str(row.get(h, "")) for h in headers)
        return out
    for k, v in ref.items():
        if k == "items" and isinstance(v, list):
            for i, item in enumerate(v):
                for kk in ("name", "quantity", "price"):
                    if kk in item:
                        out[f"item_{i}_{kk}"] = str(item[kk])
            out["items_count"] = str(len(v))
        else:
            out[k] = str(v)
    return out


def test_extraction_matches_reference(ref_tp):
    """E2/E3/E5-E6 byte-equal (modulo the documented flattening) to
    the executed reference extractors over every special-class span of
    the corpus. E4 (form) is compared where our documented intent-fix
    of the reference's always-false punctuation guard cannot fire."""
    from lib.information_extraction import InformationExtractor

    from smartglass_ocr_spark.corpus import generate_docs
    from smartglass_ocr_spark.rules.extract import extract_structured

    ie = InformationExtractor()
    ref_fns = {
        "receipt": ie.extract_receipt_info,
        "id_card": ie.extract_id_card_info,
        "form": ie.extract_form_info,
        "table": ie.extract_table_info,
    }
    checked = 0
    for d in generate_docs(120, seed=41):
        for s in d["spans"]:
            t = s["text"]
            if not t or s["kind"] not in ref_fns:
                continue
            checked += 1
            want = _flatten_ref_extraction(s["kind"], ref_fns[s["kind"]](t))
            got, _ = extract_structured(s["kind"], t)
            if s["kind"] == "form":
                # the reference's line-pair guard `^[:\-,.;]*` matches
                # the empty string, so its line loop NEVER emits —
                # executed ref output is the special-pattern fields
                # only. Our documented intent-fix keeps the line pairs;
                # everything the reference produces must still appear
                # identically in our output.
                assert set(want.items()) <= set(got.items()), (t[:80], want, got)
            else:
                assert got == want, (s["kind"], t[:80], want, got)
    assert checked > 100


def test_confidence_bands_match_reference(ref_tp):
    from lib.information_extraction import _format_confidence_level

    from smartglass_ocr_spark.rules.extract import confidence_level

    for c in range(0, 101):
        assert confidence_level(float(c)) == _format_confidence_level(c), c


def test_typed_extraction_matches_reference_nested(ref_tp):
    """The typed structured_info twins equal the executed reference's
    NESTED shapes with NO flattening caveat: receipts byte-equal
    including the items list of dicts (ref lib/information_extraction
    .py:136-276), tables including the per-row {header: value} maps
    (ref :331-528)."""
    from lib.information_extraction import InformationExtractor

    from smartglass_ocr_spark.corpus import generate_docs
    from smartglass_ocr_spark.rules.extract import (
        extract_receipt_typed, extract_table_typed,
    )

    ie = InformationExtractor()
    n_receipts = n_tables = 0
    for d in generate_docs(120, seed=41):
        for s in d["spans"]:
            t = s["text"]
            if not t:
                continue
            if s["kind"] == "receipt":
                n_receipts += 1
                assert extract_receipt_typed(t) == ie.extract_receipt_info(t), t[:80]
            elif s["kind"] == "table":
                n_tables += 1
                assert extract_table_typed(t) == ie.extract_table_info(t), t[:80]
    assert n_receipts > 20 and n_tables > 20
