"""F8 reconstruction stage (rules/format.py) — formatter bodies and
the F11 response cleanup.

Reference behaviors asserted against lib/text_processing.py:1152-1210
(dispatcher), :1261-1780 (formatters), and lib/utils.py:404-432
(clean_response_text).
"""

from __future__ import annotations

from collections import Counter

from smartglass_ocr_spark.corpus import generate_docs
from smartglass_ocr_spark.golden import golden_outputs
from smartglass_ocr_spark.rules.format import (
    clean_response_text,
    default_formatting,
    format_bullet_points,
    format_form,
    format_headers_and_content,
    format_multi_column,
    format_paragraphs,
    format_plain_text,
    format_scientific,
    format_table,
    format_text,
)
from smartglass_ocr_spark.rules.structure import detect_structure


# ---- individual formatters -----------------------------------------

def test_plain_text_strips_and_drops_empties():
    assert format_plain_text("  a \n\n  b  \n") == "a\nb"


def test_paragraphs_fold():
    text = "line one\nline two\n\nsecond para\nstill second\n\n\nthird"
    assert format_paragraphs(text) == (
        "line one line two\n\nsecond para still second\n\nthird"
    )


def test_headers_and_content_allcaps_header_collects_until_next_allcaps():
    text = "INTRO\nthis is body text.\nmore body.\nNEXT SECTION\nother."
    out = format_headers_and_content(text)
    # header isolated with blank lines, content folded to one paragraph
    assert "\nINTRO\n" in out
    assert "this is body text. more body." in out
    assert "\nNEXT SECTION\n" in out


def test_headers_and_content_titlecase_quirk():
    # ref :1343 quirk — the {0,3} quantifier admits zero following
    # words, so any line starting with a Title-case word is a header
    out = format_headers_and_content("The quick brown fox.\nlower line.")
    assert out.split("\n")[1] == "The quick brown fox."


def test_bullet_points_normalize_and_continuation():
    text = "* first item\ncontinued here\n- second\n1. third\n\nplain"
    out = format_bullet_points(text).split("\n")
    assert out[0] == "• first item"
    assert out[1] == "  continued here"  # W6 continuation attach
    assert out[2] == "• second"
    assert out[3] == "1. third"          # 1.-9. kept as-is (ref :1418)
    assert out[4] == ""
    assert out[5] == "plain"


def test_table_pipe_rows_normalized_with_separator():
    out = format_table("Name|Qty\nfoo | 2\nbar|3").split("\n")
    assert out[0] == "Name | Qty"
    assert set(out[1]) <= {"-", "|"} and "|" in out[1]  # separator row
    assert out[2] == "foo | 2"


def test_table_space_aligned_gets_pipes():
    text = "Name      Qty   Price\nitem1     2     3.50\nitem2     1     9.99"
    out = format_table(text)
    assert "|" in out
    assert out.split("\n")[1].startswith("-")  # non-pipe header separator


def test_table_no_rows_passthrough():
    assert format_table("just a sentence here.") == "just a sentence here."


def test_form_label_variants():
    out = format_form("Name: Alice\nCity   Springfield\nplain line").split("\n")
    assert out[0] == "Name: Alice"
    assert out[1] == "City: Springfield"
    assert out[2] == "plain line"


def test_multi_column_note_and_fold():
    lines = ["short col line"] * 12
    out = format_multi_column("\n".join(lines))
    assert out.startswith("NOTE: This text appears to be in multiple columns.")


def test_multi_column_falls_back_to_paragraphs():
    text = (
        "this is a long enough line that is not short at all, well over limit\n"
        * 4
    )
    assert format_multi_column(text) == format_paragraphs(text)


def test_scientific_isolates_formulas_and_continues_paragraphs():
    out = format_scientific("intro text\nE = mc^2\nafter text\nmore after")
    # formula isolated by blank lines; following lines fold into the
    # previous non-empty output line (ref :1735 continuation quirk)
    assert "\nE = mc^2\n" in out
    assert "after text more after" in out


def test_default_formatting_preserves_blank_lines():
    assert default_formatting("a\nb\n\nc") == "a b\n\nc"


# ---- dispatcher ----------------------------------------------------

def test_format_text_empty_and_strip():
    assert format_text("") == ""
    # ref :1208 unwanted-char strip removes @ $ % etc.
    assert "@" not in format_text("mail me user@example.com today okay.")


def test_format_text_dispatches_on_input_structure():
    bullets = "\n".join(f"- item {i} text" for i in range(8))
    assert detect_structure(bullets) == "bullet_points"
    assert format_text(bullets).startswith("• item 0 text")


def test_format_dispatch_covers_every_formatter_on_corpus():
    docs = generate_docs(400, seed=11)
    outs = golden_outputs(docs)
    seen = Counter()
    for doc, out in zip(docs, outs):
        doc_text = "\n\n".join(
            s["text"] for s in out["spans"] if s["text"]
        )
        seen[detect_structure(doc_text)] += 1
        # golden's formatted_text IS format_text of the joined doc text
        assert out["formatted_text"] == format_text(doc_text), doc["doc_id"]
    # the corpus must exercise the main formatter families
    for structure in (
        "paragraphs", "bullet_points", "form", "table", "multi_column",
        "scientific", "mixed",
    ):
        assert seen[structure] > 0, (structure, dict(seen))


def test_format_dispatch_structures_not_in_corpus():
    """headers_and_content and plain_text rarely/never appear in the
    corpus — pin their dispatch with handcrafted inputs so a dropped
    _FORMATTERS key can't silently fall back to default_formatting."""
    hc = "HEADER ONE\n\nbody text here.\n\nHEADER TWO\n\nmore body.\n\nHEADER THREE\n\nend."
    assert detect_structure(hc) == "headers_and_content"
    assert format_text(hc) == format_headers_and_content(hc).strip()

    tiny = "short note"
    assert detect_structure(tiny) == "plain_text"
    assert format_text(tiny) == format_plain_text(tiny).strip()


def test_downstream_consumes_formatted_text():
    docs = generate_docs(60, seed=12)
    for out in golden_outputs(docs):
        if out["key_insights"]:
            # insights gate: ref lib/smartglass_ocr.py:1226
            assert len(out["formatted_text"]) > 200
            assert out["status"] in ("success", "partial_success")
        # reported structure re-detected on formatted text (ref :1222)
        assert out["structure"] == detect_structure(out["formatted_text"])


# ---- F11 response cleanup ------------------------------------------

def test_clean_response_text():
    assert clean_response_text(None) == ""
    assert clean_response_text("") == ""
    # backslash removal joins the surrounding chars (ref :425)
    assert clean_response_text("a\n\nb\tc\r d\\e  f") == "a b c de f"
    assert clean_response_text("  padded  ") == "padded"


def test_mega_doc_metadata_is_linear():
    """Perf pin for the r2 quadratic-regex fix: a 20k-span (~1 MB)
    doc of any adversarial shape must process in seconds, not minutes
    (pre-fix, punctuation-free text took ~350 s at this size via
    detect_structure backtracking). Generous bound to stay robust on
    a noisy host while still catching any O(n^2) reintroduction."""
    import time

    from smartglass_ocr_spark.golden import process_document

    shapes = {
        "punctfree": lambda i: "alpha beta gamma delta epsilon zeta " + str(i),
        "pipes": lambda i: f"name{i} | qty{i} | price{i}",
        "colons": lambda i: f"field{i}: value number {i}",
        # one colon then punct-free: defeated the r2 literal-prefilter
        # (the linear counter handles it)
        "mixed": lambda i: (
            "Label: v" if i == 0 else "alpha beta gamma delta " + str(i)
        ),
    }
    for name, fn in shapes.items():
        doc = {
            "doc_id": "m",
            "spans": [
                {"kind": "para", "text": fn(i), "media_ref": None, "offset": i * 7}
                for i in range(20_000)
            ],
        }
        t0 = time.perf_counter()
        process_document(doc)
        assert time.perf_counter() - t0 < 30, name
