"""Byte guard for the golden spec: one sha256 over the JSON of
``golden`` outputs on fixed inputs.

``json.dumps`` runs without ``sort_keys``, so dict key order counts —
in particular ``block_class_hist``'s first-occurrence order. The
constant was computed before any engine refactor; a change that moves
it changes what the pipeline emits. The executed-reference parity
module (tests/test_reference_parity.py) needs the reference checkout
and skips without it; this test carries the same guarantee anywhere.
"""

from __future__ import annotations

import hashlib
import json

from smartglass_ocr_spark.corpus import generate_docs
from smartglass_ocr_spark.golden import golden_outputs, process_document, process_span

GOLDEN_DIGEST = "75a6f3fa7ea38779a1785b37c52049605c97a02b4c1861742ee2c63dbb3111e7"

# the hand-written edge inputs of tests/test_rules.py and tests/test_format.py
ADVERSARIAL = [
    "4l2", "4I2", "1O0", "2S3", "7Z1", "9B9", "l2",
    "fooBar", "abc123", "123abc", "end.Begin",
    "a  b   c", "a\n\n\n\nb", "exam-\nple", "* item", "- item", "-item",
    "a,,b", "a''b", "a`b", "a\U0001F600b",
    "ofthe", "tbe", "frorntbe", "rnay I borrow", "scathe",
    "SUBTOTAI 12.50\nTOTAI 13.75\nCASI-I",
    "ITEMS\ncoffee 2 x 4.5\nTOTAL 9.00",
    "ITEMS\ncoffee 2 4.50\nTOTAL 9.00",
    "NIK 1234 5678 9012 3456", "nama Budi Santoso", "lahir 1/2/95", "lahir 1/2/1995",
    "first name Alex\ngender [x] M [ ] F",
    "Name|Qty\nfoo|2", "a\tb\nc\td",
    "short",
    "the cat is on the mat and they will have more time for all of this",
    "saya akan pergi dengan mereka karena sudah telah ada yang baru dan untuk kita",
    "lorem ipsum dolor sit amet consectetur adipiscing elit",
    "\n".join(f"• item {i}" for i in range(7)),
    "\n".join("a b |c d |" for _ in range(7)),
    "tiny",
    ("word " * 30 + "\n\n") * 3,
    "short text.",
    " ".join(
        f"Sentence number {i} talks about the important result of data." for i in range(30)
    ),
    "You must act now. Nothing else here. The weather is plain today.",
    "One plain sentence. Another plain thing. Final words here.",
    "<div>" + "".join(f"<a href='/{i}'>link {i}</a>" for i in range(6)) + "</div>",
    "<p>" + "This is a long paragraph of real readable content. " * 5 + "</p>",
    "<p>A &amp; B</p><script>var x=1;</script>",
    "hi", "word " * 40, "plenty of text here", "abc",
    "MART STORE\nDATE: 12/3/2024\nITEMS\ncoffee 2 4.50\nbread 2.25\nTOTAL 9.00\nCASH",
    "email: user@example.com\nphone 555-1234",
    "Name | Qty\nfoo | 2\nbar | 3",
    "Project Alpha: launch ready\nNote: ---",
    "TOTAI 9.99\n", "ofthe  thing", "",
    "Narna Budi dalarn rnasa l<arena bal1wa", "NIK : 123456789012345",
    "NIK 123456789012345678", "tgl 5.6.03 x", "on 13/13/99 x",
    "AGAMA ISLAM\nPEKERJAAN Guru", "ALAMAT: Jl. Kenanga \\jakarta\nNIK 1",
    "John Smith visited Acme Corp on 1/2/2021. NASA agreed.",
    "  a \n\n  b  \n",
    "line one\nline two\n\nsecond para\nstill second\n\n\nthird",
    "INTRO\nthis is body text.\nmore body.\nNEXT SECTION\nother.",
    "The quick brown fox.\nlower line.",
    "* first item\ncontinued here\n- second\n1. third\n\nplain",
    "Name|Qty\nfoo | 2\nbar|3",
    "Name      Qty   Price\nitem1     2     3.50\nitem2     1     9.99",
    "just a sentence here.",
    "Name: Alice\nCity   Springfield\nplain line",
    "\n".join(["short col line"] * 12),
    "this is a long enough line that is not short at all, well over limit\n" * 4,
    "intro text\nE = mc^2\nafter text\nmore after",
    "a\nb\n\nc", "mail me user@example.com today okay.",
    "\n".join(f"- item {i} text" for i in range(8)),
    "HEADER ONE\n\nbody text here.\n\nHEADER TWO\n\nmore body.\n\nHEADER THREE\n\nend.",
    "short note",
    "MegaMart\n123 Main St\nITEM\napple 1.00\nbread 2.50\nSUBTOTAL 3.50\nTOTAL 3.50\nTHANK YOU\n",
    "SEX M\nNAME: Jane Roe\nID NUMBER 12345\nADDRESS: 1 Elm St",
    "a|b\n1|2", "a\n\n\n\nb", "x\n\n\n\ny",
    "a\n\nb\tc\r d\\e  f", "  padded  ",
]

KINDS = (
    "para", "heading", "list", "html", "pdf_line", "table", "form",
    "receipt", "id_card", "scientific", "image",
)


def _payload() -> list:
    single_span_docs = [
        {
            "doc_id": f"adv-{i}-{kind}",
            "spans": [{"kind": kind, "text": text, "media_ref": None, "offset": 0}],
        }
        for i, text in enumerate(ADVERSARIAL)
        for kind in KINDS
    ]
    return [
        golden_outputs(generate_docs(300, seed=23, scramble=True)),
        golden_outputs(generate_docs(8, seed=5, mega_doc_spans=3000)),
        [process_span(kind, text) for text in ADVERSARIAL for kind in KINDS],
        [process_document(d) for d in single_span_docs],
    ]


def test_golden_outputs_digest():
    digest = hashlib.sha256(json.dumps(_payload()).encode()).hexdigest()
    assert digest == GOLDEN_DIGEST
