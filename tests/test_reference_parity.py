"""Byte-level differential test: Python oracle vs the reference's own code.

``tests/golden/reference_golden.json`` is produced by
``tools/gen_reference_golden.mjs``, which runs the reference's actual
detection.ts/redaction.ts (type-stripped) over the 18 mock-resume fixtures
(/root/reference/test-data/mock-resumes/*.txt) plus 21 synthetic probes.
Here the pure-Python oracle must reproduce every detection (id, type,
category, value, source, confidence, order) and both masked outputs
byte-for-byte.  Each fixture case's ``text`` is the repo's verbatim copy of
the reference fixture; tests read fixtures from it, never from the reference
checkout.
"""

import json
from pathlib import Path

import pytest

from sumi_agent_spark.functions.oracle import apply_redaction, detect_all

GOLDEN = json.loads(
    (Path(__file__).parent / "golden" / "reference_golden.json").read_text())


@pytest.mark.parametrize(
    "case", GOLDEN["cases"], ids=[c["name"] for c in GOLDEN["cases"]])
def test_reference_parity(case):
    year = GOLDEN["current_year"]
    dets = detect_all(case["text"], current_year=year)
    got = [
        {"id": d.id, "type": d.type, "category": d.category, "value": d.value,
         "source": d.source, "confidence": d.confidence}
        for d in dets
    ]
    assert got == case["detections"]

    masked = apply_redaction(case["text"], dets, keep_prefecture=True)
    assert masked == case["masked_keep_pref"]

    masked_init = apply_redaction(
        case["text"], dets, keep_prefecture=True, name_initial=True)
    assert masked_init == case["masked_name_initial"]


# ── RTF strip parity: executed reference parseRTF chain vs the Python port ──

RTF_GOLDEN = json.loads(
    (Path(__file__).parent / "golden" / "rtf_golden.json").read_text())


@pytest.mark.parametrize(
    "case", RTF_GOLDEN["cases"], ids=[c["name"] for c in RTF_GOLDEN["cases"]])
def test_rtf_strip_reference_parity(case):
    """strip_rtf_text must reproduce the reference's parseRTF replace-chain
    (executed verbatim from RedactPro.tsx by gen_reference_golden.mjs)
    byte-for-byte on hex escapes, \\uNNNN (incl. ToUint16 wrap), nested
    header groups, control-word forms, and brace/newline handling."""
    from sumi_agent_spark.sources.ingest import strip_rtf_text

    assert strip_rtf_text(case["rtf"]) == case["stripped"], case["name"]
