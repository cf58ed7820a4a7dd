"""Byte-equality of the Python kernel against the C reference goldens.

The goldens (tests/goldens/goldens.json) were minted by running the
reference binaries over all 93 of their own fixtures in document mode
(ASCII dump + HTML serialization + parse-error count) and 413 fragment
context cases — the reference corpus as golden rows (SURVEY.md §5).
"""

import os

import pytest

from html_parser_spark.kernel import encoding as enc
from html_parser_spark.kernel.api import parse_document, parse_fragment
from html_parser_spark.kernel.tokenizer import replace_nulls
from html_parser_spark.kernel.treebuilder import build_document
from html_parser_spark.kernel.tree import serialize_html


def _load(refbuild, case):
    if case.get("input_b64"):  # synthetic case: bytes embedded in json
        import base64

        return base64.b64decode(case["input_b64"])
    with open(os.path.join(refbuild, case["file"]), "rb") as f:
        return f.read()


def _cases(golden_cases, mode):
    return [c for c in golden_cases if c["mode"] == mode]


def _serialize(raw):
    """serialize_demo's path: IRRELEVANT confidence, no encoding."""
    sr = enc.sniff_and_convert(raw, None)
    doc, _, _ = build_document(replace_nulls(sr.text), None,
                               enc.CONF_IRRELEVANT)
    return serialize_html(doc)


def test_document_dumps(refbuild, golden_cases):
    fails = []
    for case in _cases(golden_cases, "document"):
        raw = _load(refbuild, case)
        res = parse_document(raw)
        if res.dump() != case["dump"]:
            fails.append(case["case"])
    assert not fails, f"dump mismatches: {fails}"


def test_document_serialization(refbuild, golden_cases):
    fails = []
    for case in _cases(golden_cases, "document"):
        if case["serialized"] is None:
            continue
        if _serialize(_load(refbuild, case)) != case["serialized"]:
            fails.append(case["case"])
    assert not fails, f"serialize mismatches: {fails}"


def test_document_error_texts(refbuild, golden_cases):
    """Full parse-error TEXT parity (S5/T15): every stderr line the
    reference emits with HTMLPARSER_PARSE_ERRORS=1 — tokenizer lines
    as 'line=N col=M: msg' (stale across raw-text scans exactly like
    the C, whose line/col only advance inside advance()), tree-builder
    and charref lines as the bare msg — in chronological order."""
    fails = []
    for case in _cases(golden_cases, "document"):
        raw = _load(refbuild, case)
        res = parse_document(raw)
        if res.errors != case["errors"]:
            fails.append((case["case"], case["errors"], res.errors))
    assert not fails, f"error-text mismatches: {fails[:3]}"


def test_fragment_dumps(refbuild, golden_cases):
    fails = []
    for case in _cases(golden_cases, "fragment"):
        raw = _load(refbuild, case)
        res = parse_fragment(raw, case["context"])
        if res.dump() != case["dump"]:
            fails.append(case["case"])
    assert not fails, f"fragment dump mismatches: {fails}"


def test_fragment_error_texts(refbuild, golden_cases):
    fails = []
    for case in _cases(golden_cases, "fragment"):
        raw = _load(refbuild, case)
        res = parse_fragment(raw, case["context"])
        if res.errors != case["errors"]:
            fails.append((case["case"], case["errors"], res.errors))
    assert not fails, f"fragment error-text mismatches: {fails[:3]}"


def test_embedded_goldens(golden_cases):
    """The cases that embed their input bytes need no reference tree:
    dump, serialization, error count and error texts all match."""
    cases = [c for c in golden_cases if c.get("input_b64")]
    assert len(cases) >= 18
    fails = []
    for case in cases:
        raw = _load(None, case)
        res = parse_document(raw)
        if (res.dump() != case["dump"]
                or _serialize(raw) != case["serialized"]
                or res.error_count != case["error_count"]
                or res.errors != case["errors"]):
            fails.append(case["case"])
    assert not fails, f"embedded golden mismatches: {fails}"


@pytest.mark.parametrize("count", [1])
def test_goldens_present(golden_cases, count):
    docs = len(_cases(golden_cases, "document"))
    frags = len(_cases(golden_cases, "fragment"))
    assert docs >= 90 and frags >= 400
