"""Unified document front door (`operators/documents.py`) + the dx1
driver row (`plans/document_queries.py`) replayed against its
authoring-time oracle — the same pytest twin wc1/wc2 carry."""

from __future__ import annotations

import pytest

from data_pipeline_project_using_telegram_and_aws_spark.operators.documents import (
    extract_document,
    sniff_document,
)
from data_pipeline_project_using_telegram_and_aws_spark.plans.document_queries import (
    ORACLE,
    _fixture_docx,
    _fixture_epub,
    _fixture_pdf,
    dx1_document_extract,
)


class TestDispatch:
    def test_sniff_routes_all_formats(self):
        assert sniff_document(_fixture_pdf()) == "pdf"
        assert sniff_document(_fixture_docx()) == "docx"
        assert sniff_document(_fixture_epub()) == "epub"
        assert sniff_document(b"\\documentclass{article} x") == "tex"
        # binary with an embedded marker is NOT tex (NUL guard)
        assert sniff_document(b"\x00\\usepackage junk") == "unknown"
        assert sniff_document(b"\x89PNG\r\n") == "unknown"
        assert sniff_document(b"") == "unknown"

    def test_tex_rides_text_as_markup(self):
        got = extract_document(b"\\begin{document}Hi\\end{document}")
        assert got["format"] == "tex"
        assert got["is_markup"] is True
        assert "\\begin{document}" in got["text"]  # raw source

    def test_pdf_row_shape(self):
        got = extract_document(_fixture_pdf())
        assert got["format"] == "pdf"
        assert got["n_units"] == 2
        assert got["n_unmapped"] == 0
        assert got["is_markup"] is False
        assert got["title"] == "Fixture PDF"
        assert got["creator"] == "Ada"
        assert "Drip brewing, page one." in got["text"]
        assert "Café pricing: €3." in got["text"]

    def test_epub_is_markup(self):
        got = extract_document(_fixture_epub())
        assert got["is_markup"] is True
        assert "<p>" in got["text"]
        assert got["language"] == "en"

    def test_unsupported_raises(self):
        with pytest.raises(ValueError, match="unsupported container"):
            extract_document(b"\x89PNG not a container")

    def test_fixtures_are_deterministic(self):
        # the driver row depends on byte-stable fixtures across calls
        assert _fixture_pdf() == _fixture_pdf()
        assert _fixture_docx() == _fixture_docx()
        assert _fixture_epub() == _fixture_epub()


def test_dx1_matches_retired_oracle(spark, sf_dir):
    """The dx1 driver row replayed against its VALUES oracle — the
    exact rows the driver hash-checks, kept red-on-break in pytest
    too (markup resolution, quarantine routing, metadata)."""
    import duckdb

    got = [tuple(r) for r in dx1_document_extract(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in duckdb.connect()
        .execute(ORACLE["dx1_document_extract"]).fetchall()
    ]
    assert got == want


def test_subtitles_ride_the_dispatcher(spark):
    """Round-11 sixth pass: srt/vtt route like tex — raw source in
    `text`, JVM cue parser resolves in document_plain_text. The other
    formats ride the same distributed path: PDF metadata and text, EPUB
    markup resolved to visible text, and unopenable containers as error
    rows quoting the extractor."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.documents import (
        document_plain_text,
        extract_documents,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.plans.document_queries import (
        _SRT_SOURCE,
        _VTT_SOURCE,
    )

    df = spark.createDataFrame(
        [(1, bytearray(_SRT_SOURCE.encode())),
         (2, bytearray(_VTT_SOURCE.encode())),
         (3, bytearray(_fixture_pdf())),
         (4, bytearray(_fixture_epub())),
         (5, bytearray(b"GIF89a not a document")),
         (6, bytearray(_fixture_epub(encrypted=True)))],
        "doc_id long, doc binary")
    out = {r.doc_id: r for r in
           document_plain_text(extract_documents(df)).collect()}
    assert out[1].format == "srt" and out[1].n_units == 2
    assert out[1].plain_text == "Hello from cue one.\nCue two styled."
    assert out[2].format == "vtt" and out[2].n_units == 1
    assert out[2].plain_text == "Ada: Welcome back"
    assert out[3].title == "Fixture PDF" and out[3].n_units == 2
    assert "Drip brewing, page one." in out[3].plain_text
    assert out[4].format == "epub" and out[4].language == "en"
    assert "Chapter one" in out[4].plain_text
    assert "<p>" not in out[4].plain_text
    assert "unsupported container" in out[5].error
    assert "encrypted epub" in out[6].error


def test_fuzz_axis20_mutated_containers_quarantine_promptly(spark):
    """Fuzz axis 20: random truncations/byte-flips/splices of every
    fixture format through the REAL distributed front door — each
    mutation must land as a row (text or error), never hang or fail
    the batch. |in| == |out| conservation under adversarial bytes."""
    import random

    from data_pipeline_project_using_telegram_and_aws_spark.operators.documents import (
        document_plain_text,
        extract_documents,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.plans.document_queries import (
        _SRT_SOURCE,
        _TEX_SOURCE,
        _VTT_SOURCE,
    )

    bases = [
        _fixture_pdf(), _fixture_docx(), _fixture_epub(),
        _TEX_SOURCE.encode(), _SRT_SOURCE.encode(),
        _VTT_SOURCE.encode(),
        (br"{\rtf1{\fonttbl{\f0 X;}} body \par}"),
    ]
    rng = random.Random(20)
    rows = []
    doc_id = 0
    for base in bases:
        for trial in range(12):
            raw = bytearray(base)
            kind = trial % 3
            if kind == 0 and len(raw) > 2:
                raw = raw[:rng.randrange(1, len(raw))]
            elif kind == 1:
                for _ in range(rng.randrange(1, 5)):
                    raw[rng.randrange(len(raw))] = rng.randrange(256)
            else:
                i = rng.randrange(len(raw))
                j = rng.randrange(len(raw))
                raw[i:i + 12] = raw[j:j + 12]
            rows.append((doc_id, bytearray(raw)))
            doc_id += 1
    df = spark.createDataFrame(rows, "doc_id long, doc binary")
    out = document_plain_text(extract_documents(df)).collect()
    assert len(out) == len(rows)  # conservation, no batch failure
    for r in out:
        assert r.error is not None or r.plain_text is not None


class TestSecondReviewRegressions:
    """Round-11 second self-review findings over the dispatcher."""

    def test_bom_does_not_defeat_subtitle_sniff(self):
        bom = b"\xef\xbb\xbf"
        assert sniff_document(bom + b"WEBVTT\n\n") == "vtt"
        assert sniff_document(
            bom + b"1\r\n00:00:01,000 --> x") == "srt"
        got = extract_document(bom + b"WEBVTT\n\n")
        assert got["format"] == "vtt"
        assert not got["text"].startswith("﻿")

    def test_n_units_counts_timing_lines_not_arrows(self):
        src = ("WEBVTT\n\n"
               "NOTE mentions 00:00:09.000 --> 00:00:10.000 in prose\n\n"
               "00:01.000 --> 00:02.000\nHi\n")
        got = extract_document(src.encode())
        assert got["n_units"] == 1  # the NOTE's arrow doesn't count

    def test_srt_sniff_accepts_three_digit_hours(self):
        assert sniff_document(
            b"1\n100:00:00,000 --> 100:00:01,000\nx\n") == "srt"
